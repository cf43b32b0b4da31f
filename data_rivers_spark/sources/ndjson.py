"""Lenient ndjson reader with JsonCoder-style repair (SURVEY.md §2.5).

The reference repairs three glitch classes before decoding
(dataflow_utils.py:41-75 JsonCoder; gcs_utils.py:949-974 json_linter):
1. ``}{`` — two objects concatenated on one line → split into lines
2. ``":,"`` — a missing value → ``: null,``
3. ``\\'`` / ``\\"`` — spurious escapes → unescaped

Spark-first shape: read as text, repair with native string expressions,
split multi-object lines with explode, then from_json with the declared
schema; rows that still fail land in a quarantine column (the reference's
'slag bucket' dead-letter posture, gcs_utils.py:209-246) instead of killing
the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def repair_ndjson_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """Apply the three JsonCoder repairs; one output row per JSON object."""
    c = F.col(col)
    # 2) ":," and ":}" missing values → null
    c = F.regexp_replace(c, r":\s*,", ": null,")
    # 3) spurious escaped quotes
    c = F.regexp_replace(c, r"\\'", "'")
    # 1) "}{" concatenated objects → newline-delimited, then explode
    c = F.regexp_replace(c, r"\}\{", "}\n{")
    return (
        df.withColumn("__fixed", c)
        .select(F.explode(F.split(F.col("__fixed"), "\n")).alias(col))
        .filter(F.trim(F.col(col)) != "")
    )


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    quarantine_col: str = "_corrupt_record",
) -> DataFrame:
    """Read ndjson with repair + declared schema (never inference in
    production paths — SURVEY §1.2). Unparseable rows keep their raw text in
    ``quarantine_col`` with NULL fields; use ``split_quarantine`` to route
    them to a dead-letter table."""
    raw = spark.read.text(path)
    fixed = repair_ndjson_lines(raw)
    # PERMISSIVE from_json yields all-NULL fields for junk, so corrupt rows are
    # flagged via an explicit corrupt-record field inside the parse schema
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField("__bad", T.StringType())]
    )
    parsed = fixed.select(
        F.from_json(
            F.col("value"), parse_schema, {"columnNameOfCorruptRecord": "__bad"}
        ).alias("__row"),
        F.col("value"),
    )
    cols = [F.col(f"__row.{f.name}").alias(f.name) for f in schema.fields]
    return parsed.select(
        *cols,
        F.when(F.col("__row.__bad").isNotNull() | F.col("__row").isNull(), F.col("value")).alias(
            quarantine_col
        ),
    )


def split_quarantine(
    df: DataFrame, quarantine_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_the_column, bad_raw_lines)."""
    clean = df.filter(F.col(quarantine_col).isNull()).drop(quarantine_col)
    bad = df.filter(F.col(quarantine_col).isNotNull()).select(quarantine_col)
    return clean, bad
