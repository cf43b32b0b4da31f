"""Record-transform operator library (SURVEY.md §2.1/§2.2).

Each reference Beam ``DoFn`` becomes a composable ``DataFrame -> DataFrame``
function with the same config signature (lists of tuples), implemented as
native ``pyspark.sql.functions`` expressions so the whole chain stays inside
whole-stage codegen — no Python in the hot path. The handful of genuinely
ragged operations (lenient datetime parsing) use Arrow-batched Pandas UDFs.

Parity citations point into /root/reference (semantics, not code):
dataflow_utils.py for the shared library; per-pipeline files where noted.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd  # noqa: TC002 - needed at runtime for pandas_udf type hints

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_rivers_spark.functions.text import camel_to_snake_case

# ---------------------------------------------------------------------------
# Column-name operators
# ---------------------------------------------------------------------------


def columns_camel_to_snake_case(df: DataFrame, strip_field: str = "") -> DataFrame:
    """Rename all columns camelCase→snake_case (dataflow_utils.py:208-217)."""
    return df.toDF(*[camel_to_snake_case(c, strip_field) for c in df.columns])


def columns_to_lower_case(df: DataFrame) -> DataFrame:
    """Lowercase all column names (dataflow_utils.py:220-223)."""
    return df.toDF(*[c.lower() for c in df.columns])


def swap_field_names(df: DataFrame, name_changes: list[tuple[str, str]]) -> DataFrame:
    """Rename fields; a missing source yields a NULL new field
    (dataflow_utils.py:704-722)."""
    out = df
    for old, new in name_changes:
        if old in out.columns:
            out = out.withColumnRenamed(old, new)
        else:
            out = out.withColumn(new, F.lit(None).cast("string"))
    return out


def filter_fields(
    df: DataFrame, target_fields: Iterable[str], exclude_target_fields: bool = True
) -> DataFrame:
    """Drop listed fields, or keep only them (dataflow_utils.py:384-395)."""
    targets = list(target_fields)
    if exclude_target_fields:
        return df.drop(*[c for c in targets if c in df.columns])
    return df.select(*[c for c in targets if c in df.columns])


# ---------------------------------------------------------------------------
# Type-cast operators
# ---------------------------------------------------------------------------

_POSINT_MAX = 2147483647


def _cast_one(col: Column, kind: str, src_dtype: str) -> Column:
    """try_cast semantics of ChangeDataTypes (dataflow_utils.py:158-205):
    failed casts → NULL, NaN → NULL, posint range-guarded, nullstr maps '' → NULL.

    Python ``int('31.1')`` raises (→ NULL) while ``int(31.1)`` truncates, so
    string sources use strict try_cast and numeric sources truncate."""
    is_string_src = src_dtype == "string"
    is_float_src = src_dtype in ("double", "float")
    nan_guard = F.isnan(col) if is_float_src else F.lit(False)
    if kind == "float":
        c = col.try_cast("double")
        return F.when(nan_guard | F.isnan(F.coalesce(c, F.lit(0.0))), F.lit(None)).otherwise(c)
    if kind == "int":
        c = col.try_cast("long") if is_string_src else col.cast("double").cast("long")
        return F.when(nan_guard, F.lit(None)).otherwise(c)
    if kind == "posint":
        c = col.try_cast("long") if is_string_src else col.cast("double").cast("long")
        return F.when(nan_guard | (c < 0) | (c > _POSINT_MAX), F.lit(None)).otherwise(c)
    if kind == "str":
        return F.when(nan_guard, F.lit(None)).otherwise(col.cast("string"))
    if kind == "nullstr":
        return F.when(nan_guard, F.lit(None)).otherwise(F.nullif(col.cast("string"), F.lit("")))
    if kind == "bool":
        s = F.lower(col.cast("string"))
        return (
            F.when(s == "true", F.lit(True))
            .when(s == "false", F.lit(False))
            .otherwise(col.try_cast("boolean"))
        )
    raise ValueError(f"unknown type kind: {kind}")


def change_data_types(df: DataFrame, type_changes: list[tuple[str, str]]) -> DataFrame:
    """Per-field cast with failed-cast→NULL ladder (dataflow_utils.py:158-205)."""
    dtypes = dict(df.dtypes)
    out = df
    for field, kind in type_changes:
        out = out.withColumn(field, _cast_one(F.col(field), kind, dtypes[field]))
    return out


_DEFAULT_TRUE = ["yes", "y", "t", "true", "1", "positive"]
_DEFAULT_FALSE = ["no", "n", "f", "false", "0", "negative"]


def convert_booleans(
    df: DataFrame,
    bool_changes: list[tuple[str, str, str, object]],
    include_defaults: bool = True,
) -> DataFrame:
    """Map custom true/false token sets to bool; missing/empty → per-field
    default (dataflow_utils.py:226-263)."""
    out = df
    for field, t_val, f_val, default in bool_changes:
        if include_defaults:
            t_vals = _DEFAULT_TRUE + [str(t_val).lower()]
            f_vals = _DEFAULT_FALSE + [str(f_val).lower()]
        else:
            t_vals = [str(t_val).lower()]
            f_vals = [str(f_val).lower()]
        s = F.lower(F.col(field).cast("string"))
        missing = F.col(field).isNull() | (s == "")
        out = out.withColumn(
            field,
            F.when(missing, F.lit(default))
            .when(s.isin(t_vals), F.lit(True))
            .when(s.isin(f_vals), F.lit(False))
            .otherwise(F.col(field).try_cast("boolean")),
        )
    return out


def convert_string_case(df: DataFrame, str_changes: list[tuple[str, str]]) -> DataFrame:
    """Per-field upper/lower/title/capitalize (dataflow_utils.py:300-323)."""
    out = df
    for field, mode in str_changes:
        col = F.col(field)
        if mode == "upper":
            expr = F.upper(col)
        elif mode == "lower":
            expr = F.lower(col)
        elif mode == "title":
            expr = F.initcap(col)
        elif mode == "capitalize":
            expr = F.concat(F.upper(F.substring(col, 1, 1)), F.lower(F.expr(f"substring({field}, 2)")))
        else:
            raise ValueError(f"unknown case mode: {mode}")
        out = out.withColumn(field, F.when(col.isNull(), col).otherwise(expr))
    return out


# ---------------------------------------------------------------------------
# String-shaping operators
# ---------------------------------------------------------------------------


def strip_strings(df: DataFrame, fields: list[str]) -> DataFrame:
    """Trim whitespace on listed fields (dataflow_utils.py:688-701)."""
    out = df
    for field in fields:
        out = out.withColumn(field, F.trim(F.col(field)))
    return out


def strip_before_delim(
    df: DataFrame, strip_fields: list[str], delims: list[str], before_or_after: list[int]
) -> DataFrame:
    """Split on delimiter, keep side 0/1; missing side → NULL
    (dataflow_utils.py:663-685)."""
    out = df
    for field, delim, side in zip(strip_fields, delims, before_or_after):
        parts = F.split(F.col(field), F.lit(delim), -1)
        kept = F.when(F.size(parts) > side, parts.getItem(side))
        out = out.withColumn(
            field, F.when(F.col(field).isNull() | (F.col(field) == ""), F.col(field)).otherwise(kept)
        )
    return out


def prepend_characters(
    df: DataFrame, input_field: str, length: int, char: str = "0", check_numeric: bool = False
) -> DataFrame:
    """Left-pad to fixed length; optionally only if all-numeric
    (dataflow_utils.py:525-545)."""
    col = F.col(input_field).cast("string")
    padded = F.lpad(col, length, char)
    skip_sentinels = col.isin("nan", "None", "null")
    if check_numeric:
        cond = col.rlike("^[0-9]+$") & ~skip_sentinels
    else:
        cond = ~skip_sentinels
    # shorter-than-length only; lpad also truncates, which the reference never does
    cond = cond & (F.length(col) < length)
    return df.withColumn(
        input_field, F.when(col.isNull() | (col == ""), col).otherwise(F.when(cond, padded).otherwise(col))
    )


def replace_chars(df: DataFrame, field_changes: list[tuple[str, str, str]]) -> DataFrame:
    """Character substitution in listed fields (intime_assignments_dataflow.py:23-40)."""
    out = df
    for field, old, new in field_changes:
        out = out.withColumn(field, F.regexp_replace(F.col(field), old, new))
    return out


def reformat_phone_numbers(df: DataFrame, field: str) -> DataFrame:
    """Normalize to ``+C (AAA) XXX-XXXX`` NANP format (dataflow_utils.py:548-567):
    strip non-digits; >10 digits → leading digits become country code, else +1."""
    digits = F.regexp_replace(F.col(field).cast("string"), r"[^0-9]", "")
    last10 = F.substring(digits, -10, 10)
    cc = F.when(
        F.length(digits) > 10,
        F.concat(F.lit("+"), digits.substr(F.lit(1), F.length(digits) - 10)),
    ).otherwise(F.lit("+1"))
    formatted = F.concat(
        cc,
        F.lit(" ("),
        F.substring(last10, 1, 3),
        F.lit(") "),
        F.substring(last10, 4, 3),
        F.lit("-"),
        F.substring(last10, 7, 4),
    )
    return df.withColumn(field, F.when(F.col(field).isNull(), F.col(field)).otherwise(formatted))


# ---------------------------------------------------------------------------
# Value-guard operators
# ---------------------------------------------------------------------------


def filter_outliers(df: DataFrame, outlier_check: list[tuple[str, float, float]]) -> DataFrame:
    """Value outside [min,max] → NULL (dataflow_utils.py:364-381)."""
    out = df
    for field, lo, hi in outlier_check:
        out = out.withColumn(field, F.when(F.col(field).between(lo, hi), F.col(field)))
    return out


# ---------------------------------------------------------------------------
# Anonymization operators
# ---------------------------------------------------------------------------


def anonymize_address_block(df: DataFrame, anon_vals: list[tuple[str, int]]) -> DataFrame:
    """Round leading house number down to a block of ``accuracy`` and mask the
    trailing zeros with 'X', writing ``anon_*`` (dataflow_utils.py:78-115).

    '123 Main St' @100 → '1XX Main St' (123//100*100=100 → '1' + '00'→'XX')."""
    out = df
    for field, accuracy in anon_vals:
        new_field = field.replace("pii_", "anon_")
        addr = F.col(field)
        block = F.regexp_extract(addr, r"^([0-9]*)", 1)
        num_zeros = str(accuracy).count("0")
        anon_num = ((block.try_cast("long") / accuracy).cast("long") * accuracy).cast("string")
        # head = all but last num_zeros chars; tail = last num_zeros chars with 0→X
        head = anon_num.substr(F.lit(1), F.greatest(F.length(anon_num) - num_zeros, F.lit(0)))
        tail = F.translate(
            anon_num.substr(F.length(anon_num) - num_zeros + 1, F.lit(num_zeros)), "0", "X"
        )
        masked = F.concat(head, tail)
        rebuilt = F.concat(masked, F.regexp_replace(addr, r"^[0-9]*", ""))
        out = out.withColumn(
            new_field,
            F.when(addr.isNull() | (addr == ""), F.lit(None).cast("string"))
            .when(block == "", addr)
            .otherwise(rebuilt),
        )
    return out


# meter accuracy → decimal places (http://wiki.gis.com/wiki/index.php/Decimal_degrees,
# same lookup as dataflow_utils.py:125-136)
_ACCURACY_DECIMALS = [
    ((5000, 14999), 1),
    ((500, 4999), 2),
    ((50, 499), 3),
    ((5, 49), 4),
    ((0, 4), 5),
]


def _accuracy_to_decimals(accuracy: int) -> int:
    for (lo, hi), dec in _ACCURACY_DECIMALS:
        if lo <= accuracy <= hi:
            return dec
    raise ValueError(f"accuracy {accuracy} outside supported ranges")


def anonymize_lat_long(df: DataFrame, anon_vals: list[tuple[str, str, int]]) -> DataFrame:
    """Round lat/long to meter-accuracy decimals; originals stringified,
    anon_* written as strings (dataflow_utils.py:118-155)."""
    out = df
    for lat_field, long_field, accuracy in anon_vals:
        dec = _accuracy_to_decimals(accuracy)
        for field in (lat_field, long_field):
            anon_field = field.replace("pii_", "anon_")
            col = F.col(field)
            missing = col.isNull() | (col.try_cast("double") == 0.0) | (col.cast("string") == "")
            out = out.withColumn(
                anon_field,
                F.when(missing, F.lit(None).cast("string")).otherwise(
                    F.format_number(F.round(col.try_cast("double"), dec), dec).cast("string")
                ),
            ).withColumn(
                field,
                F.when(missing, F.lit(None).cast("string")).otherwise(col.cast("string")),
            )
    return out


# ---------------------------------------------------------------------------
# Time operators
# ---------------------------------------------------------------------------

EASTERN_TZ = "America/New_York"


def _tz_offset_string(local_ts: Column, utc_ts: Column) -> Column:
    """Format the UTC offset of local_ts (derived by comparing epoch shifts)
    as '-0400'-style suffix."""
    offset_sec = local_ts.cast("long") - utc_ts.cast("long")
    hours = F.abs(offset_sec) / 3600
    sign = F.when(offset_sec < 0, F.lit("-")).otherwise(F.lit("+"))
    return F.concat(sign, F.lpad(hours.cast("long").cast("string"), 2, "0"), F.lit("00"))


def _lenient_parse_udf(tz_name: str, t_format: str):
    """Arrow-batched dateutil parse matching the reference's parser.parse +
    replace(tzinfo=None) + localize chain, for formats no fixed pattern covers
    ('Fri July 19 03:21:55 UTC 2019'). Returns struct(utc, est, unix)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    py_fmt = (
        t_format.replace("MM", "%m")
        .replace("dd", "%d")
        .replace("yyyy", "%Y")
        .replace("HH", "%H")
        .replace("mm", "%M")
        .replace("ss", "%S")
        .replace("Z", "%z")
    )

    schema = T.StructType(
        [
            T.StructField("utc", T.StringType()),
            T.StructField("est", T.StringType()),
            T.StructField("unix", T.LongType()),
        ]
    )

    @pandas_udf(schema)
    def parse(batch: pd.Series) -> pd.DataFrame:
        from zoneinfo import ZoneInfo

        from dateutil import parser as du_parser

        src_tz = ZoneInfo(tz_name)
        east = ZoneInfo(EASTERN_TZ)
        utc = ZoneInfo("UTC")
        out = {"utc": [], "est": [], "unix": []}
        for raw in batch:
            if raw is None or raw == "":
                out["utc"].append(None)
                out["est"].append(None)
                out["unix"].append(None)
                continue
            try:
                dt = du_parser.parse(str(raw)).replace(tzinfo=None).replace(tzinfo=src_tz)
                out["utc"].append(dt.astimezone(utc).strftime(py_fmt))
                out["est"].append(dt.astimezone(east).strftime(py_fmt))
                out["unix"].append(int(dt.timestamp()))
            except (ValueError, OverflowError):
                out["utc"].append(None)
                out["est"].append(None)
                out["unix"].append(None)
        return pd.DataFrame(out)

    return parse


def standardize_times(
    df: DataFrame,
    time_changes: list[tuple[str, str]],
    t_format: str = "MM/dd/yyyy HH:mm:ssZ",
    lenient: bool = False,
) -> DataFrame:
    """Parse a datetime string, localize to the declared source timezone, and
    emit the ``{f}_UTC`` / ``{f}_EST`` / ``{f}_UNIX`` triplet
    (dataflow_utils.py:619-660).

    Any tz info inside the string itself is discarded — the declared zone wins,
    matching the reference's ``parse_dt.replace(tzinfo=None)`` then localize
    behavior (pinned by test_dataflow_utils.py:334-356).

    ``lenient=True`` switches to an Arrow-batched dateutil parse for ragged
    formats the fixed patterns can't cover — slower (Python path) but exactly
    the reference's parser. Keep the default for production-scale columns.
    """
    if lenient:
        out = df
        for field, tz_name in time_changes:
            parse = _lenient_parse_udf(tz_name, t_format)
            tmp = f"__trip_{field}"
            out = (
                out.withColumn(tmp, parse(F.col(field).cast("string")))
                .withColumn(f"{field}_UTC", F.col(tmp)["utc"])
                .withColumn(f"{field}_EST", F.col(tmp)["est"])
                .withColumn(f"{field}_UNIX", F.col(tmp)["unix"])
                .drop(tmp)
            )
        return out
    out = df
    for field, tz_name in time_changes:
        raw = F.col(field).cast("string")
        # strip an ISO/offset suffix so the declared source tz wins, then parse
        naive = F.regexp_replace(
            F.regexp_replace(raw, r"(Z|[+-][0-9]{2}:?[0-9]{2})\s*$", ""),
            r"\s+$",
            "",
        )
        parsed = F.coalesce(
            F.try_to_timestamp(naive),
            F.try_to_timestamp(naive, F.lit("MM/dd/yyyy HH:mm:ss")),
            F.try_to_timestamp(naive, F.lit("MM/dd/yyyy H:mm")),
            F.try_to_timestamp(naive, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSS")),
            F.try_to_timestamp(naive, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
            F.try_to_timestamp(F.regexp_replace(naive, r"\.[0-9]+$", "")),
        )
        utc_ts = F.to_utc_timestamp(parsed, tz_name)
        east_local = F.from_utc_timestamp(utc_ts, EASTERN_TZ)
        src_fmt = t_format.replace("Z", "")
        empty = raw.isNull() | (raw == "")
        out = (
            out.withColumn(
                f"{field}_UTC",
                F.when(empty, F.lit(None).cast("string")).otherwise(
                    F.concat(F.date_format(utc_ts, src_fmt), F.lit("+0000"))
                ),
            )
            .withColumn(
                f"{field}_EST",
                F.when(empty, F.lit(None).cast("string")).otherwise(
                    F.concat(
                        F.date_format(east_local, src_fmt),
                        _tz_offset_string(east_local, utc_ts),
                    )
                ),
            )
            .withColumn(
                f"{field}_UNIX",
                F.when(empty, F.lit(None).cast("long")).otherwise(utc_ts.cast("long")),
            )
        )
    return out


def get_date_strings_from_unix(
    df: DataFrame, date_conversions: list[tuple[str, str, str]]
) -> DataFrame:
    """Unix seconds → UTC string + US/Eastern string, ``str(datetime)`` style
    ('YYYY-MM-DD HH:MM:SS+zz:zz', dataflow_utils.py:398-412 + :884-894)."""
    out = df
    for src, utc_name, east_name in date_conversions:
        ts = F.to_timestamp(F.from_unixtime(F.col(src).try_cast("long")))
        east = F.from_utc_timestamp(ts, EASTERN_TZ)
        offset_sec = east.cast("long") - ts.cast("long")
        off_h = F.lpad((F.abs(offset_sec) / 3600).cast("long").cast("string"), 2, "0")
        sign = F.when(offset_sec < 0, F.lit("-")).otherwise(F.lit("+"))
        out = out.withColumn(
            utc_name, F.concat(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"), F.lit("+00:00"))
        ).withColumn(
            east_name,
            F.concat(F.date_format(east, "yyyy-MM-dd HH:mm:ss"), sign, off_h, F.lit(":00")),
        )
    return out


# ---------------------------------------------------------------------------
# Nested-structure operators
# ---------------------------------------------------------------------------


def extract_field(
    df: DataFrame,
    source_fields: list[str],
    nested_fields: list[str],
    new_field_names: list[str],
    additional_nested_fields: list[str] | None = None,
) -> DataFrame:
    """Hoist nested struct values to top-level fields (dataflow_utils.py:326-341).

    ``source.nested`` or ``source.nested.extra``; missing path → NULL."""
    additional = additional_nested_fields or [""] * len(source_fields)
    out = df
    for src, nested, new_name, extra in zip(
        source_fields, nested_fields, new_field_names, additional
    ):
        path = f"{src}.{nested}" + (f".{extra}" if extra else "")
        out = out.withColumn(new_name, F.col(path))
    return out


def extract_field_with_complexity(
    df: DataFrame,
    source_field: str,
    key_field: str,
    key_value: str,
    value_field: str,
    new_field_name: str,
) -> DataFrame:
    """Search an array-of-structs for the element whose ``key_field`` equals
    ``key_value`` and hoist its ``value_field`` (dataflow_utils.py:344-361;
    the Cherwell fields[] pattern, cherwell_incidents_dataflow.py:39-75)."""
    matched = F.filter(F.col(source_field), lambda x: x[key_field] == F.lit(key_value))
    return df.withColumn(
        new_field_name,
        F.when(F.size(matched) > 0, F.element_at(matched, 1)[value_field]),
    )


def unnest_two_level(
    df: DataFrame, outer: str, inner: str, fields: list[str], prefix: str = ""
) -> DataFrame:
    """Flatten 2-level nested xref structs; missing → NULL
    (computronix_pli_permits_wprdc_dataflow.py:24-49)."""
    out = df
    for f_name in fields:
        out = out.withColumn(f"{prefix}{f_name.lower()}", F.col(f"{outer}.{inner}.{f_name}"))
    return out


# ---------------------------------------------------------------------------
# Geography string operator
# ---------------------------------------------------------------------------


def convert_geography(df: DataFrame, geo_field: str, geo_type: str = "") -> DataFrame:
    """Parse ``[{lat: y, lng: x}, ...]`` text into WKT
    LINESTRING(x y, ...)/POLYGON((x y, ...)) (dataflow_utils.py:266-297)."""
    raw = F.col(geo_field)
    inner = F.regexp_extract(raw, r"\[\{(.*)\}\]", 1)
    pairs = F.split(inner, r"\}, \{")
    coords = F.transform(
        pairs,
        lambda p: F.concat_ws(
            " ",
            F.trim(F.split(F.split(p, ",\\s*lng:").getItem(1), ":").getItem(0)),
            F.trim(F.split(F.split(p, ",\\s*lng:").getItem(0), "lat:").getItem(1)),
        ),
    )
    body = F.concat_ws(", ", coords)
    if geo_type:
        if "POLYGON" in geo_type:
            wkt = F.concat(F.lit(f"{geo_type}(("), body, F.lit("))"))
        else:
            wkt = F.concat(F.lit(f"{geo_type}("), body, F.lit(")"))
    else:
        wkt = body
    return df.withColumn(geo_field, F.when(raw.isNull() | (raw == ""), F.lit(None)).otherwise(wkt))


# ---------------------------------------------------------------------------
# Address classification
# ---------------------------------------------------------------------------


def format_and_classify_address(
    df: DataFrame, loc_field_names: dict[str, str], contains_pii: bool
) -> DataFrame:
    """Concat street_num/street/cross_street/city into a single-line address and
    classify ``address_type`` ∈ {Precise, Intersection, Underspecified,
    Coordinates Only, Missing} (dataflow_utils.py:415-448, :962-1000).

    Missing lat/long are coerced to 0.0 first, exactly like the reference."""
    num = F.col(loc_field_names["street_num_field"])
    name = F.col(loc_field_names["street_name_field"])
    cross = F.col(loc_field_names["cross_street_field"])
    city = F.col(loc_field_names["city_field"])
    lat_f = loc_field_names["lat_field"]
    long_f = loc_field_names["long_field"]
    input_name = "pii_input_address" if contains_pii else "input_address"

    lat = F.coalesce(F.col(lat_f).try_cast("double"), F.lit(0.0))
    lng = F.coalesce(F.col(long_f).try_cast("double"), F.lit(0.0))

    has_name = name.isNotNull() & (name != "")
    num_str = F.coalesce(num.cast("string"), F.lit("None"))
    numeric_num = num.cast("string").rlike("^[0-9]+$")
    empty_num = num.isNull() | (num.cast("string") == "")
    has_cross = cross.isNotNull() & (cross != "")

    std_address = F.concat_ws("", num_str, F.lit(" "), name, F.lit(", "), city)
    intersection_address = F.concat_ws("", name, F.lit(" and "), cross, F.lit(", "), city)

    address_type = (
        F.when(has_name & numeric_num, F.lit("Precise"))
        .when(has_name & empty_num & has_cross, F.lit("Intersection"))
        .when(has_name, F.lit("Underspecified"))
        .when((lat != 0.0) & (lng != 0.0), F.lit("Coordinates Only"))
        .otherwise(F.lit("Missing"))
    )
    address = (
        F.when(has_name & empty_num & has_cross, intersection_address)
        .when(has_name, std_address)
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        df.withColumn(lat_f, lat)
        .withColumn(long_f, lng)
        .withColumn(input_name, address)
        .withColumn("address_type", address_type)
    )


# ---------------------------------------------------------------------------
# Crosswalk lookup
# ---------------------------------------------------------------------------


def get_vals_from_crosswalk(
    df: DataFrame, crosswalk: dict[str, str], source_field: str, update_field: str
) -> DataFrame:
    """Map source_field through a small dict into update_field; unmatched keeps
    the source value (dataflow_utils.py:451-479). Implemented as a literal map
    (constant-folded) — for big crosswalks use a broadcast join instead."""
    pairs = [x for kv in crosswalk.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    mapping = F.create_map(*pairs) if pairs else F.create_map()
    looked = mapping[F.col(source_field)]
    return df.withColumn(update_field, F.coalesce(looked, F.col(source_field)))


def crosswalk_join(
    df: DataFrame, crosswalk_df: DataFrame, source_field: str, update_field: str
) -> DataFrame:
    """Broadcast-join flavor of the crosswalk lookup: crosswalk_df has columns
    (key, value). Scales to arbitrarily large fact sides; the dim is broadcast."""
    cw = F.broadcast(crosswalk_df.select(F.col("key"), F.col("value").alias("__cw_value")))
    joined = df.join(cw, df[source_field] == cw.key, "left")
    return joined.withColumn(
        update_field, F.coalesce(F.col("__cw_value"), F.col(source_field))
    ).drop("key", "__cw_value")


# ---------------------------------------------------------------------------
# PII redaction (hermetic default for the DLP-backed ReplacePII)
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"(\+?1[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"


def replace_pii(
    df: DataFrame,
    input_field: str,
    new_field_name: str,
    info_types: list[str] | None = None,
) -> DataFrame:
    """Hermetic regex redaction standing in for the Google DLP call
    (dataflow_utils.py:570-594; offline fallback modeled on the reference's own
    regex filter, gcs_utils.py:403-410). Each detected span becomes its
    bracketed info-type token, e.g. '[EMAIL_ADDRESS]'."""
    info_types = info_types or ["EMAIL_ADDRESS", "PHONE_NUMBER", "US_SOCIAL_SECURITY_NUMBER"]
    col = F.col(input_field).cast("string")
    if "EMAIL_ADDRESS" in info_types:
        col = F.regexp_replace(col, _EMAIL_RE, "[EMAIL_ADDRESS]")
    if "US_SOCIAL_SECURITY_NUMBER" in info_types:
        col = F.regexp_replace(col, _SSN_RE, "[US_SOCIAL_SECURITY_NUMBER]")
    if "PHONE_NUMBER" in info_types:
        col = F.regexp_replace(col, _PHONE_RE, "[PHONE_NUMBER]")
    return df.withColumn(new_field_name, col)


# ---------------------------------------------------------------------------
# Parcel-number standardization
# ---------------------------------------------------------------------------

# 16-char county parcel format: component lengths, letter-permission, required
# (dataflow_utils.py:34-38)
_PARC_LENS = [4, 1, 5, 4, 2]
_PARC_ALPHA = [False, True, False, True, True]
_PARC_DEFAULTS = ["", "", "", "0000", "00"]
_PARC_STARTS = [1, 5, 6, 11, 15]


def standardize_parcel_numbers(df: DataFrame, parc_field: str) -> DataFrame:
    """Canonicalize parcel IDs to the county 16-char format — dehyphenate,
    zero-pad the 5 components, validate (dataflow_utils.py:597-616 +
    standardize_parc_num :1335-1456). Pure Catalyst expressions: the
    variable-hyphen split maps onto element_at over a split array.

    Invalid inputs → 'invalid input'; NULL input → 'invalid_input' (the
    reference's two distinct sentinel spellings are preserved)."""
    raw = F.upper(F.trim(F.col(parc_field).cast("string")))
    bad_chars = raw.rlike("[^A-Z0-9-]")
    hyphenated = raw.contains("-")
    parts_arr = F.split(raw, "-")
    too_many = F.size(parts_arr) > 5

    def comp(i: int) -> Column:
        """Component i: from hyphen-split (padded) or fixed slice of a 16-char string."""
        from_hyphen = F.when(F.size(parts_arr) > i, parts_arr.getItem(i)).otherwise(
            F.lit(_PARC_DEFAULTS[i])
        )
        from_fixed = F.substring(raw, _PARC_STARTS[i], _PARC_LENS[i])
        c = F.when(hyphenated, from_hyphen).otherwise(from_fixed)
        return c

    comps = [comp(i) for i in range(5)]
    # validity: no letters in non-alpha components; no over-length components
    invalid = bad_chars | (hyphenated & too_many)
    for i, c in enumerate(comps):
        if not _PARC_ALPHA[i]:
            invalid = invalid | c.rlike("[A-Z]")
        invalid = invalid | (F.length(c) > _PARC_LENS[i])
    invalid = invalid | (~hyphenated & (F.length(raw) != 16))

    out16 = F.concat(*[F.lpad(c, _PARC_LENS[i], "0") for i, c in enumerate(comps)])
    # final guard: 16 chars and >2 distinct characters (blocks junk like 0000A00000000000)
    distinct_chars = F.size(F.array_distinct(F.split(out16, "")))
    good = (F.length(out16) == 16) & (distinct_chars > 2)

    return df.withColumn(
        parc_field,
        F.when(F.col(parc_field).isNull(), F.lit("invalid_input"))
        .when(invalid | ~good, F.lit("invalid input"))
        .otherwise(out16),
    )


# ---------------------------------------------------------------------------
# Script-local operators (SURVEY.md §2.2)
# ---------------------------------------------------------------------------

QALERT_STATUS_MAP = {0: "open", 1: "closed", 3: "in progress", 4: "on hold"}


def decode_status(df: DataFrame, code_field: str = "status_code", name_field: str = "status_name") -> DataFrame:
    """311 status code → name (qalert_requests_dataflow.py:31-43)."""
    mapping = F.create_map(
        *[x for kv in QALERT_STATUS_MAP.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    return df.withColumn(name_field, mapping[F.col(code_field).try_cast("int")])


def get_closed_date(df: DataFrame, status_field: str = "status_name") -> DataFrame:
    """Closed tickets copy the last-action triplet into closed_date_*; open
    tickets get NULLs (qalert_requests_dataflow.py:46-54)."""
    closed = F.col(status_field) == "closed"
    return (
        df.withColumn("closed_date_est", F.when(closed, F.col("last_action_est")))
        .withColumn("closed_date_utc", F.when(closed, F.col("last_action_utc")))
        .withColumn("closed_date_unix", F.when(closed, F.col("last_action_unix")))
    )


def detect_child_ticket(df: DataFrame, parent_field: str = "parent_ticket_id") -> DataFrame:
    """child_ticket = parent id != 0 (qalert_requests_dataflow.py:57-63)."""
    return df.withColumn("child_ticket", F.col(parent_field).cast("string") != "0")


def standardize_ethnicity_names(df: DataFrame, field: str) -> DataFrame:
    """Trim ' (...)' suffix; NULL → 'Decline to Answer'
    (ceridian_employees_dataflow.py:23-29)."""
    trimmed = F.trim(F.split(F.col(field), r" \(").getItem(0))
    return df.withColumn(field, F.coalesce(trimmed, F.lit("Decline to Answer")))


def deduplicate(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Whole-record (or keyed) dedup (ceridian_job_codes_dataflow.py:24-43).

    Scale notes: dropDuplicates is a shuffle on the full row hash; prefer a
    keyed subset when a business key exists so the shuffle key is narrow."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def identify_active_permits(
    df: DataFrame,
    from_field: str,
    to_field: str,
    flag_field: str = "active",
    now_unix: int | None = None,
) -> DataFrame:
    """active=1 iff now ∈ [from_UNIX, to_UNIX]
    (computronix_gis_street_closures_dataflow.py:66-79). ``now_unix``
    injects the evaluation instant for reproducible runs/oracles;
    production leaves it None (wall clock, the reference's behavior)."""
    now = (
        F.lit(now_unix).cast("long")
        if now_unix is not None
        else F.unix_timestamp(F.current_timestamp())
    )
    return df.withColumn(
        flag_field,
        F.when(now.between(F.col(from_field), F.col(to_field)), F.lit(1)).otherwise(F.lit(0)),
    )


AD_ENABLED_CODES = [512, 544, 66048, 262656]  # active userAccountControl values
AD_DISABLED_CODES = [514, 546, 66050, 66082, 262658]


def account_code_conversion(df: DataFrame, code_field: str, out_field: str = "enabled") -> DataFrame:
    """AD userAccountControl code → enabled bool (active_directory_users_dataflow.py:23-40)."""
    return df.withColumn(
        out_field,
        F.when(F.col(code_field).try_cast("long").isin(AD_ENABLED_CODES), F.lit(True))
        .when(F.col(code_field).try_cast("long").isin(AD_DISABLED_CODES), F.lit(False))
        .otherwise(F.lit(None).cast("boolean")),
    )


# ---------------------------------------------------------------------------
# Pandas-layer operators (SURVEY.md §2.4) with distinct semantics
# ---------------------------------------------------------------------------


def fill_leading_zeroes(df: DataFrame, field: str, length: int) -> DataFrame:
    """zfill when the value is all-numeric, else NULL
    (pandas_utils.py:109-112 — note: unlike PrependCharacters, non-numeric
    values are nulled, not passed through)."""
    col = F.col(field).cast("string")
    return df.withColumn(
        field, F.when(col.rlike("^[0-9]+$"), F.lpad(col, length, "0"))
    )


def swap_two_columns(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Swap the positions of two columns (pandas_utils.py:242-247)."""
    cols = list(df.columns)
    ia, ib = cols.index(col_a), cols.index(col_b)
    cols[ia], cols[ib] = cols[ib], cols[ia]
    return df.select(*cols)


def set_col_b_based_on_col_a_val(
    df: DataFrame, col_a: str, col_b: str, match_val, new_val
) -> DataFrame:
    """Conditional assignment: b = new_val where a == match_val
    (pandas_utils.py:183-190)."""
    return df.withColumn(
        col_b, F.when(F.col(col_a) == F.lit(match_val), F.lit(new_val)).otherwise(F.col(col_b))
    )


def extract_middle_initial(
    df: DataFrame, name_field: str, out_field: str = "middle_initial"
) -> DataFrame:
    """Parse 'Last, First M' → middle initial; missing → NULL
    (ceridian_new_hires_etl.py:29-47)."""
    mi = F.regexp_extract(F.col(name_field), r",\s*\S+\s+([A-Za-z])\.?\s*$", 1)
    return df.withColumn(out_field, F.nullif(mi, F.lit("")))
