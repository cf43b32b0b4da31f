"""Managed mutable-table layer over immutable Parquet.

The reference mutates BigQuery tables in place (INSERT/UPDATE/DELETE/MERGE —
SURVEY.md §1.4); Spark tables are files. This catalog provides the same
verbs as read → pure transform (operators.relational) → atomic swap:
a new version directory is written, then a pointer file is atomically
renamed onto it. Readers always see a complete version; concurrent readers
of the old version are unaffected (the old dir is retained for
``keep_versions``).

Scale notes: the generic verbs rewrite the whole table — exactly what the
reference's DELETE+INSERT pattern does logically. For large partitioned
tables use the partition-scoped verbs instead: ``overwrite_partitions``
rewrites only the partitions present in the batch and hard-links every
untouched partition's files from the previous version into the new one, so
a daily merge into a 100 TB table costs O(touched partitions) of IO while
keeping the atomic version-swap contract (readers still see either the old
complete version or the new complete version, never a mix). Swap this
backend for Delta/Iceberg when available; the verb surface is the same.
"""

from __future__ import annotations

import functools
import json
import operator as op
import os
import shutil
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_rivers_spark.operators import relational as R


class ManagedCatalog:
    """Directory-backed table catalog: {root}/{table}/v{n}/ + {table}/_current."""

    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 2):
        self.spark = spark
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(root, exist_ok=True)

    # -- version plumbing ---------------------------------------------------

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_current")

    def _current_version(self, name: str) -> int | None:
        try:
            with open(self._pointer(name)) as f:
                return json.load(f)["version"]
        except (OSError, ValueError, KeyError):
            return None

    def _data_dir(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"v{version}")

    def exists(self, name: str) -> bool:
        return self._current_version(name) is not None

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root) if os.path.exists(self._pointer(d))
        )

    # -- verbs --------------------------------------------------------------

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current version, or time-travel to a retained older one
        (versions survive ``keep_versions`` mutations back)."""
        v = version if version is not None else self._current_version(name)
        if v is None:
            raise FileNotFoundError(f"managed table not found: {name}")
        path = self._data_dir(name, v)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"version v{v} of {name} not retained")
        return self.spark.read.parquet(path)

    def versions(self, name: str) -> list[int]:
        tdir = self._tdir(name)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(tdir) if d.startswith("v") and d[1:].isdigit()
        )

    def create_or_replace(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """WRITE_TRUNCATE semantics (landing tables, qalert_airflow.py:96-107)."""
        old = self._current_version(name)
        new = (old or 0) + 1
        os.makedirs(self._tdir(name), exist_ok=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        path = self._data_dir(name, new)
        writer.parquet(path)
        self._swap_pointer(name, new)

    def _gc(self, name: str, current: int) -> None:
        tdir = self._tdir(name)
        for d in os.listdir(tdir):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= current - self.keep_versions:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)

    def insert_into(self, name: str, df: DataFrame) -> None:
        """INSERT append. Materializes old ∪ new into a fresh version (atomic,
        unlike parquet append-in-place which readers could see half-written)."""
        self.create_or_replace(self.read(name).unionByName(df), name)

    def insert_new_records(self, name: str, incoming: DataFrame, key: str | list[str]) -> None:
        """INSERT … WHERE key NOT IN master (general_queries.py:87-98)."""
        self.create_or_replace(R.insert_new_records(self.read(name), incoming, key), name)

    def merge_upsert(
        self,
        name: str,
        incoming: DataFrame,
        key: str | list[str],
        update_cols: list[str],
        order_cols: list[str],
    ) -> None:
        """The generic incremental merge (SURVEY §3.2): insert_new +
        sync_update with a window-deduped source."""
        self.create_or_replace(
            R.incremental_merge(self.read(name), incoming, key, update_cols, order_cols), name
        )

    def delete_where(self, name: str, condition) -> None:
        """DELETE WHERE cond → keep ¬cond (general_queries.py:165-169)."""
        self.create_or_replace(self.read(name).filter(~condition), name)

    # -- partition-scoped verbs (the O(touched-partitions) path) ------------

    def _swap_pointer(self, name: str, new: int) -> None:
        tmp = self._pointer(name) + f".tmp.{time.time_ns()}"
        with open(tmp, "w") as f:
            json.dump({"version": new, "updated_ns": time.time_ns()}, f)
        os.replace(tmp, self._pointer(name))  # atomic pointer swap
        self._gc(name, new)

    def overwrite_partitions(
        self, name: str, df: DataFrame, partition_by: list[str]
    ) -> None:
        """Dynamic-partition-overwrite with version isolation: write ONLY the
        partitions present in ``df`` into the new version directory, then
        hard-link every other partition's data files from the current
        version. Untouched partitions cost one inode link each — no read, no
        shuffle, no rewrite — so the verb is O(batch), not O(table), while
        readers keep the all-or-nothing version swap.

        Equivalent to ``spark.sql.sources.partitionOverwriteMode=dynamic``
        on a shared table dir, which mutates in place and exposes readers to
        a partially-updated table; the link step buys the same economy
        without giving up snapshot isolation (links fall back to copies on
        filesystems without hard links)."""
        old = self._current_version(name)
        if old is None:
            self.create_or_replace(df, name, partition_by=partition_by)
            return
        new = old + 1
        new_dir = self._data_dir(name, new)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(new_dir)
        old_dir = self._data_dir(name, old)
        for root, _dirs, files in os.walk(old_dir):
            rel = os.path.relpath(root, old_dir)
            if rel == ".":
                continue  # root-level marker files (_SUCCESS) belong to the write
            leaf = os.path.join(new_dir, rel)
            if os.path.isdir(leaf):
                continue  # partition rewritten by this batch
            data_files = [f for f in files if not f.startswith(("_", "."))]
            if not data_files:
                continue
            os.makedirs(leaf, exist_ok=True)
            for f in data_files:
                src, dst = os.path.join(root, f), os.path.join(leaf, f)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
        self._swap_pointer(name, new)

    def merge_upsert_partitioned(
        self,
        name: str,
        incoming: DataFrame,
        key: str | list[str],
        update_cols: list[str],
        order_cols: list[str],
        partition_by: list[str],
    ) -> None:
        """Incremental merge that touches only the partitions the batch lands
        in: collect the batch's (small) set of partition values, read just
        those partitions from the master (directory pruning — the scan never
        lists the other 99.9%), merge, and overwrite_partitions the result.

        Requires rows to stay in their partition (true for the reference's
        date/source-partitioned masters: a ticket's creation date never
        changes). A key that migrates partitions would duplicate across the
        old and new partition — the same contract BigQuery partition-scoped
        MERGE imposes.

        ``incoming`` is read three times: by the partition-value collect and
        by both sides of the merge. It is pinned for the call, so its
        lineage (read → transform → enrich → dedup upstream) runs once; the
        pinned blocks are released before the call returns. A frame the
        caller already cached is used as it is and left cached."""
        pin = incoming.storageLevel == StorageLevel.NONE
        if pin:
            incoming = incoming.cache()
        try:
            vals = [tuple(r) for r in incoming.select(*partition_by).distinct().collect()]
            if not vals:
                return
            cond = functools.reduce(
                op.or_,
                [
                    functools.reduce(
                        op.and_, [F.col(c) == F.lit(v) for c, v in zip(partition_by, t)]
                    )
                    for t in vals
                ],
            )
            current = self.read(name).filter(cond)
            merged = R.incremental_merge(current, incoming, key, update_cols, order_cols)
            self.overwrite_partitions(name, merged, partition_by)
        finally:
            if pin:
                incoming.unpersist(blocking=True)

    def compact(
        self, name: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> None:
        """Small-file compaction: rewrite the current version with files sized
        for scan efficiency. Streaming appends and per-batch merges accrete
        files far below the parquet sweet spot; a scan of 10⁶ tiny files is
        bottlenecked on open/footer overhead, not bytes. Sizes the rewrite
        from the on-disk byte count (ceil(bytes / target)), preserving
        partitioning is the caller's concern (compact per partition by
        overwrite_partitions of a repartitioned read when partitioned)."""
        v = self._current_version(name)
        if v is None:
            raise FileNotFoundError(f"managed table not found: {name}")
        path = self._data_dir(name, v)
        total = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", "."))
        )
        n_files = max(1, -(-total // target_file_bytes))
        self.create_or_replace(self.read(name).repartition(n_files), name)

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def drop_table_group(self, prefix: str) -> None:
        """DROP TABLE loop over LIKE-matched names
        (transform_enrich_requests.py:71-85)."""
        for t in self.list_tables():
            if t.startswith(prefix):
                self.drop_table(t)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) metastore table.

    The 100 TB lever for repeated co-located joins/aggregations: two tables
    bucketed by the same key into the same bucket count join with NO exchange
    on either side (and no sort, if sort_cols match) — the shuffle is paid
    once at write time instead of per query. This is the Spark analogue of
    the reference keeping BigQuery tables clustered by key."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist parquet range-clustered on ``cluster_cols``: rows are
    range-repartitioned so each output file covers a DISJOINT key range,
    then sorted within files so row groups are tight too.

    This is the data-skipping lever for scan-heavy keys (time ranges, id
    ranges): parquet stores per-file and per-row-group min/max for the
    cluster columns, so a reader's ``WHERE ts BETWEEN …`` prunes whole
    files before any IO — the poor-man's Z-order, exactly right for a
    single dominant filter dimension at 100 TB (use bucketing instead when
    the goal is co-located JOINS rather than range pruning)."""
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(num_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def table_diff(
    catalog: "ManagedCatalog",
    name: str,
    key: str | list[str],
    v_old: int | None = None,
    v_new: int | None = None,
) -> DataFrame:
    """Change-data-feed between two retained versions of a managed table:
    one row per changed key with ``change_type`` ∈ insert | delete | update and
    the NEW row's columns (the OLD row's for deletes) — the version-diff a
    downstream incremental consumer reads instead of re-scanning the table
    (Delta CDF / BigQuery appends-diff shape; the reference approximates
    this with build_sync_staging/ceridian_diff comparisons on live tables).

    Defaults: v_old = previous retained version, v_new = current.

    Scale: one full outer join on the key (the only shuffle) plus an
    xxhash64 over the non-key columns' JSON on each side for the update
    test — 8-byte row comparison instead of N column equality checks, and
    column-order-stable because struct(*) fixes the field order from the
    schema. Keys present in both versions with equal hashes produce no row."""
    vs = catalog.versions(name)
    if v_new is None:
        v_new = catalog._current_version(name)
    if v_old is None:
        older = [v for v in vs if v < (v_new if v_new is not None else 0)]
        if not older:
            raise ValueError(f"no older retained version of {name} to diff against")
        v_old = older[-1]
    keys = [key] if isinstance(key, str) else list(key)
    old, new = catalog.read(name, v_old), catalog.read(name, v_new)
    val_cols = [c for c in new.columns if c not in keys]
    # schema evolution: hash-compare only columns present in BOTH versions
    # (a column added in v_new doesn't mark every old row 'update'); output
    # columns follow v_new, with old rows null-filling new-only columns
    shared = [c for c in val_cols if c in old.columns]
    rowhash = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in shared])))
    o = old.select(
        *keys,
        rowhash.alias("__ho"),
        F.struct(
            *[
                (
                    F.col(c)
                    if c in old.columns
                    else F.lit(None).cast(new.schema[c].dataType)
                ).alias(c)
                for c in val_cols
            ]
        ).alias("__vo"),
    )
    n = new.select(*keys, rowhash.alias("__hn"), F.struct(*val_cols).alias("__vn"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__ho").isNull(), F.lit("insert"))
        .when(F.col("__hn").isNull(), F.lit("delete"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("update"))
    )
    picked = F.when(F.col("__hn").isNull(), F.col("__vo")).otherwise(F.col("__vn"))
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("change_type", *keys, *[picked[c].alias(c) for c in val_cols])
    )


def morton_code(x, y, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative integer expressions
    into a Z-order (Morton) key: bit i of x lands at position 2i, bit i of y
    at 2i+1, so Z-order locality follows BOTH dimensions at once.

    Pure codegen expression tree (2*bits shift/mask/or terms, no UDF);
    callers quantize floats/timestamps to ints first (e.g. epoch-minutes,
    fixed-point coordinates). Values are masked to ``bits`` so out-of-range
    inputs degrade to their low bits instead of scrambling the ordering."""
    xb = F.col(x) if isinstance(x, str) else x
    yb = F.col(y) if isinstance(y, str) else y
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(yb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist parquet Z-order-clustered on two integer dimensions: rows are
    range-partitioned on their Morton key and sorted by it within files, so
    each file covers a compact rectangle-ish region of (x, y) space and
    parquet's per-file min/max on BOTH columns stays tight — a filter on
    EITHER dimension prunes ~sqrt of the files a single-column clustering
    would (range clustering makes one dimension tight and leaves the other
    spanning the full domain in every file).

    This is the Delta/Iceberg OPTIMIZE ZORDER BY move with plain Spark
    writes; use write_range_clustered when queries only ever filter one key."""
    z = morton_code(x_col, y_col, bits).alias("__z")
    (
        df.select("*", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
