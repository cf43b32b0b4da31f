"""The three benchmark workloads.

Each workload generates its inputs from the seed (``prepare``, untimed),
runs one op per call (``op``, timed by the runner), and checks that op's
outputs (``check``, untimed). An op calls only public entry points of the
program. With a tracer, the op's layer boundaries become spans; without one,
the same calls run bare.

- ``civic_daily``: one op lands one hourly ndjson batch of QAlert 311
  records: read_ndjson -> split_quarantine -> qalert_transform_chain ->
  revgeo_multi_zone (8 timebound zone tables) -> relational.dedup_latest ->
  ManagedCatalog.merge_upsert_partitioned into a day-partitioned master.
- ``warehouse_read``: one op is one pass over 13 oracled read-only queries.
- ``curation``: one op is one pass over the three heaviest curation queries.
"""

from __future__ import annotations

import os
import statistics

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from check_oracle import value_hash

from bench import _release_new_rdds
from data_rivers_spark.catalog.tables import ManagedCatalog
from data_rivers_spark.operators import geo as G
from data_rivers_spark.operators import relational as R
from data_rivers_spark.plans import registry
from data_rivers_spark.plans.pipelines import qalert_transform_chain
from data_rivers_spark.sources import ndjson as N

WAREHOUSE_MIX = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q06_forecast_revenue", "q09_product_profit", "q14_promo_revenue",
    "q18_large_volume_customer", "q_funnel", "q_retention_cohorts",
    "q_value_histogram", "q_top_k_types", "q_child_rollup", "q_dedup_latest",
]
# q_curation_select_mix alone loads textstats, dedup, importance and
# sampling; q_incremental_dedup_grouped (its DuckDB oracle alone costs ~5 s)
# and q_quality_classifier_train (~7 s a pass) do not fit the run budget
CURATION_MIX = ["q_curation_select_mix"]
# tables each warehouse query reads; their row counts make the op's input size
_WAREHOUSE_READS = {
    "q01_pricing_summary": ["lineitem"],
    "q03_shipping_priority": ["customer", "orders", "lineitem"],
    "q05_local_supplier_volume": ["customer", "orders", "lineitem", "supplier",
                                  "nation", "region"],
    "q06_forecast_revenue": ["lineitem"],
    "q09_product_profit": ["lineitem", "part", "supplier", "orders", "nation"],
    "q14_promo_revenue": ["lineitem", "part"],
    "q18_large_volume_customer": ["customer", "orders", "lineitem"],
    "q_funnel": ["events"],
    "q_retention_cohorts": ["events"],
    "q_value_histogram": ["events"],
    "q_top_k_types": ["lineitem", "part"],
    "q_child_rollup": ["lineitem"],
    "q_dedup_latest": ["orders"],
}

RAW_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("master", T.LongType()),
    T.StructField("addDateUnix", T.LongType()),
    T.StructField("lastActionUnix", T.LongType()),
    T.StructField("status", T.LongType()),
    T.StructField("streetNum", T.StringType()),
    T.StructField("streetName", T.StringType()),
    T.StructField("crossStreetName", T.StringType()),
    T.StructField("cityName", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("comments", T.StringType()),
    T.StructField("typeId", T.LongType()),
    T.StructField("typeName", T.StringType()),
])
MASTER = "qalert_master"
# per-layer metrics a workload measures outside the spans (0 where it bypasses
# the layer): name -> unit
EXTRA_METRICS = {
    "sources.quarantined_frac": "ratio",
    "catalog.bytes_written_mb": "MB",
    "catalog.bytes_linked_mb": "MB",
    "catalog.files_written": "count",
    "catalog.partitions_touched": "count",
    "catalog.stored_bytes_per_input_byte": "ratio",
}
_CHECK_COLS = ["ticket_id", "status_name", "last_action_unix", "parent_ticket_id",
               "create_date_day", *gen.ZONE_GRIDS]


def _call(tracer, layer, name, thunk, materialize=True):
    if tracer is None:
        return thunk()
    return tracer.call(layer, name, thunk, materialize=materialize)


def _digest(cols, rows) -> tuple:
    return len(rows), sorted(cols), value_hash(list(cols), rows)


class _QueryMix:
    """A pass over registered queries; outputs are hash-checked against the
    DuckDB oracle of each query on the same generated tables."""

    mix: list[str] = []
    exhausted = False

    def __init__(self, spark, workdir: str, seed: int, size: float):
        self.spark = spark
        self.sf_dir = os.path.join(workdir, "tables")
        self.seed = seed
        self.size = size
        self.expected: dict[str, tuple] = {}
        self.records_per_op = 0

    def _oracles(self) -> None:
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                name = f.removesuffix(".parquet")
                path = os.path.join(self.sf_dir, f)
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for q in self.mix:
                res = con.execute(registry.ORACLES[q])
                self.expected[q] = _digest([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def op(self, tracer=None) -> dict:
        out = {}
        for q in self.mix:
            df = _call(tracer, "plans", q,
                       lambda q=q: registry.QUERIES[q](self.spark, self.sf_dir),
                       materialize=False)
            rows = _call(tracer, "sink", q, lambda df=df: [tuple(r) for r in df.collect()],
                         materialize=False)
            out[q] = (df.columns, rows)
            # bench.py's discipline: drop blocks the query localCheckpointed,
            # so later queries do not pay for earlier queries' heap
            _release_new_rdds(self.spark, set())
        return out

    def check(self, out: dict) -> list[str]:
        return [q for q, (cols, rows) in out.items() if _digest(cols, rows) != self.expected[q]]

    def layer_metrics(self) -> dict[str, float]:
        return {}


class WarehouseRead(_QueryMix):
    mix = WAREHOUSE_MIX

    def prepare(self) -> None:
        rows = gen.warehouse(self.sf_dir, self.seed, self.size)
        self.records_per_op = sum(rows[t] for q in self.mix for t in _WAREHOUSE_READS[q])
        self.input_desc = f"{self.records_per_op} table rows read per pass ({rows})"
        self._oracles()


class Curation(_QueryMix):
    mix = CURATION_MIX

    def prepare(self) -> None:
        n = gen.documents(self.sf_dir, self.seed, int(self.size))
        self.records_per_op = n * len(self.mix)
        self.input_desc = f"{n} documents, read once by each of {', '.join(self.mix)}"
        self._oracles()


class CivicDaily:
    """Hourly landing batches merged into a day-partitioned master table
    (the workload keeps the name the benchmark was specified with)."""

    # backfill + hourly batches: a traced run lands the backfill and 3 hours
    n_batches = 4

    def __init__(self, spark, workdir: str, seed: int, size: float):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.batch_size = int(size)
        self.next = 0
        self.catalog_stats: list[dict] = []
        self.quarantined: list[tuple[int, int]] = []

    def prepare(self) -> None:
        self.inputs = gen.civic(os.path.join(self.workdir, "landing"), self.seed,
                                self.n_batches, self.batch_size)
        self.records_per_op = self.batch_size  # of a warm op
        b = self.inputs.batches
        self.input_desc = (f"backfill {b[0].n_lines} lines / {b[0].n_bytes} ndjson bytes "
                           f"over {gen.HISTORY_DAYS} days, then ~{self.batch_size}-record "
                           f"hourly batches of {b[1].n_bytes} bytes")
        self.catalog = ManagedCatalog(self.spark, os.path.join(self.workdir, "catalog"))
        schema = "zone string, geometry string, start_date timestamp, end_date timestamp"
        self.zones = {z: self.spark.createDataFrame(gen.zone_rows(z), schema)
                      for z in gen.ZONE_GRIDS}

    @property
    def exhausted(self) -> bool:
        return self.next >= len(self.inputs.batches)

    def op(self, tracer=None) -> list[tuple[int, int]]:
        """Land the next hourly batch. The first op first lands the backfill
        (which creates the master), so every op ends with an hourly merge.
        Returns (batch index, quarantined lines) per batch landed."""
        landed = []
        while not landed or landed[-1][0] == 0:
            i = self.next
            self.next += 1
            landed.append((i, self._land(self.inputs.batches[i], tracer)))
        return landed

    def _land(self, b, tracer) -> int:
        # the sources, transforms, geo and relational modules are wrapped by
        # the tracer at module level, so their calls need no explicit span
        raw = N.read_ndjson(self.spark, b.path, RAW_SCHEMA)
        clean, bad = N.split_quarantine(raw)
        n_bad = _call(tracer, "sources", "dead_letter_count", bad.count, materialize=False)
        chain = _call(tracer, "plans", "qalert_transform_chain",
                      lambda: qalert_transform_chain(clean))
        points = (
            chain.withColumn("create_date_ts", F.timestamp_seconds("create_date_unix"))
            .withColumn("x", F.col("longitude").cast("double"))
            .withColumn("y", F.col("latitude").cast("double"))
            .withColumn("create_date_day", F.substring("create_date_utc", 1, 10))
        )
        enriched = G.revgeo_multi_zone(points, self.zones, "x", "y", "create_date_ts")
        latest = R.dedup_latest(enriched, ["ticket_id"], ["last_action_unix"])
        if self.catalog.exists(MASTER):
            _call(tracer, "catalog", "merge_upsert_partitioned",
                  lambda: self.catalog.merge_upsert_partitioned(
                      MASTER, latest, "ticket_id",
                      [c for c in latest.columns if c != "ticket_id"],
                      ["last_action_unix"], ["create_date_day"]))
        else:
            _call(tracer, "catalog", "overwrite_partitions",
                  lambda: self.catalog.overwrite_partitions(
                      MASTER, latest, ["create_date_day"]))
        return n_bad

    def check(self, landed: list[tuple[int, int]]) -> list[str]:
        """Untimed: compare the whole master with the generator's ground
        truth (one row per ticket landed so far; the tickets the op touched
        carry their latest version and planted zones); record catalog file
        stats of the op's final merge."""
        self.catalog_stats.append(self._version_stats())
        problems = []
        touched: dict[int, dict] = {}
        for i, n_bad in landed:
            b = self.inputs.batches[i]
            self.quarantined.append((n_bad, b.n_lines))
            if n_bad != b.n_corrupt:
                problems.append(f"batch {i}: quarantined {n_bad} != injected {b.n_corrupt}")
            touched.update(self.inputs.touched[i])
        want = self.inputs.batches[landed[-1][0]].n_tickets_after
        # read the newest version's files in DuckDB: no Spark job, and a
        # reader independent of the program
        files = os.path.join(self._version_dir(self.catalog.versions(MASTER)[-1]),
                             "**", "*.parquet")
        rows = duckdb.sql(f"SELECT {', '.join(_CHECK_COLS)} FROM read_parquet("
                          f"'{files}', hive_partitioning = true)").fetchall()
        by_id = {row[0]: dict(zip(_CHECK_COLS[1:], row[1:])) for row in rows}
        if len(rows) != len(by_id) or len(by_id) != want:
            problems.append(f"master has {len(rows)} rows / {len(by_id)} tickets, want {want}")
        wrong = 0
        for tid, exp in touched.items():
            got = by_id.get(tid)
            if got is not None:
                got["create_date_day"] = str(got["create_date_day"])
            if got != gen.expected_row(exp):
                wrong += 1
        if wrong:
            problems.append(f"{wrong} touched tickets differ from the ground truth")
        return problems

    def layer_metrics(self) -> dict[str, float]:
        """Catalog file stats as means over the ops' hourly merges, and the
        quarantined share of all lines read."""
        out = {f"catalog.{k}": statistics.mean(s[k] for s in self.catalog_stats)
               for k in ("bytes_written_mb", "bytes_linked_mb", "files_written",
                         "partitions_touched")}
        landed = sum(b.n_bytes for b in self.inputs.batches[: self.next])
        out["catalog.stored_bytes_per_input_byte"] = (
            self.catalog_stats[-1]["live_bytes"] / landed)
        bad, lines = map(sum, zip(*self.quarantined))
        out["sources.quarantined_frac"] = bad / lines
        return out

    # -- catalog file accounting ------------------------------------------------

    def _version_dir(self, v: int) -> str:
        # ManagedCatalog layout: {root}/{table}/v{n}/
        return os.path.join(self.catalog.root, MASTER, f"v{v}")

    def _version_stats(self) -> dict:
        """Files of the newest master version, split into written and
        hard-linked (same inode as a file of the previous version)."""
        versions = self.catalog.versions(MASTER)
        new = _data_files(self._version_dir(versions[-1]))
        old = _data_files(self._version_dir(versions[-2])) if len(versions) > 1 else {}
        old_inodes = {st.st_ino for st in old.values()}
        written = {p: st for p, st in new.items() if st.st_ino not in old_inodes}
        linked = {p: st for p, st in new.items() if st.st_ino in old_inodes}
        return {
            "bytes_written_mb": sum(st.st_size for st in written.values()) / 1e6,
            "bytes_linked_mb": sum(st.st_size for st in linked.values()) / 1e6,
            "files_written": len(written),
            "partitions_touched": len({os.path.dirname(p) for p in written}),
            "live_bytes": sum({st.st_ino: st.st_size for st in new.values()}.values()),
        }

def _data_files(root: str) -> dict[str, os.stat_result]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.stat(p)
    return out


WORKLOADS = {
    "civic_daily": CivicDaily,
    "warehouse_read": WarehouseRead,
    "curation": Curation,
}
