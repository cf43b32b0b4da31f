"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed``: it draws from numpy's
PCG64 streams, writes its files with fixed writer settings, and returns the
ground truth the output checks need. The same seed gives byte-identical
files; a different seed gives different ones. Nothing here touches Spark, so
inputs are written before any timing starts.

- ``warehouse(dirpath, seed, scale)``: the TPC-H-shaped tables plus
  ``events``, with the schemas and value domains of the sf0.1 test tables.
  Money columns are multiples of 1/4 and rates multiples of 1/64, so every
  sum the oracles round is exact in binary floating point and the
  Spark-vs-DuckDB hash cannot flip on summation order.
- ``documents(dirpath, seed, n_docs)``: the corpus table (same vocabulary,
  length range and language mix as sf0.1, a few exact duplicate texts).
- ``civic(dirpath, seed, ...)``: a backfill and hourly ndjson landing
  batches of QAlert-shaped 311 records, the 8 timebound zone tables, and the
  expected master-table state after each batch.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS_A = ["blue", "hot", "large", "red", "small", "steel", "green", "cold"]
_PWORDS_B = ["bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "plate"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(dirpath: str, name: str, table: pa.Table) -> str:
    path = os.path.join(dirpath, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return path


def _epoch_us(year: int, month: int, day: int) -> int:
    d = dt.datetime(year, month, day, tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# warehouse_read
# ---------------------------------------------------------------------------

# sf0.1 row counts; ``scale`` multiplies them (0.1 gives the sf0.01 sizes)
_SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
              "orders": 150_000, "events": 100_000}


def warehouse(dirpath: str, seed: int, scale: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events as parquet; return {table: rows}."""
    os.makedirs(dirpath, exist_ok=True)
    n = {k: max(int(v * scale), 10) for k, v in _SF01_ROWS.items()}
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        _write(dirpath, name, table)
        rows[name] = table.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    nc = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.integers(-99_999, 1_000_000, nc) / 100.0, 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.integers(-99_999, 1_000_000, ns) / 100.0, 2),
    })
    npart = n["part"]
    put("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_PWORDS_A[a]} {_PWORDS_B[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + r.integers(0, 400, npart) * 0.25,
    })

    no = n["orders"]
    day0, day1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    n_days = (day1 - day0) // 86_400_000_000
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": r.integers(4_000, 2_000_000, no) * 0.25,
        "o_orderdate": _ts(day0 + r.integers(0, n_days + 1, no) * 86_400_000_000),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, no)],
    })

    lines_per = r.integers(1, 8, no)
    nl = int(lines_per.sum())
    okeys = np.repeat(np.arange(no), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    ship_lo = _epoch_us(1995, 1, 2)
    ship_days = (_epoch_us(2001, 11, 4) - ship_lo) // 86_400_000_000
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": r.integers(3_600, 420_000, nl) * 0.25,
        "l_discount": r.integers(0, 7, nl) / 64.0,
        "l_tax": r.integers(0, 6, nl) / 64.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": _ts(ship_lo + r.integers(0, ship_days + 1, nl) * 86_400_000_000),
    })

    ne = n["events"]
    users = max(ne // 66, 10)
    jan = _epoch_us(2024, 1, 1)
    ts = np.sort(jan + r.integers(0, 30 * 86_400_000_000, ne))
    put("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, users, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": np.round(np.minimum(r.exponential(40.0, ne), 560.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)],
    })
    return rows


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def documents(dirpath: str, seed: int, n_docs: int) -> int:
    """Write documents.parquet (doc_id, text, lang, source, n_chars): 10-100
    uniform words from the sf0.1 vocabulary, sf0.1's language mix, and ~0.2%
    exact duplicate texts. Returns the row count."""
    os.makedirs(dirpath, exist_ok=True)
    r = _rng(seed, 2)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.002:
            texts.append(texts[int(r.integers(0, i))])
            continue
        k = int(r.integers(10, 101))
        texts.append(" ".join(_VOCAB[j] for j in r.integers(0, len(_VOCAB), k)))
    langs = r.choice(len(_LANGS), n_docs, p=_LANG_P)
    _write(dirpath, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in langs],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    return n_docs


# ---------------------------------------------------------------------------
# civic_daily
# ---------------------------------------------------------------------------

# city bounding box (lon, lat); every zone grid divides it into nx x ny
# rectangles, and nx, ny are divisors of _MICRO so each micro-cell lies in
# exactly one zone of every grid
_LON0, _LON1 = -80.095, -79.865
_LAT0, _LAT1 = 40.362, 40.501
_MICRO = 60
# zone type -> (grid before redraw, grid after redraw or None)
ZONE_GRIDS: dict[str, tuple[tuple[int, int], tuple[int, int] | None]] = {
    "neighborhood_name": ((6, 6), (5, 5)),
    "council_district": ((3, 3), None),
    "ward": ((5, 5), (6, 5)),
    "police_zone": ((2, 3), None),
    "fire_zone": ((4, 4), None),
    "dpw_streets": ((3, 2), None),
    "dpw_enviro": ((2, 2), (3, 3)),
    "dpw_parks": ((6, 4), None),
}
_DAY0 = dt.datetime(2023, 3, 1, tzinfo=dt.timezone.utc)
# The reference DAG (BASELINE.md) pulls QAlert hourly
# (af2_dags/qalert_airflow.py:62), a pull pages through an API that returns
# at most API_LIMIT = 2,000 records a page (qalert_requests_gcs.py:12), and
# the master holds years of history (hourly since 2021-01-21,
# qalert_airflow.py:63). It states no record counts, so the
# batch size (``batch_size``, a quarter page by default) and the history
# depth are budget choices. The backfill is BACKFILL_BATCHES batches over
# HISTORY_DAYS day-partitions, so the master that the first hourly merge
# lands in holds BACKFILL_BATCHES times the batch.
BACKFILL_BATCHES = 20
HISTORY_DAYS = 30
# zones marked for redraw change grid at the start of this day (mid-backfill)
REDRAW_DAY = HISTORY_DAYS // 2
_ZONE_EPOCH = dt.datetime(2020, 1, 1)
_STATUS = {0: "open", 1: "closed", 3: "in progress", 4: "on hold"}
_STREETS = ["5TH AVE", "FORBES AVE", "PENN AVE", "E CARSON ST", "LIBERTY AVE",
            "BUTLER ST", "MURRAY AVE", "BAUM BLVD", "S 22ND ST", "SMALLMAN ST"]
_TYPES = ["Potholes", "Weeds/Debris", "Street Light", "Abandoned Vehicle",
          "Refuse Violations", "Snow/Ice removal"]
_FIRST = ["alice", "bob", "carol", "dave", "erin"]
# corrupt lines the lenient reader cannot repair, so each must be quarantined
_JUNK = ['{"id": 17, "master": 0, "status": ', 'garbage line <html>',
         '{"id": 9, "streetName": "FORBES AVE"', '[1, 2,']


def _rect_wkt(x0: float, y0: float, x1: float, y1: float, per_edge: int = 4) -> str:
    """Rectangle as a POLYGON with ``per_edge`` segments per side, so the ray
    cast walks a realistic vertex count rather than four edges."""
    pts = []
    for (ax, ay), (bx, by) in (((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
                               ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0))):
        for k in range(per_edge):
            f = k / per_edge
            pts.append((ax + (bx - ax) * f, ay + (by - ay) * f))
    pts.append(pts[0])
    return "POLYGON((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


def zone_rows(ztype: str) -> list[tuple]:
    """(zone, geometry WKT, start_date, end_date) rows for one zone type; a
    redrawn type has its old grid end and its new grid start at REDRAW_DAY."""
    before, after = ZONE_GRIDS[ztype]
    redraw = (_DAY0 + dt.timedelta(days=REDRAW_DAY)).replace(tzinfo=None)
    out = []
    for ver, (grid, start, end) in enumerate(
        [(before, _ZONE_EPOCH, redraw if after else None)]
        + ([(after, redraw, None)] if after else [])
    ):
        nx, ny = grid
        dx, dy = (_LON1 - _LON0) / nx, (_LAT1 - _LAT0) / ny
        for i in range(nx):
            for j in range(ny):
                wkt = _rect_wkt(_LON0 + i * dx, _LAT0 + j * dy,
                                _LON0 + (i + 1) * dx, _LAT0 + (j + 1) * dy)
                out.append((f"{ztype}_v{ver}_{i}_{j}", wkt, start, end))
    return out


def expected_zone(ztype: str, micro: tuple[int, int] | None, create_unix: int) -> str | None:
    """The zone a point planted in micro-cell ``micro`` must be assigned."""
    if micro is None:
        return None
    before, after = ZONE_GRIDS[ztype]
    redraw_unix = int((_DAY0 + dt.timedelta(days=REDRAW_DAY)).timestamp())
    ver, (nx, ny) = (1, after) if after and create_unix >= redraw_unix else (0, before)
    mx, my = micro
    return f"{ztype}_v{ver}_{mx * nx // _MICRO}_{my * ny // _MICRO}"


@dataclass
class CivicBatch:
    path: str
    n_lines: int
    n_bytes: int
    n_corrupt: int
    n_tickets_after: int  # distinct tickets landed by this and earlier batches


@dataclass
class CivicInputs:
    batches: list[CivicBatch]
    # expected master row per ticket after each batch: ticket_id -> dict
    truth: dict[int, dict] = field(default_factory=dict)
    # per batch, the truth snapshot of the tickets it touched
    touched: list[dict[int, dict]] = field(default_factory=list)


def civic(dirpath: str, seed: int, n_batches: int, batch_size: int) -> CivicInputs:
    """Write ``n_batches`` ndjson landing files.

    Batch 0 is a backfill of BACKFILL_BATCHES x ``batch_size`` tickets created
    over HISTORY_DAYS days, so the master starts with that many
    day-partitions. Batch k >= 1 is the hourly pull for hour k - 1 after the
    backfill, ~``batch_size`` lines: tickets created in that hour plus ~15%
    updates of tickets created on 4 earlier days, so an hourly merge touches
    the current day and a handful of old partitions and leaves the rest
    untouched. Every batch has ~1% corrupt lines; ~3% of its new tickets
    appear twice (latest wins inside the batch); ~10% of tickets are
    children; ~6% lack coordinates (0.0) and ~4% lie outside the city.
    """
    os.makedirs(dirpath, exist_ok=True)
    r = _rng(seed, 3)
    inputs = CivicInputs(batches=[])
    truth = inputs.truth
    by_day: dict[int, list[int]] = {}
    next_id = 1_000_000 + int(r.integers(0, 1_000_000)) * 10
    dlon, dlat = (_LON1 - _LON0) / _MICRO, (_LAT1 - _LAT0) / _MICRO

    def day_unix(day: int) -> int:
        return int((_DAY0 + dt.timedelta(days=day)).timestamp())

    for batch in range(n_batches):
        lines: list[str] = []
        touched: dict[int, dict] = {}
        if batch == 0:
            n_new, n_upd = BACKFILL_BATCHES * batch_size, 0
            days = r.integers(0, HISTORY_DAYS, n_new)
            # creation anywhere in the day; every version lands the same day
            add = np.array([day_unix(int(d)) for d in days]) + r.integers(1, 80_000, n_new)
            hour_start = None
        else:
            n_upd = int(batch_size * 0.15)
            n_new = batch_size - n_upd
            day, hour = HISTORY_DAYS + (batch - 1) // 24, (batch - 1) % 24
            hour_start = day_unix(day) + hour * 3_600
            days = np.full(n_new, day)
            # every version a batch carries has its last action inside the
            # batch's hour, so a later batch is newer
            add = hour_start + r.integers(0, 2_400, n_new)
        lag = r.integers(0, 600, n_new)
        kind = r.random(n_new)
        mx, my = r.integers(0, _MICRO, n_new), r.integers(0, _MICRO, n_new)
        jx, jy = r.uniform(-0.2, 0.2, n_new), r.uniform(-0.2, 0.2, n_new)
        far_x, far_y = r.random(n_new), r.random(n_new)
        child, parent_at = r.random(n_new) < 0.1, r.integers(1, 200, n_new)
        names, phones = r.integers(0, 5, n_new), r.integers(1000, 9999, n_new)
        status = r.integers(0, 4, n_new)
        has_num, num = r.random(n_new) < 0.7, r.integers(1, 7000, n_new)
        street, cross = r.integers(0, len(_STREETS), n_new), r.integers(0, len(_STREETS), n_new)
        has_cross = r.random(n_new) < 0.3
        type_id, type_name = r.integers(1, 7, n_new), r.integers(0, len(_TYPES), n_new)
        # parents: recent tickets of earlier batches, or (backfill) earlier
        # tickets of the same batch
        parents = list(truth)[-200:]
        new_records = []
        for i in range(n_new):
            tid = next_id
            next_id += 1
            if kind[i] < 0.06:
                lat = lon = 0.0
                micro = None
            elif kind[i] < 0.10:
                lon = round(-80.35 + far_x[i] * 0.1, 6)
                lat = round(40.60 + far_y[i] * 0.1, 6)
                micro = None
            else:
                lon = round(_LON0 + (mx[i] + 0.5 + jx[i]) * dlon, 6)
                lat = round(_LAT0 + (my[i] + 0.5 + jy[i]) * dlat, 6)
                micro = (int(mx[i]), int(my[i]))
            master = 0
            if child[i]:
                if parents:
                    master = int(parents[int(parent_at[i]) % len(parents)])
                elif i >= parent_at[i]:
                    master = tid - int(parent_at[i])
            rec = {
                "id": tid, "master": master, "addDateUnix": int(add[i]),
                "lastActionUnix": int(add[i] + lag[i]),
                "status": (0, 1, 3, 4)[int(status[i])],
                "streetNum": str(int(num[i])) if has_num[i] else "",
                "streetName": _STREETS[int(street[i])],
                "crossStreetName": _STREETS[int(cross[i])] if has_cross[i] else "",
                "cityName": "Pittsburgh",
                "latitude": lat, "longitude": lon,
                "comments": f"reported by {_FIRST[int(names[i])]}@example.com "
                            f"call 412-555-{int(phones[i])}",
                "typeId": int(type_id[i]),
                "typeName": _TYPES[int(type_name[i])],
            }
            new_records.append((rec, micro, int(days[i])))
        updates = []
        if n_upd:
            old_days = sorted(d for d in by_day if d < int(days[0]))
            picked = r.choice(len(old_days), size=min(4, len(old_days)), replace=False)
            pool = [t for i in sorted(picked) for t in by_day[old_days[int(i)]]]
            for k in r.choice(len(pool), size=min(n_upd, len(pool)), replace=False):
                old = truth[pool[int(k)]]
                rec = dict(old["raw"])
                rec["lastActionUnix"] = hour_start + int(r.integers(1, 3_600))
                rec["status"] = int((0, 1, 3, 4)[int(r.integers(0, 4))])
                updates.append((rec, old["micro"], None))
        records = new_records + updates
        # same-batch re-sends: a later version of ~3% of the new tickets
        for rec, micro, day in new_records[: max(1, n_new * 3 // 100)]:
            again = dict(rec)
            again["lastActionUnix"] = rec["lastActionUnix"] + int(r.integers(1, 600))
            again["status"] = 1
            records.append((again, micro, day))
        order = r.permutation(len(records))
        n_corrupt = max(1, len(records) // 100)
        junk_at = set(int(i) for i in r.choice(len(records) + n_corrupt, n_corrupt, replace=False))
        it = iter(order)
        for pos in range(len(records) + n_corrupt):
            if pos in junk_at:
                lines.append(_JUNK[pos % len(_JUNK)])
                continue
            rec, micro, day = records[int(next(it))]
            lines.append(json.dumps(rec, separators=(",", ":")))
            prev = truth.get(rec["id"])
            if prev is None:
                by_day.setdefault(day, []).append(rec["id"])
            if prev is None or rec["lastActionUnix"] > prev["raw"]["lastActionUnix"]:
                truth[rec["id"]] = {"raw": rec, "micro": micro}
            touched[rec["id"]] = truth[rec["id"]]
        path = os.path.join(dirpath, f"qalert_{batch:03d}.ndjson")
        body = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(body)
        inputs.batches.append(CivicBatch(path, len(lines), len(body), n_corrupt,
                                         len(truth)))
        inputs.touched.append({t: dict(v) for t, v in touched.items()})
    return inputs


def expected_row(entry: dict) -> dict:
    """The master-table fields the civic check compares for one ticket."""
    raw = entry["raw"]
    out = {
        "status_name": _STATUS[raw["status"]],
        "last_action_unix": raw["lastActionUnix"],
        "parent_ticket_id": raw["master"],
        "create_date_day": dt.datetime.fromtimestamp(
            raw["addDateUnix"], dt.timezone.utc).strftime("%Y-%m-%d"),
    }
    for ztype in ZONE_GRIDS:
        out[ztype] = expected_zone(ztype, entry["micro"], raw["addDateUnix"])
    return out
