"""Seeded input generators for the benchmark.

Every input is a pure function of ``seed`` (numpy PCG64), so the same
seed reproduces the same bytes and the program sees only the generated
files:

- :func:`write_tables` — the ten testdata-shaped parquet tables that the
  registered queries read (TPC-H-ish star schema, ``events``,
  ``documents``, ``embeddings``), with the column types and value
  domains of the shipped testdata (TESTDATA.md);
- :func:`write_reference_csv` — the reference clickstream CSV that
  ``runner.run_batch_cycle`` ingests (the 9 columns of
  ``ECOM_EVENT_RAW_SCHEMA``);
- :func:`day_event_tables` — one ``events`` table per calendar day, the
  files the streaming generator lands.
"""

from __future__ import annotations

import os
import sys
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# The events/documents/embeddings generators already mirror the
# testdata's measured distributions; reuse them rather than fork them.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from gen_scale_probe import gen_documents, gen_embeddings, gen_events  # noqa: E402

# Row counts per table, read off the shipped testdata at each scale.
SCALES = {
    "sf0.01": {
        "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "users": 150, "documents": 500,
        "embeddings": 500,
    },
    "sf0.1": {
        "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000, "events": 100_000, "users": 1_500, "documents": 5_000,
        "embeddings": 2_000,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def testdata_tables(seed: int, scale: str) -> dict[str, pa.Table]:
    """The ten testdata tables at ``scale`` ("sf0.01" or "sf0.1")."""
    rows = SCALES[scale]
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    n_c, n_s, n_p, n_o, n_l = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"], rows["lineitem"]
    )
    part_names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": _keyed_names("Customer", n_c),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, -1000.0, 10000.0, n_c),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": _keyed_names("Supplier", n_s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, -1000.0, 10000.0, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": _pick(rng, part_names, n_p),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), i64),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_o),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": _money(rng, 0.0, 0.1, n_l),
            "l_tax": _money(rng, 0.0, 0.08, n_l),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_l),
        }),
        "events": gen_events(rng, rows["events"], rows["users"]),
        "documents": gen_documents(rng, rows["documents"]),
        "embeddings": gen_embeddings(rng, rows["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, scale: str) -> None:
    """Write the testdata tables as ``{out_dir}/{name}.parquet`` (one
    file, one row group each, like the shipped testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in testdata_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- reference clickstream CSV (runner.run_batch_cycle input) -------------

CSV_START = date(2019, 11, 1)
EVENT_TYPE_P = {"view": 0.90, "cart": 0.07, "purchase": 0.03}
CATEGORY_CODES = [
    "electronics.smartphone", "electronics.audio.headphone", "appliances.kitchen.kettle",
    "computers.notebook", "apparel.shoes", "furniture.living_room.sofa",
    "construction.tools.drill", "kids.toys", "sport.bicycle", "auto.accessories.player",
]
BRANDS = [f"brand{i:02d}" for i in range(60)]


def reference_csv_table(seed: int, n_days: int, rows_per_day: int) -> tuple[pa.Table, list[int]]:
    """The reference event CSV as an all-string table plus the row count
    of each calendar day. Days differ in size by up to ±10% around
    ``rows_per_day``; about 30% of rows have no category_code and 15%
    no brand (empty CSV fields, read back as NULL)."""
    rng = np.random.default_rng(seed)
    day_rows = [int(r) for r in rng.integers(int(rows_per_day * 0.9), int(rows_per_day * 1.1) + 1, n_days)]
    n = sum(day_rows)
    day_idx = np.repeat(np.arange(n_days), day_rows)
    secs = rng.integers(0, 86_400, n)
    base = np.datetime64(CSV_START.isoformat(), "s")
    stamps = base + (day_idx * 86_400 + secs).astype("timedelta64[s]")
    iso = np.char.replace(np.datetime_as_string(stamps, unit="s"), "T", " ")
    event_time = np.char.add(iso, " UTC")
    types = np.asarray(list(EVENT_TYPE_P), dtype=object)[
        rng.choice(3, n, p=list(EVENT_TYPE_P.values()))
    ]
    product = rng.integers(1_000_000, 1_050_000, n)
    category_code = np.asarray(CATEGORY_CODES, dtype=object)[product % len(CATEGORY_CODES)]
    category_code[rng.random(n) < 0.30] = None
    brand = np.asarray(BRANDS, dtype=object)[product % len(BRANDS)]
    brand[rng.random(n) < 0.15] = None
    price = np.round(rng.uniform(0.5, 1500.0, n), 2)
    users = rng.integers(500_000_000, 500_000_000 + max(1, n // 20), n)
    sessions = rng.integers(0, 1 << 62, n)

    def s(a) -> pa.Array:
        return pa.array(a, pa.string())

    table = pa.table({
        "event_time": s(event_time),
        "event_type": s(types),
        "product_id": s(product.astype(str)),
        "category_id": s((2_053_013_550_000_000_000 + product % 997).astype(str)),
        "category_code": s(category_code),
        "brand": s(brand),
        "price": s(np.char.mod("%.2f", price)),
        "user_id": s(users.astype(str)),
        "user_session": s(np.char.mod("%016x", sessions)),
    })
    return table, day_rows


def write_reference_csv(path: str, seed: int, n_days: int, rows_per_day: int) -> list[int]:
    """Write the reference CSV (header + rows); returns rows per day."""
    table, day_rows = reference_csv_table(seed, n_days, rows_per_day)
    with open(path, "wb") as fh:
        fh.write((",".join(table.column_names) + "\n").encode())
        opts = pacsv.WriteOptions(include_header=False, quoting_style="none")
        pacsv.write_csv(table, fh, write_options=opts)
    return day_rows


# --- streaming day files ---------------------------------------------------


EVENT_SPAN_DAYS = 30  # gen_events spreads its rows over this many days


def day_event_tables(seed: int, n_days: int, rows_per_day: int, users: int) -> list[pa.Table]:
    """The first ``n_days`` calendar days of a 30-day ``events`` table of
    ``30 * rows_per_day`` rows, one table per day in day order (about
    ``rows_per_day`` rows each), event ids unique across days and
    timestamps increasing within each day."""
    assert n_days <= EVENT_SPAN_DAYS, f"at most {EVENT_SPAN_DAYS} days, not {n_days}"
    rng = np.random.default_rng(seed)
    span = gen_events(rng, EVENT_SPAN_DAYS * rows_per_day, users)
    days = np.asarray(span.column("ts").to_numpy(), dtype="datetime64[D]")
    start = np.datetime64("2024-01-01", "D")
    return [span.filter(pa.array(days == start + d)) for d in range(n_days)]


def write_stamp_table(path: str, rows: int = 200_000) -> None:
    """The two lineitem columns the host stamp's parquet scan reads, with
    a fixed seed (the stamp measures the host, not the workload)."""
    rng = np.random.default_rng(0)
    pq.write_table(pa.table({
        "l_quantity": pa.array(rng.integers(1, 51, rows).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105000.0, rows),
    }), path)
