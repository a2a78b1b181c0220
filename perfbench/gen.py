"""Seeded input generation for the benchmark workloads.

The table and event builders are pure functions of their arguments:
the same seed writes byte-identical parquet files. The engine never
sees the seed, only the files.

- :func:`tpch_tables` writes the eight TPC-H-shaped tables the
  ``tpch_q*`` queries read, with the fact tables (``orders``,
  ``lineitem``) made of independently drawn replicas, each on its own
  key range. Column domains follow the engine's reference tables
  (see ``FIXTURES.md``).
- :func:`stream_events` builds one event file of the streaming workload:
  events created at a fixed rate, each stamped with its creation time
  as ``ts``, on skewed keys.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows of each table at scale factor 1 (the reference tables' ratios)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["anvil", "bolt", "gear", "ring", "widget", "spring", "valve", "screw"]

_EPOCH = np.datetime64("1970-01-01", "D")
_ORDER_DAYS = (np.datetime64("1995-01-01", "D"), np.datetime64("2001-08-01", "D"))
_SHIP_DAYS = (np.datetime64("1995-01-02", "D"), np.datetime64("2001-11-04", "D"))


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence(list(key)))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span: tuple, n: int) -> pa.Array:
    lo = (span[0] - _EPOCH).astype(int)
    hi = (span[1] - _EPOCH).astype(int)
    days = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group, fixed writer settings: byte-identical
    # output for identical input
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def tpch_tables(out_dir: str, seed: int, base_sf: float, replicas: int) -> None:
    """Write the TPC-H-shaped tables: dimensions at ``base_sf``, fact
    tables as ``replicas`` independent draws at ``base_sf`` each, on
    disjoint order-key ranges."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(round(r * base_sf))) for t, r in ROWS_PER_SF.items()}

    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )

    rng = _rng(seed, 0)
    nc = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    ns = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(
        pa.table(
            {
                "p_partkey": pa.array(keys),
                "p_name": _pick(rng, [f"{c} {w}" for c in COLORS for w in NOUNS], npart),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )

    orders, lines = [], []
    no, nl = n["orders"], n["lineitem"]
    for r in range(replicas):
        rr = _rng(seed, 1, r)
        okeys = np.arange(no, dtype=np.int64) + r * no
        orders.append(
            pa.table(
                {
                    "o_orderkey": pa.array(okeys),
                    "o_custkey": pa.array(rr.integers(0, nc, no).astype(np.int64)),
                    "o_orderstatus": _pick(rr, ["F", "O", "P"], no),
                    "o_totalprice": _money(rr, 1000.0, 500000.0, no),
                    "o_orderdate": _days(rr, _ORDER_DAYS, no),
                    "o_orderpriority": _pick(rr, PRIORITIES, no),
                }
            )
        )
        lines.append(
            pa.table(
                {
                    "l_orderkey": pa.array(rr.integers(0, no, nl).astype(np.int64) + r * no),
                    "l_partkey": pa.array(rr.integers(0, npart, nl).astype(np.int64)),
                    "l_suppkey": pa.array(rr.integers(0, ns, nl).astype(np.int64)),
                    "l_linenumber": pa.array(rr.integers(1, 8, nl), pa.int32()),
                    "l_quantity": rr.integers(1, 51, nl).astype(np.float64),
                    "l_extendedprice": _money(rr, 900.0, 105000.0, nl),
                    "l_discount": rr.integers(0, 11, nl) / 100.0,
                    "l_tax": rr.integers(0, 9, nl) / 100.0,
                    "l_returnflag": _pick(rr, ["A", "N", "R"], nl),
                    "l_linestatus": _pick(rr, ["F", "O"], nl),
                    "l_shipdate": _days(rr, _SHIP_DAYS, nl),
                }
            )
        )
    _write(pa.concat_tables(orders), os.path.join(out_dir, "orders.parquet"))
    _write(pa.concat_tables(lines), os.path.join(out_dir, "lineitem.parquet"))


# ---------------------------------------------------------------------------
# stream_zscore event files
# ---------------------------------------------------------------------------

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def zipf_keys(rng: np.random.Generator, n_keys: int, n: int, s: float = 1.1) -> np.ndarray:
    """Key indexes drawn with probability proportional to 1 / rank**s."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=w / w.sum())


def stream_events(seed: int, file_no: int, first_id: int, ts_us: np.ndarray, n_keys: int) -> pa.Table:
    """The events of one stream file: ids ``first_id..``, creation times
    ``ts_us`` (epoch µs), keys ``k0..`` with Zipf skew, values
    exponential with mean 50 (rounded to cents)."""
    rng = _rng(seed, 2, file_no)
    n = len(ts_us)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(np.char.add("k", zipf_keys(rng, n_keys, n).astype(str)).astype(object)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        },
        schema=EVENT_SCHEMA,
    )


def write_atomic(table: pa.Table, path: str, mtime: float | None = None) -> None:
    """Write ``path`` under a name the stream source ignores, then
    rename it into place, so the source never lists a partial file.
    ``mtime`` pins the modification time the source orders files by."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    _write(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def now_us() -> int:
    return int(dt.datetime.now(dt.timezone.utc).timestamp() * 1_000_000)
