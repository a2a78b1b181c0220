"""The batch workload: a closed loop, one client, one query at a time.

Protocol per run:

1. a warm pass runs every query once in the seeded order and keeps its
   result for the output check (nothing is timed);
2. the timed region runs whole passes in the same order until
   ``--seconds`` have passed; one query is builder call + noop write +
   ``release_cached()``;
3. outside any timed region, every result of step 1 is compared with
   its DuckDB oracle on the same files.
"""

from __future__ import annotations

import os
import random
import time
from decimal import Decimal

from metrics import StoreReader, Tracer, summary

#: the Catalyst-only TPC-H queries of the registry (``tpch_q3_sql`` is
#: left out: it runs on the Python path)
TPCH_QUERIES = (
    "tpch_q1_pricing",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_late_orders",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returns",
    "tpch_q11_important_parts",
    "tpch_q12_priority_class",
    "tpch_q13_cust_distribution",
    "tpch_q14_promo",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty",
    "tpch_q18_big_orders",
    "tpch_q19_disjunct",
    "tpch_q20_part_promotion",
    "tpch_q21_late_blame",
    "tpch_q22_dormant_customers",
)


def canon_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted rows of canonical cell strings
    (``tools/check_oracle._canon``, the oracle gate's canonicalizer)."""
    from tools.check_oracle import _canon

    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_canon(v) for v in t) for t in pdf[cols].itertuples(index=False))


def _float(cell: str) -> float | None:
    try:
        return float(cell) if "." in cell or "e" in cell else None
    except ValueError:
        return None


def rounding_tie(a: list[tuple], b: list[tuple]) -> bool:
    """True when two row sets differ only in float cells, each by at
    most one unit in the last decimal place shown and by at most one
    part in a million: a value rounded at a boundary that two engines'
    different summation orders put on opposite sides."""
    if len(a) != len(b):
        return False

    def key(row):
        return tuple(c for c in row if _float(c) is None)

    a, b = sorted(a, key=key), sorted(b, key=key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb) or key(ra) != key(rb):
            return False
        for ca, cb in zip(ra, rb):
            if ca == cb:
                continue
            if _float(ca) is None or _float(cb) is None:
                return False
            da, db = Decimal(ca), Decimal(cb)  # exact: the cells are shortest reprs
            unit = Decimal(1).scaleb(min(da.as_tuple().exponent, db.as_tuple().exponent))
            diff = abs(da - db)
            if diff > unit or diff > Decimal("1e-6") * max(abs(da), abs(db)):
                return False
    return True


class Oracles:
    """DuckDB over the workload's parquet files; one connection, opened
    on first use."""

    def __init__(self, data_dir: str, tmp_dir: str, threads: int):
        from flink_anomaly_spark.plans.registry import all_oracles

        self.sqls = all_oracles()
        self.data_dir, self.tmp_dir, self.threads = data_dir, tmp_dir, threads
        self.con = None

    def rows(self, name: str) -> tuple[list[str], list[tuple]]:
        import duckdb

        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute(f"SET threads={self.threads}")
            self.con.execute("SET memory_limit='2GB'")
            self.con.execute(f"SET temp_directory='{self.tmp_dir}'")
            for f in sorted(os.listdir(self.data_dir)):
                if f.endswith(".parquet"):
                    self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.data_dir, f)}'")
        return canon_rows(self.con.execute(self.sqls[name]).fetchdf())

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def check(results: dict, oracles: Oracles) -> dict:
    """Compare each query's result with its oracle: the same column
    names and the same sorted rows, or a rounding tie."""
    mismatched, ties = [], []
    t0 = time.perf_counter()
    try:
        for name, got in results.items():
            if isinstance(got, str):  # the query raised
                mismatched.append(name)
                continue
            cols, rows = oracles.rows(name)
            if (cols, rows) == got:
                continue
            if cols == got[0] and rounding_tie(got[1], rows):
                ties.append(name)
            else:
                mismatched.append(name)
    finally:
        oracles.close()
    return {
        "queries": len(results),
        "mismatched": sorted(mismatched),
        "rounding_ties": sorted(ties),
        "oracle_s": round(time.perf_counter() - t0, 3),
    }


class BatchRun:
    def __init__(self, spark, data_dir: str, names, seed: int, seconds: int, tracer: Tracer):
        from flink_anomaly_spark.plans.registry import all_queries

        builders = all_queries()
        self.spark = spark
        self.data_dir = data_dir
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        self.builders = {n: builders[n] for n in self.order}
        self.seconds = seconds
        self.tracer = tracer
        self.reader = StoreReader(spark) if tracer.enabled else None
        self.layers: dict[str, float] = {}
        self.collect_s = 0.0

    def check_pass(self) -> dict:
        from flink_anomaly_spark.operators.dedup import release_cached

        results = {}
        for name in self.order:
            try:
                results[name] = canon_rows(self.builders[name](self.spark, self.data_dir).toPandas())
            except Exception as e:  # a failing query is counted, not fatal
                results[name] = f"error: {type(e).__name__}: {e}"
            finally:
                release_cached()
        return results

    def _query(self, op: str, name: str) -> float:
        from flink_anomaly_spark.operators.dedup import release_cached

        sc = self.spark.sparkContext
        tr = self.tracer
        traced = self.reader is not None
        mark = self.reader.execution_mark() if traced else 0
        try:
            with tr.span("query", op) as root:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", f"{op}/build")
                t0 = time.perf_counter()
                with tr.span("plans.build", op):
                    df = self.builders[name](self.spark, self.data_dir)
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", f"{op}/exec")
                with tr.span("operators.exec", op):
                    df.write.mode("overwrite").format("noop").save()
                with tr.span("operators.release_cached", op):
                    release_cached()
                latency = time.perf_counter() - t0
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            self._collect(op, mark, root)
        return latency

    def _collect(self, op: str, mark: int, root) -> None:
        t = time.perf_counter()
        build_jobs = self.reader.job_ids(f"{op}/build")
        stages = self.reader.stage_totals(self.reader.job_ids(f"{op}/exec"))
        nodes = self.reader.node_totals(mark)
        counts = {"plans.build_jobs": len(build_jobs)}
        counts.update({f"operators.{k}": v for k, v in stages.items()})
        counts.update({f"operators.{k}": nodes[k] for k in ("python_rows", "python_bytes")})
        counts.update({f"tables.{k}": nodes[k] for k in ("scan_s", "scan_bytes", "scan_rows")})
        root.counts.update(counts)
        for k, v in counts.items():
            self.layers[k] = self.layers.get(k, 0.0) + v
        self.collect_s += time.perf_counter() - t

    def timed_passes(self) -> dict:
        latencies, errors, passes = [], 0, 0
        t0 = time.perf_counter()
        while passes == 0 or time.perf_counter() - t0 < self.seconds:
            for i, name in enumerate(self.order):
                try:
                    latencies.append((name, self._query(f"p{passes}.{i}.{name}", name)))
                except Exception:  # a failing query is counted, not fatal
                    errors += 1
            passes += 1
        wall = time.perf_counter() - t0
        return {"latencies": latencies, "errors": errors, "passes": passes, "wall_s": wall}

    def layer_totals(self, passes: int) -> dict:
        """Per-layer numbers summed over the timed region, per pass."""
        spans = self.tracer.spans
        totals = {
            "plans.build_s": sum(s.end - s.start for s in spans if s.name == "plans.build"),
            "operators.exec_s": sum(s.end - s.start for s in spans if s.name == "operators.exec"),
            "operators.release_cached_s": sum(s.end - s.start for s in spans if s.name == "operators.release_cached"),
        }
        totals.update(self.layers)
        out = {k: v / passes for k, v in totals.items()}
        out["trace.collect_s"] = self.collect_s / passes
        return out


def run(spark, data_dir: str, names, seed: int, seconds: int, tracer: Tracer, tmp_dir: str, cpus: int) -> dict:
    br = BatchRun(spark, data_dir, names, seed, seconds, tracer)
    got = br.check_pass()
    timed = br.timed_passes()
    checked = check(got, Oracles(data_dir, tmp_dir, cpus))
    checked["timed_errors"] = timed["errors"]
    lat = [s for _, s in timed["latencies"]]
    return {
        "attempted": len(lat) + timed["errors"] + len(br.order),
        "failed": timed["errors"] + len(checked["mismatched"]),
        "check": checked,
        "latency": summary(lat, 90),
        "per_query_s": {n: round(s, 4) for n, s in timed["latencies"]},
        "throughput_per_s": len(lat) / timed["wall_s"],
        "layers": br.layer_totals(timed["passes"]) if tracer.enabled else {},
    }
