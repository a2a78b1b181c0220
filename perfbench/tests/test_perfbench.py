"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from metrics import Span, beyond, covered, parse_metric, percentile, self_times, supported_percentile  # noqa: E402

# -- percentile rule --------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    for p in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(5, 0), (10, 0), (11, 9), (21, 52), (100, 90), (1000, 99), (5000, 99)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected
    if expected:
        xs = list(range(n))
        # nearest-rank value of the supported percentile has >= 10 beyond it
        k = -(-n * expected // 100)
        assert beyond(xs, xs[k - 1]) >= 10
        # and the next percentile up does not
        k_next = -(-n * (expected + 1) // 100)
        assert expected == 99 or beyond(xs, xs[k_next - 1]) < 10


def _binomial_weights_median(n):
    # for odd n the Harrell-Davis median weights are differences of a
    # regularized incomplete beta with integer parameters, which is a
    # binomial tail: I_x(a, b) = P(Binomial(a + b - 1, x) >= a)
    from math import comb

    a = b = (n + 1) // 2
    m = a + b - 1

    def inc_beta(x):
        return sum(comb(m, j) * x**j * (1 - x) ** (m - j) for j in range(a, m + 1))

    return [inc_beta(i / n) - inc_beta((i - 1) / n) for i in range(1, n + 1)]


@pytest.mark.parametrize("n", [1, 5, 21])
def test_hd_median_matches_exact_weights(n):
    rng = np.random.default_rng(n)
    xs = sorted(rng.exponential(1.0, n).tolist())
    exact = sum(w * x for w, x in zip(_binomial_weights_median(n), xs))
    assert metrics.hd_quantile(xs, 50) == pytest.approx(exact, rel=1e-6)


def test_hd_quantile_is_order_free_and_tracks_the_sample_percentile():
    rng = np.random.default_rng(0)
    xs = rng.normal(10.0, 1.0, 5000).tolist()
    for p in (50, 90, 99):
        assert metrics.hd_quantile(xs, p) == pytest.approx(np.percentile(xs, p), abs=0.05)
    assert metrics.hd_quantile(xs[::-1], 90) == pytest.approx(metrics.hd_quantile(xs, 90))
    assert metrics.hd_quantile([3.0, 1.0, 2.0], 50) == pytest.approx(2.0)


def test_summary_reports_count_beyond_tail():
    xs = [float(i) for i in range(1, 101)]
    s = metrics.summary(xs, 90)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_percentile"] == 90 and 90 < s["tail"] < 91
    assert s["beyond_tail"] == 10
    assert s["supported_percentile"] == 90


# -- self time --------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", op="q", start=start, end=end, parent=parent)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1: union is [1, 6]
        _span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped to [8, 10]
        _span(4, 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_covered_handles_disjoint_and_nested_intervals():
    assert covered([], 0, 1) == 0
    assert covered([(0, 1), (0.2, 0.5), (2, 3)], 0, 10) == pytest.approx(2.0)
    assert covered([(-5, 5)], 0, 1) == pytest.approx(1.0)


def test_tracer_disabled_records_nothing():
    t = metrics.Tracer(False)
    t.end(t.begin("x", "op"))
    assert t.spans == []


def test_tracer_nests_spans_and_reports_self_time():
    t = metrics.Tracer(True)
    outer = t.begin("query", "q0")
    inner = t.begin("plans.build", "q0")
    t.end(inner)
    t.end(outer, jobs=3)
    out = t.to_json()
    assert [s["parent"] for s in out] == [None, 0]
    assert out[0]["counts"] == {"jobs": 3}
    assert out[0]["self_s"] <= out[0]["end_s"] - out[0]["start_s"]


# -- status-store metric strings -------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("60,000", 60000.0),
        ("1018.0 KiB", 1018.0 * 1024),
        ("24 ms", 0.024),
        ("total (min, med, max (stageId: taskId))\n10.6 s (2.6 s, 2.6 s, 2.8 s (stage 14.0: task 13))", 10.6),
        ("total (min, med, max (stageId: taskId))\n1.5 MiB (1 B, 2 B, 3 B (stage 1.0: task 2))", 1.5 * 2**20),
        (None, 0.0),
        ("", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


# -- names and BENCHMARK.json ----------------------------------------------


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.match(n), n


def test_benchmark_json_matches_schema():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert metrics.NAME_RE.match(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert 1 <= len(b["end_to_end"]) <= 16
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert 1 <= len(b["per_layer"]) <= 128
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    units = [m["unit"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(len(u) <= 16 and all(c.isalnum() or c in "_/%.-" for c in u) for u in units)
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


# -- generator determinism -------------------------------------------------


def _tpch_digest(d, seed):
    gen.tpch_tables(str(d), seed, base_sf=0.0005, replicas=3)
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        h.update((d / f).read_bytes())
    return h.hexdigest()


def test_tpch_tables_are_byte_identical_for_a_seed(tmp_path):
    a = _tpch_digest(tmp_path / "a", 7)
    b = _tpch_digest(tmp_path / "b", 7)
    c = _tpch_digest(tmp_path / "c", 8)
    assert a == b
    assert a != c


def test_tpch_replicas_use_disjoint_order_keys(tmp_path):
    import pyarrow.parquet as pq

    gen.tpch_tables(str(tmp_path), 3, base_sf=0.0005, replicas=3)
    orders = pq.read_table(tmp_path / "orders.parquet").column("o_orderkey").to_pylist()
    lines = pq.read_table(tmp_path / "lineitem.parquet").column("l_orderkey").to_pylist()
    assert len(orders) == len(set(orders)) == 3 * 750
    assert set(lines) <= set(orders)


def test_stream_files_are_byte_identical_for_a_seed(tmp_path):
    ts = np.arange(100, dtype=np.int64) * 1000
    paths = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        p = str(tmp_path / f"{name}.parquet")
        gen.write_atomic(gen.stream_events(seed, 1, 0, ts, 64), p)
        paths.append(p)
    a, b, c = (open(p, "rb").read() for p in paths)
    assert a == b
    assert a != c
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".")]  # no temp file left


def test_stream_keys_are_skewed():
    rng = np.random.default_rng(0)
    keys = gen.zipf_keys(rng, 64, 20000)
    counts = np.bincount(keys, minlength=64)
    assert counts[0] > 10 * counts[63]


# -- output check -----------------------------------------------------------


def test_rounding_tie_accepts_one_unit_in_the_last_place():
    import batch

    spark_rows = [("NATION_10", "2000", "3357063.85"), ("NATION_2", "1999", "12.5"), ("NATION_19", "1995", "2897135.07")]
    oracle_rows = [("NATION_19", "1995", "2897135.08"), ("NATION_2", "1999", "12.5"), ("NATION_10", "2000", "3357063.86")]
    assert batch.rounding_tie(spark_rows, oracle_rows)
    assert batch.rounding_tie([("a", "3000000.1")], [("a", "3000000.09")])  # trailing zero not shown


@pytest.mark.parametrize(
    "other",
    [
        [("NATION_10", "2000", "3357063.87")],  # two units off
        [("NATION_11", "2000", "3357063.85")],  # key differs
        [("NATION_10", "2000", "0.02")],  # not a rounding neighbour
        [],  # row lost
    ],
)
def test_rounding_tie_rejects_real_differences(other):
    import batch

    assert not batch.rounding_tie([("NATION_10", "2000", "3357063.85")], other)


def test_rounding_tie_rejects_small_values_one_unit_apart():
    import batch

    # one unit in the last place, but 20% of the value
    assert not batch.rounding_tie([("a", "0.05")], [("a", "0.06")])


# -- process hygiene ----------------------------------------------------------


def test_reap_descendants_waits_for_orphaned_grandchildren():
    # in a child interpreter, so this test process does not become a subreaper
    code = (
        "import subprocess, run\n"
        "run.become_subreaper()\n"
        "subprocess.Popen(['sh', '-c', 'sleep 0.5 & exit 0']).wait()\n"
        "assert run._children(), 'the orphaned sleep was not reparented'\n"
        "run.reap_descendants()\n"
        "assert run._children() == []\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=BENCH, check=True, timeout=30)
