"""The ``stream_zscore`` workload: the reference job (a failure-injecting
filter feeding keyed state) on Structured Streaming, as an open loop.

A generator process writes event files on a fixed schedule into the
directory :func:`streaming.pipelines.stream_events_multi_batch` reads.
The pipeline is ``make_failing_filter`` → ``running_zscore_stream`` →
``foreachBatch`` committing through ``ManifestTable.append(df,
batch_id=…)``. Phases, all on one checkpoint:

1. warm-up: one file, processed before anything is timed;
2. steady: files every ``PERIOD_S`` for ``--seconds`` — event latency;
3. failures: the schedule goes on, and the filter raises once on each
   of ``N_FAILURES`` seeded event ids; the benchmark restarts the query
   from its checkpoint after each (local mode allows one task attempt,
   so nothing is retried inside the query) — recovery time;
4. drain: ``BACKLOG_FILES`` pre-written files land at once — capacity,
   the median over drained batches of events ÷ time since the previous
   commit.

Continuous triggers support neither stateful operators nor
``foreachBatch``, so the query runs on a back-to-back processing-time
trigger (``processingTime="0 seconds"``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

import gen
from metrics import StoreReader, Tracer, hd_quantile, percentile, summary

RATE_EPS = 500  # events created per second while the generator runs
PERIOD_S = 2.0  # one file per period
N_KEYS = 64
N_FAILURES = 2
FAILURE_FILES = 3  # files in the failure phase
BACKLOG_FILES = 8
BACKLOG_EVENTS = 4000  # events per backlog file
WARMUP_EVENTS = 1000
PHASE_TIMEOUT_S = 60.0


EVENTS_PER_FILE = int(RATE_EPS * PERIOD_S)


def _file_name(k: int) -> str:
    return f"chunk_{k:06d}.parquet"


def generator_main(src: str, seed: int, t0: float, n_files: int, first_file: int, first_id: int, log: str) -> None:
    """Write ``n_files`` files; file ``k`` is due at ``t0 + k * PERIOD_S``
    and holds the events created uniformly over the period before it.
    Runs in its own process; lateness is written to ``log`` at the end."""
    per = EVENTS_PER_FILE
    lateness = []
    for k in range(n_files):
        due = t0 + (k + 1) * PERIOD_S
        start_us = int((t0 + k * PERIOD_S) * 1e6)
        ts = start_us + (np.arange(per) * (PERIOD_S * 1e6 / per)).astype(np.int64)
        table = gen.stream_events(seed, first_file + k, first_id + k * per, ts, N_KEYS)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        gen.write_atomic(table, os.path.join(src, _file_name(first_file + k)))
        lateness.append(time.time() - due)
    with open(log, "w") as fh:
        json.dump({"lateness_s": lateness}, fh)


class _Sink:
    """The ``foreachBatch`` function and the record of every commit."""

    def __init__(self, table, tracer: Tracer):
        self.table = table
        self.tracer = tracer
        self.lock = threading.Lock()
        self.commits: list[dict] = []
        self.files: set[str] = set(table.latest()["files"])
        self.version = table.latest()["version"]

    def __call__(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("manifest_table.append", f"batch{batch_id}"):
            t0 = time.time()
            man = self.table.append(batch_df, batch_id=batch_id)
            t1 = time.time()
        with self.lock:
            new = set(man["files"]) - self.files
            self.commits.append(
                {
                    "batch_id": batch_id,
                    "start": t0,
                    "end": t1,
                    "files": sorted(new),
                    "skipped": man["version"] == self.version,
                }
            )
            self.files = set(man["files"])
            self.version = man["version"]

    def data_commits(self) -> int:
        with self.lock:
            return sum(1 for c in self.commits if not c["skipped"])


class StreamRun:
    def __init__(self, spark, work: str, seed: int, seconds: int, tracer: Tracer):
        from flink_anomaly_spark.manifest_table import ManifestTable

        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.reader = StoreReader(spark) if tracer.enabled else None
        shutil.rmtree(work, ignore_errors=True)
        self.src = os.path.join(work, "src")
        self.schema_dir = os.path.join(work, "schema")
        self.flags = os.path.join(work, "flags")
        self.ckpt = os.path.join(work, "ckpt")
        self.gen_log = os.path.join(work, "gen_log.json")
        for d in (self.src, self.schema_dir, self.flags):
            os.makedirs(d)
        # the marker tells stream_events_multi_batch that the chunks are
        # supplied, so it does not split a table of its own into src
        open(os.path.join(self.src, ".chunks_ready"), "w").close()
        self.table = ManifestTable.create(os.path.join(work, "table"))
        self.sink = _Sink(self.table, tracer)
        self.per = EVENTS_PER_FILE
        self.n_sched = -(-seconds // int(PERIOD_S)) + FAILURE_FILES
        # failure ids: one event in each of the first N_FAILURES files of
        # the failure phase, at a seeded position
        rng = random.Random(seed)
        steady_files = self.n_sched - FAILURE_FILES
        self.fail_ids = {
            WARMUP_EVENTS + (steady_files + i) * self.per + rng.randrange(self.per) for i in range(N_FAILURES)
        }
        self.instances: list[dict] = []

    # -- query lifecycle ----------------------------------------------------

    def _start(self):
        from pyspark.sql import functions as F

        from flink_anomaly_spark.streaming.pipelines import stream_events_multi_batch
        from flink_anomaly_spark.streaming.recovery import make_failing_filter
        from flink_anomaly_spark.streaming.stateful import running_zscore_stream

        with self.tracer.span("streaming.start", f"instance{len(self.instances)}"):
            events = stream_events_multi_batch(self.spark, self.schema_dir, self.src)
            unstable = make_failing_filter(self.flags, self.fail_ids)
            scored = running_zscore_stream(events.filter(unstable(F.col("event_id"))), key="event_type")
            q = (
                scored.writeStream.foreachBatch(self.sink)
                .option("checkpointLocation", self.ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
        self.instances.append({"query": q})
        return q

    def _wait(self, q, until, deadline_s: float = PHASE_TIMEOUT_S, sample=None):
        """Poll until ``until()`` holds, restarting the query from its
        checkpoint whenever it dies of an injected failure."""
        deadline = time.time() + deadline_s
        while not until():
            if time.time() > deadline:
                raise TimeoutError("stream phase did not finish")
            if sample is not None:
                sample()
            try:
                terminated = q.awaitTermination(0.05)
            except StreamingQueryException:
                terminated = True
            if terminated:
                self.instances[-1]["progress"] = q.recentProgress
                if q.exception() is None or len(self.instances) > N_FAILURES + 1:
                    raise RuntimeError(f"stream stopped: {q.exception()}")
                q = self._start()
        return q

    def _write_file(self, k: int, first_id: int, n: int, mtime: float | None = None) -> None:
        ts = gen.now_us() + np.arange(n, dtype=np.int64)
        table = gen.stream_events(self.seed, k, first_id, ts, N_KEYS)
        gen.write_atomic(table, os.path.join(self.src, _file_name(k)), mtime)

    # -- the run --------------------------------------------------------------

    def run(self) -> dict:
        # schema probe file for the source (never streamed: wrong name)
        gen.write_atomic(
            gen.stream_events(self.seed, 0, 0, np.zeros(1, np.int64), N_KEYS),
            os.path.join(self.schema_dir, "events.parquet"),
        )
        self._write_file(0, 0, WARMUP_EVENTS)
        q = self._start()
        q = self._wait(q, lambda: self.sink.data_commits() >= 1)

        # steady + failure phases: the generator runs on its own schedule
        t0 = time.time() + 0.2
        # a plain child process, not multiprocessing: that would leave its
        # resource tracker running until this process exits
        args = [self.src, self.seed, t0, self.n_sched, 1, WARMUP_EVENTS, self.gen_log]
        proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), json.dumps(args)])
        backlog = [0]

        def sample():
            written = len([f for f in os.listdir(self.src) if f.startswith("chunk_")])
            backlog[0] = max(backlog[0], written - self.sink.data_commits())

        try:
            q = self._wait(
                q,
                lambda: self.sink.data_commits() >= 1 + self.n_sched,
                deadline_s=self.n_sched * PERIOD_S + PHASE_TIMEOUT_S,
                sample=sample,
            )
        finally:
            try:
                proc.wait(timeout=PHASE_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator exited with {proc.returncode}")

        # drain: the backlog lands at once
        first = WARMUP_EVENTS + self.n_sched * self.per
        k0 = 1 + self.n_sched
        t_backlog = time.time()
        for i in range(BACKLOG_FILES):
            # the source orders files by mtime in milliseconds: keep them apart
            self._write_file(k0 + i, first + i * BACKLOG_EVENTS, BACKLOG_EVENTS, mtime=t_backlog + 0.01 * i)
        done = 1 + self.n_sched + BACKLOG_FILES
        q = self._wait(q, lambda: self.sink.data_commits() >= done)
        q.stop()  # after stop, the last trigger's progress is in recentProgress
        self.instances[-1]["progress"] = q.recentProgress
        return self._results(t0, t_backlog, backlog[0])

    # -- results --------------------------------------------------------------

    def _generated(self):
        files = sorted(f for f in os.listdir(self.src) if f.startswith("chunk_"))
        t = pa.concat_tables(
            [pq.read_table(os.path.join(self.src, f), columns=["event_id", "ts", "event_type", "value"]) for f in files]
        )
        df = t.to_pandas()
        df["ts_s"] = t.column("ts").cast("int64").to_numpy() / 1e6
        return df

    def _results(self, t0: float, t_backlog: float, backlog_max: int) -> dict:
        from pyspark.sql import functions as F

        gen_df = self._generated()
        committed = (
            self.table.read(self.spark)
            .select("key", "event_id", "n_prev", "z", F.input_file_name().alias("file"))
            .toPandas()
        )
        commit_end = {}
        for c in self.sink.commits:
            for f in c["files"]:
                commit_end[os.path.basename(f)] = c["end"]
        committed["commit_end"] = committed["file"].map(lambda u: commit_end.get(u.rsplit("/", 1)[-1], np.nan))

        # correctness: every event exactly once, state continuous across
        # restarts, z equal to a batch recomputation over the files
        counts = committed["event_id"].value_counts()
        dup = int((counts > 1).sum())
        lost = int((~gen_df["event_id"].isin(counts.index)).sum())
        ref = reference_zscores(gen_df)
        merged = ref.merge(committed.drop_duplicates("event_id"), on="event_id", how="inner")
        z_bad = int(
            (
                (merged["z_ref"].isna() != merged["z"].isna())
                | ((merged["z_ref"] - merged["z"]).abs() > 1e-4)
                | (merged["n_ref"] != merged["n_prev"])
                | (merged["key_ref"] != merged["key"])
            ).sum()
        )
        failed = dup + lost + z_bad

        # event latency: creation to the return of the committing append
        lat = gen_df[["event_id", "ts_s"]].merge(committed[["event_id", "commit_end"]], on="event_id")
        steady = lat[(lat["ts_s"] >= t0) & (lat["ts_s"] < t0 + self.seconds)]
        lat_s = (steady["commit_end"] - steady["ts_s"]).dropna().tolist()
        # capacity: per drained batch, its events over the time since the
        # previous commit (the first from the backlog landing); median
        drain = lat[lat["ts_s"] >= t_backlog].groupby("commit_end").size().sort_index()
        gaps = np.diff(np.concatenate([[t_backlog], drain.index.to_numpy()]))
        capacity = hd_quantile((drain.to_numpy() / gaps).tolist(), 50)

        # recovery: injected failure (its flag file) to the first commit after
        recoveries = []
        for f in os.listdir(self.flags):
            t_fail = os.stat(os.path.join(self.flags, f)).st_mtime
            after = [c["end"] for c in self.sink.commits if c["start"] > t_fail and not c["skipped"]]
            if after:
                recoveries.append(min(after) - t_fail)

        with open(self.gen_log) as fh:
            lateness = json.load(fh)["lateness_s"]
        out = {
            "attempted": len(gen_df),
            "failed": failed,
            "check": {"events": len(gen_df), "duplicated": dup, "lost": lost, "z_mismatch": z_bad},
            # the events of one file commit together, so the tail rests
            # on the few steady commits, not on the event count
            "latency": {**summary(lat_s, 99), "commits": int(steady["commit_end"].nunique())},
            "throughput_per_s": capacity,
            "layers": self._layers(backlog_max, lateness, recoveries, len(committed)),
        }
        return out

    def _layers(self, backlog_max: int, lateness, recoveries, n_committed: int) -> dict:
        progress = [p for inst in self.instances for p in (inst.get("progress") or [])]
        data = [p for p in progress if p.get("numInputRows", 0) > 0]

        def med(key):
            vals = [p["durationMs"].get(key, 0) / 1e3 for p in data]
            return percentile(vals, 50) if vals else 0.0

        ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        replayed = [
            inst["progress"][0].get("numInputRows", 0)
            for inst in self.instances[1:]
            if inst.get("progress")
        ]
        appends = [c["end"] - c["start"] for c in self.sink.commits]
        processed = sum(p["numInputRows"] for p in progress) + sum(replayed)
        layers = {
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.latest_offset_s": med("latestOffset"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "streaming.state_commit_s": percentile([o.get("commitTimeMs", 0) / 1e3 for o in ops], 50) if ops else 0.0,
            "streaming.state_rows": max((o.get("numRowsTotal", 0) for o in ops), default=0),
            "streaming.state_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
            "streaming.rows_per_batch": percentile([p["numInputRows"] for p in data], 50) if data else 0.0,
            "streaming.backlog_files_max": backlog_max,
            "streaming.gen_lateness_max_s": max(lateness) if lateness else 0.0,
            "streaming.processed_per_committed": processed / max(1, n_committed),
            # every source row enters the pandas-UDF filter; foreachBatch
            # runs the batch plan under a nested execution, so the SQL
            # store holds no metrics for the Python nodes to read instead
            "operators.python_rows": processed,
            "recovery.restarts": len(self.instances) - 1,
            "recovery.replayed_batches": len(replayed),
            "recovery.recovery_s": percentile(recoveries, 50) if recoveries else 0.0,
            "manifest_table.append_s": percentile(appends, 50) if appends else 0.0,
            "manifest_table.files_written": sum(len(c["files"]) for c in self.sink.commits),
            "manifest_table.skipped_replays": sum(1 for c in self.sink.commits if c["skipped"]),
        }
        if self.reader is not None:
            t = time.perf_counter()
            jobs = [j for inst in self.instances for j in self.reader.job_ids(str(inst["query"].runId))]
            layers.update({f"operators.{k}": v for k, v in self.reader.stage_totals(jobs).items()})
            layers["operators.exec_s"] = sum(p["durationMs"].get("addBatch", 0) / 1e3 for p in data)
            layers["trace.collect_s"] = time.perf_counter() - t
        return layers


def reference_zscores(events):
    """Batch recomputation of the running z-score: per key, Welford
    prefix statistics in (ts, event_id) order, as the pipeline folds."""
    import math

    import pandas as pd

    rows = []
    for key, grp in events.sort_values(["ts", "event_id"]).groupby("event_type", sort=False):
        n, mean, m2 = 0, 0.0, 0.0
        for eid, x in zip(grp["event_id"], grp["value"]):
            z = None
            if n >= 2:
                var = m2 / (n - 1)
                if var > 0:
                    z = (x - mean) / math.sqrt(var)
            rows.append((eid, key, n, z))
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)
    return pd.DataFrame(rows, columns=["event_id", "key_ref", "n_ref", "z_ref"]).astype({"z_ref": "float64"})


if __name__ == "__main__":
    # the generator process: ``python3 stream.py '<generator_main args as JSON>'``
    generator_main(*json.loads(sys.argv[1]))
