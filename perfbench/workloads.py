"""The benchmark's workloads, driven through glcmstream's public functions.

backfill_fused: a pre-landed backlog of bench-shape pages (no hot host)
    drained by availableNow queries (a warm-up, then one measured):
    fused.fused_features_stream -> stream.windowed_agg_over_features ->
    sink.IcebergLiteTable. The fused read+featurize stage is about half
    of each drain; state and sink pay once per drain, so an Arrow, scan
    or split-balance gain shows here, and a kernel gain in part.
backfill_sliding_skew: a pre-landed backlog with a hot host (40% of
    pages) drained through stream.pages_stream at SLIDING_TRIGGER_FRAC of
    the files per trigger -> state.stateful_glcm_pane_agg_bucketed ->
    sink, then state.sliding_windows_from_emissions over the committed
    table. html crosses the Arrow boundary, 4 KiB count vectors cross the
    state exchange into skewed buckets, and every epoch pays the Python
    state tasks and RocksDB commits. The fused path is bypassed.
trickle_tumbling: an open loop. loadgen.py lands 50-doc files at a fixed
    rate into a live directory read by stream.pages_stream (no
    per-trigger cap, default trigger) -> state.stateful_glcm_agg_bucketed
    -> sink. Runnable, but not in BENCHMARK.json (see README.md).

Each workload makes its inputs from the seed and checks every committed
output against a batch reference computed by an independent route
(check.py). measure() runs and times the workload; check() then reads
its results back and compares them, outside the measured time.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import check
import fixtures
import host
from tracing import (CommitLog, Tracer, file_batches, progress_records,
                     progress_start)

HERE = os.path.dirname(os.path.abspath(__file__))
# warm-up pages come in this many one-row-group files, so a warm-up query
# runs that many Python tasks and starts a worker on every core
WARM_FILES = 8
# backfill_sliding_skew reads this share of its files per trigger
SLIDING_TRIGGER_FRAC = 0.5

# Workload sizes. "smoke" runs every workload at tiny scale; its figures
# only prove that the pipelines and the output format work.
SCALES = {
    "full": {"fused_rows": 16500, "fused_files": 12, "warm_rows": 256,
             "sliding_rows": 2640, "sliding_files": 16,
             "trickle_rate": 5.0, "trickle_rows_per_file": 50},
    "smoke": {"fused_rows": 1100, "fused_files": 4, "warm_rows": 128,
              "sliding_rows": 440, "sliding_files": 4,
              "trickle_rate": 10.0, "trickle_rows_per_file": 20},
}


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    python_state: bool = False
    report: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


def raw_figures(docs_per_s: float, lat: list[float]) -> dict:
    """The end-to-end figures as measured, before run.py rescales them to
    the reference host."""
    return {"docs_per_s": docs_per_s,
            "result_latency_p50_s": percentile(lat, 50) if lat else 0.0,
            "result_latency_p90_s": percentile(lat, 90) if lat else 0.0}


def stream_layers(progress: list[dict]) -> tuple[dict, bool]:
    """stream.* and state.* figures from the progress records, and
    whether the state operator runs in Python."""
    sums = {k: 0 for k in ("walCommit", "queryPlanning", "latestOffset",
                           "commitOffsets")}
    fixed, rows_total, mem, commit, update, dropped = [], 0, 0, 0, 0, 0
    python_state = False
    for p in progress:
        d = p["durationMs"]
        for k in sums:
            sums[k] += d.get(k, 0)
        if p["numInputRows"] > 0:
            fixed.append(d["triggerExecution"] - d.get("addBatch", 0))
        ops = p.get("stateOperators", [])
        rows_total = max(rows_total, sum(o["numRowsTotal"] for o in ops))
        mem = max(mem, sum(o["memoryUsedBytes"] for o in ops))
        commit += sum(o["commitTimeMs"] for o in ops)
        update += sum(o["allUpdatesTimeMs"] for o in ops)
        dropped += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        python_state |= any("InPandas" in o.get("operatorName", "")
                            for o in ops)
    return {
        "stream.epochs": len(progress),
        "stream.input_rows": sum(p["numInputRows"] for p in progress),
        "stream.rows_dropped_by_watermark": dropped,
        "stream.wal_commit_ms": sums["walCommit"],
        "stream.query_planning_ms": sums["queryPlanning"],
        "stream.latest_offset_ms": sums["latestOffset"],
        "stream.commit_offsets_ms": sums["commitOffsets"],
        "stream.epoch_fixed_ms_p50": (statistics.median(fixed)
                                      if fixed else 0),
        "state.rows_total": rows_total,
        "state.memory_bytes": mem,
        "state.commit_ms": commit,
        "state.update_ms": update,
    }, python_state


def dropped_epochs(progress: list[dict]) -> set[int]:
    return {p["batchId"] for p in progress
            if sum(o.get("numRowsDroppedByWatermark", 0)
                   for o in p.get("stateOperators", [])) > 0}


def sink_files(table) -> tuple[int, int]:
    paths = [f for m in table.manifests() for f in m["files"]]
    return len(paths), sum(os.path.getsize(f) for f in paths)


def epoch_table(progress: list[dict], t0: float) -> list:
    """(batch, start after t0, input rows, trigger ms, addBatch ms)."""
    return [(p["batchId"], round(progress_start(p) - t0, 2),
             p["numInputRows"], p["durationMs"]["triggerExecution"],
             p["durationMs"].get("addBatch", 0)) for p in progress]


def max_backlog(landed: list[float], commits: list[tuple[float, int]]
                ) -> int:
    """Most files landed but not yet committed at any instant. `commits`
    holds (time, files made visible)."""
    events = [(t, 1) for t in landed] + [(t, -k) for t, k in commits]
    # at equal times, commits first: a file is not counted as waiting at
    # the instant it becomes visible
    events.sort(key=lambda e: (e[0], e[1]))
    cur = peak = 0
    for _, k in events:
        cur += k
        peak = max(peak, cur)
    return peak


def warm_pages(cache: str, seed: int, rows: int) -> str:
    return fixtures.pages(cache, seed=seed + 1_000_003, n_files=WARM_FILES,
                          n_docs=fixtures.base_docs_for_rows(rows),
                          row_group_rows=rows)


def run_query(spark, sdf, d: str, tag: str, once: bool = False) -> dict:
    """Drain `sdf` into a fresh IcebergLiteTable under `d` with an
    availableNow (or trigger-once) update-mode query."""
    from glcmstream.sink import IcebergLiteTable
    table = IcebergLiteTable(os.path.join(d, "table"))
    log = CommitLog(spark, table, tag)
    w = (sdf.writeStream.outputMode("update")
         .option("checkpointLocation", os.path.join(d, "ckpt"))
         .foreachBatch(log))
    q = (w.trigger(once=True) if once
         else w.trigger(availableNow=True)).start()
    error = None
    try:
        q.awaitTermination()
    except Exception as e:  # a failed query counts as failed epochs
        error = repr(e)
    return {"tag": tag, "query": q, "table": table, "log": log,
            "error": error, "ckpt": os.path.join(d, "ckpt")}


class Workload:
    name = ""
    columns = (check.STATE_KEYS, check.STATE_INTS, check.STATE_FLOATS)

    def __init__(self, work: str, cache: str, seed: int, seconds: float,
                 scale: str):
        self.work, self.cache, self.seed = work, cache, seed
        self.seconds, self.scale = seconds, SCALES[scale]

    def query_dir(self, tag: str) -> str:
        d = os.path.join(self.work, self.name, tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def probe_dir(self) -> str:
        return self.pages

    def warm_query(self, spark) -> None:
        """The first query of a session: a batch featurize of the warm-up
        pages through the classic Arrow UDF path, which starts a Python
        worker per core."""
        from glcmstream import plan, stream
        plan.featurize(stream.read_pages_batch(spark, self.warm)).collect()

    def check(self, spark, pool, out: Outcome) -> float:
        """Compare every committed result with the batch reference and
        count the failed epochs; returns the reference's time. Reading a
        result back is the workload's finalize step: state.finalize_s is
        the median over the results."""
        t = time.perf_counter()
        ref = self.reference(spark, pool)
        reference_s = time.perf_counter() - t
        failed, finalize, checks = set(), [], {}
        for tag, table, commits, progress in self.results():
            t = time.perf_counter()
            got = self.result(spark, table)
            finalize.append(time.perf_counter() - t)
            bad = check.compare(got, ref, *self.columns)
            epochs = set(bad.epochs) | dropped_epochs(progress)
            # finalized results carry no epoch: a mismatch fails the last
            if bad.failed() and not bad.epochs:
                epochs.add(max(commits, default=0))
            failed |= {(tag, e) for e in epochs}
            checks[tag] = bad.summary()
        out.failed = min(out.attempted, len(failed) + bool(out.errors))
        out.layers["state.finalize_s"] = statistics.median(finalize)
        out.report.update({"errors": out.errors, "check": checks})
        return reference_s

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# backfills: measured availableNow drains of a pre-landed backlog
# ---------------------------------------------------------------------------

class Backfill(Workload):
    """Shared flow of the backfill workloads. A subclass builds the
    streaming DataFrame, reads back its result and computes the batch
    reference."""

    files_key = rows_key = ""
    per_trigger_frac: float | None = None
    hot_host_frac = 0.0

    def prepare(self) -> None:
        s = self.scale
        self.n_files = s[self.files_key]
        self.pages = fixtures.pages(
            self.cache, seed=self.seed, n_files=self.n_files,
            n_docs=fixtures.base_docs_for_rows(s[self.rows_key]),
            row_group_rows=256, hot_host_frac=self.hot_host_frac)
        self.warm = warm_pages(self.cache, self.seed, s["warm_rows"])
        self.rows = sum(fixtures.row_counts(self.pages).values())

    def stream_df(self, spark, pages: str, d: str, per_trigger):
        raise NotImplementedError

    def stream_warm_up(self, spark) -> None:
        """No streaming warm-up: the first drain pays the session's
        streaming JIT and state store set-up, as every backfill job
        does."""

    def drain(self, spark, tag: str, per_trigger,
              pages: str | None = None) -> dict:
        d = self.query_dir(tag)
        t0 = time.time()
        sdf = self.stream_df(spark, pages or self.pages, d, per_trigger)
        t_plan = time.time()
        dr = run_query(spark, sdf, d, tag)
        dr.update(t0=t0, t_plan=t_plan, t1=time.time(),
                  progress=progress_records(dr["query"]))
        return dr

    def measure(self, spark) -> Outcome:
        """One drain of the backlog into a fresh table."""
        per = (max(1, round(self.n_files * self.per_trigger_frac))
               if self.per_trigger_frac else None)
        self.dr = dr = self.drain(spark, "d0", per)

        out = Outcome(attempted=max(1, len(dr["progress"])))
        if dr["error"]:
            out.errors.append(dr["error"])
        commits = dr["log"].commits
        lat = [commits[b][1] - dr["t0"]
               for b in file_batches(dr["ckpt"], dr["progress"]).values()
               if b in commits]
        if len(lat) < self.n_files:
            out.errors.append(f"{dr['tag']}: {len(lat)}/{self.n_files} "
                              "files committed")
        wall = dr["t1"] - dr["t0"]
        out.report.update({
            "drain_s": wall,
            "epochs": epoch_table(dr["progress"], dr["t0"]),
            "latency_samples": len(lat)})
        out.report["raw"] = raw_figures(self.rows / wall, lat)
        out.layers, out.python_state = stream_layers(dr["progress"])
        files, nbytes = sink_files(dr["table"])
        out.layers.update({
            "sink.files_written": files, "sink.bytes_written": nbytes,
            "workload.wall_s": wall,
            "fused.plan_s": self.fused_plan_s(dr),
        })
        return out

    def fused_plan_s(self, dr: dict) -> float:
        return 0.0

    def results(self) -> list:
        dr = self.dr
        return [(dr["tag"], dr["table"], dr["log"].commits, dr["progress"])]

    def trace(self, tracer: Tracer, root: int, snap: dict) -> float:
        """Spans of the measured drain; returns its wall time."""
        dr = self.dr
        qs = tracer.span("query", dr["t0"], dr["t1"], root, tag=dr["tag"])
        if self.fused_plan_s(dr):
            tracer.span("fused.plan", dr["t0"], dr["t_plan"], qs)
            tracer.add_self("fused.plan", self.fused_plan_s(dr))
        tracer.record_query(qs, dr["log"], dr["progress"], snap)
        return dr["t1"] - dr["t0"]


class BackfillFused(Backfill):
    """A warm-up drain of the first half of the backlog's files, then the
    measured drain of all of it. The first drains of a session run slower
    than the later ones (on a quiet 4-core host: 12.9 s, 9.1 s, then
    7.8 s); the warm-up takes the slowest. A second measured drain, or a
    warm-up of the whole backlog, made a run 10-14 s longer on a busy
    host, more than the run budget allows there."""

    name = "backfill_fused"
    files_key, rows_key = "fused_files", "fused_rows"
    columns = (check.FUSED_KEYS, check.FUSED_INTS, check.FUSED_FLOATS)

    def stream_df(self, spark, pages, d, per_trigger):
        from glcmstream import fused, stream
        return stream.windowed_agg_over_features(fused.fused_features_stream(
            spark, pages, os.path.join(d, "manifests"),
            max_files_per_trigger=per_trigger))

    def stream_warm_up(self, spark) -> None:
        half = self.query_dir("warm-backlog")
        names = sorted(n for n in os.listdir(self.pages)
                       if n.endswith(".parquet"))
        for n in names[:len(names) // 2]:
            shutil.copy2(os.path.join(self.pages, n), os.path.join(half, n))
        self.drain(spark, "warm", None, half)

    def fused_plan_s(self, dr: dict) -> float:
        # building the DataFrame plans the splits and writes the manifests
        return dr["t_plan"] - dr["t0"]

    def result(self, spark, table):
        return check.latest_fused(spark, table)

    def reference(self, spark, pool):
        return check.fused_reference(pool, host.splits(self.pages))


class BackfillSlidingSkew(Backfill):
    """Runs cold (no streaming warm-up): a warm-up epoch here costs about
    12 s of the run, while three cold drains in one host window agreed
    within 3-5 %."""

    name = "backfill_sliding_skew"
    files_key, rows_key = "sliding_files", "sliding_rows"
    per_trigger_frac = SLIDING_TRIGGER_FRAC
    hot_host_frac = 0.4

    def stream_df(self, spark, pages, d, per_trigger):
        from glcmstream import state, stream
        return state.stateful_glcm_pane_agg_bucketed(stream.pages_stream(
            spark, pages, max_files_per_trigger=per_trigger))

    def result(self, spark, table):
        from glcmstream import state
        return state.sliding_windows_from_emissions(
            table.read(spark)).toPandas()

    def reference(self, spark, pool):
        return check.sliding_reference(spark, self.pages)


# ---------------------------------------------------------------------------
# trickle_tumbling: open loop into a live query
# ---------------------------------------------------------------------------

class TrickleTumbling(Workload):
    name = "trickle_tumbling"

    def prepare(self) -> None:
        s = self.scale
        self.n_files = max(2, round(s["trickle_rate"] * self.seconds))
        per = s["trickle_rows_per_file"]
        # file 0 is landed before the query starts: pages_stream reads
        # the directory's schema, and the query's first epoch warms it
        self.pages = fixtures.pages(
            self.cache, seed=self.seed, n_files=self.n_files + 1,
            n_docs=fixtures.base_docs_for_rows(per * (self.n_files + 1)),
            row_group_rows=per * 4)
        self.warm = warm_pages(self.cache, self.seed, s["warm_rows"])
        self.file_rows = fixtures.row_counts(self.pages)
        self.d = self.query_dir("live")
        self.stage = os.path.join(self.d, "stage")
        self.live = os.path.join(self.d, "live")
        self.ckpt = os.path.join(self.d, "ckpt")
        names = fixtures.copy_tree(self.pages, self.stage)
        os.makedirs(self.live)
        os.replace(os.path.join(self.stage, names[0]),
                   os.path.join(self.live, names[0]))

    def stream_warm_up(self, spark) -> None:
        """Start the live query and let it commit file 0."""
        from glcmstream import state, stream
        from glcmstream.sink import IcebergLiteTable
        self.table = IcebergLiteTable(os.path.join(self.d, "table"))
        self.log = CommitLog(spark, self.table, "trickle")
        sdf = stream.pages_stream(spark, self.live,
                                  max_files_per_trigger=None)
        self.q = (state.stateful_glcm_agg_bucketed(sdf).writeStream
                  .outputMode("update")
                  .option("checkpointLocation", self.ckpt)
                  .foreachBatch(self.log).start())
        self._wait(lambda: 0 in self.log.commits, timeout_s=120)

    def _wait(self, done, timeout_s: float) -> bool:
        """Poll until done() holds; False on timeout or query failure."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if self.q.exception() is not None:
                return False
            if done():
                return True
            time.sleep(0.1)
        return False

    def _land(self) -> dict:
        """Run the generator process; returns its landing record."""
        rec_path = os.path.join(self.d, "landings.json")
        rate = self.scale["trickle_rate"]
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), self.stage,
             self.live, repr(time.time() + 0.2), repr(rate), rec_path])
        try:
            gen.wait(timeout=self.n_files / rate + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with open(rec_path) as f:
            return json.load(f)

    def measure(self, spark) -> Outcome:
        rec = self._land()
        measured, due, landed = rec["files"], rec["due"], rec["landed"]

        def all_committed() -> bool:
            b = file_batches(self.ckpt, progress_records(self.q))
            return all(n in b and b[n] in self.log.commits for n in measured)

        drained = self._wait(all_committed, timeout_s=120)
        error = self.q.exception()
        self.q.stop()
        progress = progress_records(self.q)
        batches = file_batches(self.ckpt, progress)
        commits = self.log.commits
        visible = {n: commits[batches[n]][1] for n in measured
                   if batches.get(n) in commits}
        lat = [visible[n] - t for n, t in zip(measured, due) if n in visible]
        t0 = due[0]
        t1 = max(visible.values(), default=time.time())
        # epochs before the first file was due belong to the warm-up
        self.t0, self.t1 = t0, t1
        self.progress = [p for p in progress if progress_start(p) >= t0]

        self.progress_all = progress

        out = Outcome(attempted=max(1, len(progress)))
        if error is not None:
            out.errors.append(str(error))
        if not drained or len(lat) < len(measured):
            out.errors.append(f"{len(lat)}/{len(measured)} files committed "
                              "before the deadline")
        out.report.update({"epochs": epoch_table(progress, t0),
                           "latency_samples": len(lat)})
        docs = sum(self.file_rows[n] for n in measured)
        out.report["raw"] = raw_figures(docs / (t1 - t0), lat)
        out.layers, out.python_state = stream_layers(progress)
        # source lag: files landed by an epoch's commit that no epoch up to
        # it has read (file 0 landed before timing)
        lag, read = 0, 1
        for p in self.progress:
            read += sum(1 for n in measured if batches.get(n) == p["batchId"])
            if p["batchId"] in commits:
                end = commits[p["batchId"]][1]
                lag = max(lag, 1 + sum(t <= end for t in landed) - read)
        per_batch: dict[int, int] = {}
        for n in visible:
            per_batch[batches[n]] = per_batch.get(batches[n], 0) + 1
        files, nbytes = sink_files(self.table)
        out.layers.update({
            "sink.files_written": files, "sink.bytes_written": nbytes,
            "workload.wall_s": t1 - t0,
            "fused.plan_s": 0.0,
        })
        # the open loop's own figures; they join the per-layer metrics
        # when this workload is admitted to BENCHMARK.json
        out.report["open_loop"] = {
            "source_lag_files": lag,
            "max_backlog_files": max_backlog(
                landed, [(commits[b][1], k) for b, k in per_batch.items()]),
            "late_max_s": max(a - d for a, d in zip(landed, due)),
        }
        return out

    def results(self) -> list:
        return [("trickle", self.table, self.log.commits, self.progress_all)]

    def result(self, spark, table):
        return check.latest_stateful(spark, table)

    def reference(self, spark, pool):
        return check.stateful_reference(spark, self.live)

    def trace(self, tracer: Tracer, root: int, snap: dict) -> float:
        t1 = max([self.t1] + [progress_start(p)
                              + p["durationMs"]["triggerExecution"] / 1e3
                              for p in self.progress])
        qs = tracer.span("query", self.t0, t1, root, tag="trickle")
        tracer.record_query(qs, self.log, self.progress, snap)
        return t1 - self.t0

    def close(self) -> None:
        q = getattr(self, "q", None)
        if q is not None and q.isActive:
            q.stop()


WORKLOADS = {w.name: w for w in (BackfillFused, BackfillSlidingSkew,
                                  TrickleTumbling)}
