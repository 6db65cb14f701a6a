"""Epoch records, Spark REST data, spans and layer self times.

Every epoch a query runs is read from Spark's public progress API. The
benchmark's foreachBatch wrapper (CommitLog) puts each epoch's sink
commit in its own job group and records when the commit returned, which
is when the epoch's manifest became visible. In a traced run the Spark
UI is on and its REST API supplies job, stage and task times. Spans are
kept in memory and written to one JSON file when the run ends:

    workload -> query -> epoch -> phase | sink.commit -> job -> stage

A layer's self time is the part of its spans' time not covered by their
children.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from datetime import datetime, timezone

# durationMs phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


class CommitLog:
    """foreachBatch body: commits the epoch to the table inside its own
    job group and records the commit's wall interval."""

    def __init__(self, spark, table, tag: str):
        self.sc, self.table, self.tag = spark.sparkContext, table, tag
        self.commits: dict[int, tuple[float, float]] = {}

    def group(self, epoch_id: int) -> str:
        return f"{self.tag}-e{epoch_id}"

    def __call__(self, batch_df, epoch_id: int) -> None:
        self.sc.setJobGroup(self.group(epoch_id), f"perfbench {self.tag}")
        t0 = time.time()
        self.table.commit(batch_df, epoch_id)
        self.commits[epoch_id] = (t0, time.time())


def progress_records(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def progress_start(p: dict) -> float:
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=timezone.utc).timestamp()


def _source_log(checkpoint_dir: str) -> dict[str, int]:
    """File name -> the file source's own log offset, read from the query
    checkpoint (one JSON entry per file, compacted every 10 offsets)."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for fn in os.listdir(log_dir):
        if fn.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, fn)) as f:
                lines = f.read().splitlines()
        except OSError:
            continue  # being compacted or replaced
        for line in lines[1:]:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # partially written
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _log_offset(o) -> int:
    if o is None:
        return -1
    if isinstance(o, str):
        o = json.loads(o)
    return int(o["logOffset"])


def file_batches(checkpoint_dir: str, progress: list[dict]
                 ) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The source log
    counts only offsets that found new files, so a micro-batch owns the
    log offsets in (startOffset, endOffset] of its progress record."""
    owner = {}
    for p in progress:
        src = p["sources"][0]
        lo, hi = _log_offset(src.get("startOffset")), \
            _log_offset(src.get("endOffset"))
        for o in range(lo + 1, hi + 1):
            owner[o] = p["batchId"]
    return {name: owner[o] for name, o in _source_log(checkpoint_dir).items()
            if o in owner}


def union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z") \
        .replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Read-only client for the local Spark UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}/")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions once no job is running."""
        deadline = time.time() + settle_s
        while True:
            jobs = self.get("jobs")
            if (not any(j["status"] == "RUNNING" for j in jobs)
                    or time.time() > deadline):
                break
            time.sleep(0.2)
        stages = self.get("stages")
        sql = self.get("sql?details=false&planDescription=true"
                       "&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def tasks(self, stage: dict) -> list[dict]:
        return self.get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                        f"/taskList?offset=0&length=100000")


class Tracer:
    """Collects spans for one run and derives the per-layer self times."""

    def __init__(self, rest: SparkRest):
        self.rest = rest
        self.spans: list[dict] = []
        self.self_s: dict[str, float] = {}
        self.fused_task_ms: list[int] = []
        self.state_skew: list[float] = []
        # state.exchange_bytes: what the state stages read from the
        # exchange, i.e. the bytes written into it
        self.counts = {"fused.tasks": 0, "state.tasks": 0,
                       "state.exchange_bytes": 0}
        self.job_s = {"write": 0.0, "lineage": 0.0}

    def span(self, name: str, start: float, end: float,
             parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "start": start, "end": end,
                           **attrs})
        return len(self.spans) - 1

    def add_self(self, layer: str, seconds: float) -> None:
        self.self_s[layer] = self.self_s.get(layer, 0.0) + seconds

    def record_query(self, parent: int, log: CommitLog,
                     progress: list[dict], snap: dict) -> None:
        """Epoch, phase, commit, job and stage spans for one query. A job
        of an epoch's group is the sink's write job when its SQL
        execution inserts files; its other jobs list and scan what was
        written (the lineage pass)."""
        jobs_by_group: dict[str, list] = {}
        for j in snap["jobs"]:
            jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)
        write_jobs = {i for x in snap["sql"]
                      if "InsertIntoHadoopFsRelationCommand"
                      in x.get("planDescription", "")
                      for i in x.get("successJobIds", [])}
        stages_by_id = {s["stageId"]: s for s in snap["stages"]
                        if s["status"] == "COMPLETE"}
        for p in progress:
            eid = p["batchId"]
            d = p["durationMs"]
            t0 = progress_start(p)
            ep = self.span("epoch", t0, t0 + d["triggerExecution"] / 1e3,
                           parent, epoch=eid, input_rows=p["numInputRows"])
            cur = t0
            for ph in PHASES:
                ms = d.get(ph, 0)
                self.span(f"stream.{ph}", cur, cur + ms / 1e3, ep)
                cur += ms / 1e3
                if ph != "addBatch":
                    self.add_self("stream", ms / 1e3)
            if eid not in log.commits:
                continue
            c0, c1 = log.commits[eid]
            cs = self.span("sink.commit", c0, c1, ep, epoch=eid)
            jobs = jobs_by_group.get(log.group(eid), [])
            ivals = []
            for j in jobs:
                j0 = _rest_time(j.get("submissionTime"))
                j1 = _rest_time(j.get("completionTime"))
                if j0 is None or j1 is None:
                    continue
                ivals.append((j0, j1))
                kind = "write" if j["jobId"] in write_jobs else "lineage"
                js = self.span(f"sink.{kind}_job", j0, j1, cs,
                               job_id=j["jobId"])
                self.job_s[kind] += j1 - j0
                st_ivals = []
                stages = [stages_by_id[i] for i in sorted(j["stageIds"])
                          if i in stages_by_id]
                for k, s in enumerate(stages):
                    s0 = _rest_time(s.get("submissionTime"))
                    s1 = _rest_time(s.get("completionTime"))
                    if s0 is None or s1 is None:
                        continue
                    st_ivals.append((s0, s1))
                    layer = self._classify(kind, s, k == len(stages) - 1)
                    self.span(f"stage.{layer}", s0, s1, js,
                              stage_id=s["stageId"], tasks=s["numTasks"])
                    if kind == "write":
                        self.add_self(layer, s1 - s0)
                        self._stage_counts(layer, s)
                if kind == "write":
                    self.add_self("sink.write_job",
                                  (j1 - j0) - union_len(st_ivals))
                else:
                    self.add_self("sink.lineage_job", j1 - j0)
            self.add_self("sink.driver", (c1 - c0) - union_len(ivals))

    @staticmethod
    def _classify(job_kind: str, stage: dict, last: bool) -> str:
        """Layer of a stage. In the write job the last stage runs the
        state operator and writes the epoch's rows; stages that read no
        shuffle scan the source (on the classic path they also run the
        Arrow UDF); the rest are the fused read+featurize stages. Every
        stage of the other commit jobs belongs to the sink's lineage
        scan."""
        if job_kind != "write":
            return "sink.lineage"
        if last:
            return "state"
        if stage["shuffleReadBytes"] == 0:
            return "stream.source_stage"
        return "fused"

    def _stage_counts(self, layer: str, s: dict) -> None:
        if layer == "fused":
            self.counts["fused.tasks"] += s["numTasks"]
            self.fused_task_ms.extend(
                t["duration"] for t in self.rest.tasks(s)
                if t.get("duration") is not None)
        elif layer == "state":
            self.counts["state.tasks"] += s["numTasks"]
            self.counts["state.exchange_bytes"] += s["shuffleReadBytes"]
            if s["shuffleReadBytes"] > 0:
                per_task = [
                    sum(t.get("taskMetrics", {}).get(
                        "shuffleReadMetrics", {}).get(k, 0)
                        for k in ("localBytesRead", "remoteBytesRead"))
                    for t in self.rest.tasks(s)]
                mean = statistics.fmean(per_task) if per_task else 0
                if mean > 0:
                    self.state_skew.append(max(per_task) / mean)

    def task_skew(self) -> float:
        d = self.fused_task_ms
        if not d:
            return 0.0
        med = statistics.median(d)
        return max(d) / med if med > 0 else 0.0

    def partition_skew(self) -> float:
        return max(self.state_skew) if self.state_skew else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_s}, f)
        os.replace(tmp, path)
