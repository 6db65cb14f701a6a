"""Host fit, memory sampling, the kernel-only probes and session teardown.

Everything here runs outside the engine: it sizes the session to the
host through glcmstream's environment knobs, samples the memory of the
JVM and its Python workers from /proc, and measures the numpy kernel with
no Spark in the loop.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import tempfile
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The machine's cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal (in clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy, idle and steal shares of the machine's CPU time between two
    cpu_times() readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total,
            "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def ram_gib() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def configure_env(work_dir: str, src_dir: str, trace: bool) -> dict:
    """Set the environment the engine reads before the JVM starts.

    glcmstream.session pins 24g of heap and 24g of direct memory, more
    than a small host has; a quarter of RAM (at most 4g) and an eighth
    (at most 2g) fit this benchmark's inputs with room to spare. Every
    other get_spark default is kept. Temporary and Spark local files go
    under the work dir so a run writes nothing outside its checkout.
    """
    ram = ram_gib()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "GLCMSTREAM_DRIVER_MEM": f"{max(1, min(4, int(ram // 4)))}g",
        "GLCMSTREAM_DIRECT_MEM": f"{max(1, min(2, int(ram // 8)))}g",
        "GLCMSTREAM_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file: HotSpot writes it to /tmp whatever tmpdir is
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (src_dir, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


EFFECTIVE_CONF_KEYS = (
    "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
    "spark.sql.shuffle.partitions", "spark.ui.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.streaming.stateStore.providerClass",
)


def effective_confs(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in EFFECTIVE_CONF_KEYS}
    out["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions")
    return out


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers are split among them instead of counted once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _parents() -> dict[int, int]:
    """The parent of every process, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def _tree_pss_bytes(root: int) -> tuple[int, int]:
    """Memory of `root` alone, and of `root` with all of its
    descendants."""
    parent = _parents()
    tree = {root}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        grew = bool(kids)
        tree |= kids
    own = total = 0
    for pid in tree:
        try:
            pss = _pss_bytes(pid)
        except OSError:
            continue
        total += pss
        if pid == root:
            own = pss
    return own, total


class MemSampler:
    """Background sampler of the memory of the JVM's process tree (the
    JVM plus the Python daemon and workers it forks); keeps the peak."""

    def __init__(self, pid: int, period_s: float = 0.2):
        self.pid, self.period_s = pid, period_s
        self.peak = self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            own, total = _tree_pss_bytes(self.pid)
            self.peak = max(self.peak, total)
            self.peak_root = max(self.peak_root, own)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# kernel-only probes (bench.calibration_probe's approach: the fused
# stage's worker-side body on a fixed set of row groups, no Spark)
# ---------------------------------------------------------------------------

def splits(pages_dir: str, max_docs: int | None = None) -> list:
    """(path, row_group) splits in sorted-path order: all of them, or the
    first ones that hold at least max_docs docs."""
    import pyarrow.parquet as pq
    out, n = [], 0
    for fn in sorted(os.listdir(pages_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(pages_dir, fn)
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            out.append((path, rg))
            n += md.row_group(rg).num_rows
            if max_docs is not None and n >= max_docs:
                return out
    return out


def featurize_split(split) -> int:
    import pyarrow.parquet as pq
    from glcmstream import fused, kernel
    path, rg = split
    n = 0
    pf = pq.ParquetFile(path)
    for b in pf.iter_batches(batch_size=512, row_groups=[rg],
                             columns=["html"], use_threads=False):
        kernel.featurize_htmls(fused.binary_views(b.column("html")))
        n += len(b)
    return n


# The host probe: a frozen copy of the shape of glcmstream's kernel as it
# stood when this benchmark was written (per document: quantize the bytes
# into 256-wide rows of 32 levels, one bincount of pair codes per
# displacement, normalize, Haralick sums), run on the workload's own row
# groups as the kernel probe is. It tracks the host the way the engine's
# kernel does, but a change to the engine never moves it, so dividing by
# it corrects for host drift without hiding a kernel gain.
_DISPS = ((0, 1), (1, 1), (1, 0), (1, -1), (0, 2), (1, 1), (2, 0), (1, -1))


def frozen_featurize(docs: list) -> None:
    import numpy as np
    W, L = 256, 32
    d = np.subtract.outer(np.arange(L), np.arange(L)).astype(float)
    for s in range(0, len(docs), 256):
        batch = docs[s:s + 256]
        rows = (max(len(x) for x in batch) + W - 1) // W + 2
        planes = np.zeros((len(batch), rows * W), np.uint8)
        for k, x in enumerate(batch):
            planes[k, :len(x)] = np.frombuffer(x, np.uint8)
        planes = (planes >> 3).reshape(len(batch), rows, W)
        counts = np.zeros((len(batch), L * L))
        for dr, dc in _DISPS:
            c0, c1 = max(0, -dc), W - max(0, dc)
            a = planes[:, :rows - dr, c0:c1]
            b = planes[:, dr:, c0 + dc:c1 + dc]
            for k in range(len(batch)):
                counts[k] += np.bincount((a[k].astype(np.int32) * L
                                          + b[k]).ravel(), minlength=L * L)
        P = counts.reshape(-1, L, L)
        P = P + P.transpose(0, 2, 1)
        P /= P.sum(axis=(1, 2), keepdims=True)
        for w in (d * d, np.abs(d), 1 / (1 + d * d)):
            np.einsum("nij,ij->n", P, w)
        np.einsum("nij,nij->n", P, P)


# The host probe's reading on a quiet 4-core host. The end-to-end figures
# are rescaled to a host that reads this.
HOST_REF_DOCS_S = 32000.0


def host_probe_split(split) -> int:
    import pyarrow.parquet as pq
    path, rg = split
    t = pq.ParquetFile(path).read_row_group(rg, columns=["html"],
                                            use_threads=False)
    docs = t.column("html").to_pylist()
    frozen_featurize(docs)
    return len(docs)


class ProbePool:
    """An nproc-process pool for fixed-work probes taken at set points of
    each run: the engine's kernel and the host probe above, each on a
    fixed split list (docs/s), so host drift can be told apart from a
    code change. Also runs the batch reference of backfill_fused."""

    def __init__(self, splits: list, procs: int):
        self.splits, self.procs = splits, procs
        self._pool = multiprocessing.get_context("spawn").Pool(procs)

    def _rate(self, fn, items: list) -> float:
        self._pool.map(fn, items[:self.procs], chunksize=1)  # warm
        t0 = time.perf_counter()
        n = sum(self._pool.map(fn, items, chunksize=1))
        return n / (time.perf_counter() - t0)

    def kernel_docs_per_s(self) -> float:
        return self._rate(featurize_split, self.splits)

    def host_docs_per_s(self) -> float:
        return self._rate(host_probe_split, self.splits * 2)

    def map(self, fn, items: list) -> list:
        return self._pool.map(fn, items, chunksize=1)

    def close(self) -> None:
        self._pool.close()
        self._pool.join()


def single_core_docs_per_s(splits: list) -> float:
    featurize_split(splits[0])  # warm
    t0 = time.perf_counter()
    n = sum(featurize_split(s) for s in splits)
    return n / (time.perf_counter() - t0)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants. The
    Python daemon the JVM forks outlives the JVM by a moment; adopted, it
    is a child that end_children() can wait for."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER,
                                            1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid, pp in _parents().items() if pp == me]


def end_children(grace_s: float = 10.0) -> None:
    """Stop multiprocessing's resource tracker and wait for it, then wait
    for every other child (adopted ones too) to exit: terminated after
    grace_s, killed after twice that."""
    import gc
    import signal
    from multiprocessing import resource_tracker
    gc.collect()  # release the probe pool's semaphores first
    resource_tracker._resource_tracker._stop()
    t0 = time.monotonic()
    sent = None
    while True:
        kids = _children()
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > 2 * grace_s else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to
    exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
