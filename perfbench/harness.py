"""Process plumbing for the benchmark: work directory, Spark session,
peak-RSS sampler, spans, status-store readers and output checks.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout. Tracing is done from outside the package: spans are recorded
around calls into the package's public functions and kept in memory, and
Spark stage metrics are read from the status store over py4j (this works
with ``spark.ui.enabled=false``).
"""
from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
MB = 1 << 20


def cores() -> int:
    """Spark task slots: half the usable cores. A pass is a chain of small
    jobs, so more slots do not make it faster, and the spare cores keep the
    Spark driver, the JIT and the Python workers from queueing behind the
    tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time includes interpreter start-up and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (/proc/stat). Printed next to the timings: on
    a shared host, runs with more steal read slower."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def median(values):
    return statistics.median(values) if values else float("nan")


class Workdir:
    """A fresh per-process directory, removed on close. Nothing is cached
    between runs, so set-up does the same work on every run."""

    def __init__(self):
        self.path = WORK_ROOT / f"run-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        (self.path / "tmp").mkdir(parents=True)

    def __truediv__(self, name: str) -> str:
        return str(self.path / name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def scratch_env(work: Workdir) -> None:
    """Environment for this process, the JVM and the Python workers: temp
    files (and the C kernel's compiled cache) in the work directory, the
    checkout on the workers' path. Call before importing finchspark."""
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["TMPDIR"] = work / "tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session(work: Workdir, n_cores: int):
    """A fresh local[n_cores] Spark session whose scratch files all live in
    the work directory."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("finchspark-perfbench")
        # the driver JVM is also the executor in local mode; 2g of heap is
        # far above what these corpora need and leaves a 15 GB box room
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(2 * n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work / "spark-local")
        .config("spark.sql.warehouse.dir", work / "warehouse")
        # C1-only JIT: with C2 the JVM keeps recompiling for minutes and
        # pass and epoch times drift down within a run; C1 reaches steady
        # state in the warm-up at the same steady pass time. C1 alone
        # reserves 48 MB of code cache, which these runs fill
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit; the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Samples the summed RSS of every descendant process (the Spark JVM and
    its Python workers) from /proc into a timestamped history."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.history: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), ()):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.history.append((time.time(), self.sample()))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def peak_between(self, t0: float, t1: float) -> float:
        """Peak summed RSS in MB among the samples taken in [t0, t1]."""
        return max((r for t, r in self.history if t0 <= t <= t1), default=0) / MB

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=5)


class Tracer:
    """In-memory spans (name, parent, start, end) plus the job group each
    traced layer runs under; written out once, when the run ends."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{self.tag}:{name}")
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(
                {"name": name, "parent": parent, "start": t0, "end": t1, "tag": self.tag}
            )

    def busy(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def tracing_store_class():
    """A `TableStore` whose `write` records a span (stage, start, end) —
    the checkpoint layer and the per-epoch write split, seen from outside."""
    from finchspark.plans.checkpoint import TableStore

    class TracingStore(TableStore):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.write_spans: list[dict] = []

        def write(self, stage, df, mode="overwrite"):
            t0 = time.time()
            try:
                return super().write(stage, df, mode)
            finally:
                self.write_spans.append({"stage": stage, "start": t0, "end": time.time()})

    return TracingStore


class StatusStore:
    """Job and stage metrics from Spark's status store, read over py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        self.jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup()
            desc = j.description()
            sub = j.submissionTime()
            stage_ids = []
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage_ids.append(int(sit.next()))
            self.jobs.append({
                "id": int(j.jobId()),
                "group": group.get() if group.isDefined() else None,
                "description": desc.get() if desc.isDefined() else "",
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "stages": stage_ids,
            })
        self.jobs.sort(key=lambda j: j["id"])
        owner: dict[int, int] = {}
        for j in self.jobs:  # a stage runs in the first job that lists it
            for s in j["stages"]:
                owner.setdefault(s, j["id"])
        self.stages: dict[int, dict] = {}
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) != "COMPLETE":
                continue
            sid = int(s.stageId())
            m = self.stages.setdefault(sid, {
                "job": owner.get(sid), "tasks": 0, "run_s": 0.0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            })
            m["tasks"] += int(s.numCompleteTasks())
            m["run_s"] += s.executorRunTime() / 1000.0
            m["shuffle_read"] += int(s.shuffleReadBytes())
            m["shuffle_write"] += int(s.shuffleWriteBytes())
            m["spill"] += int(s.memoryBytesSpilled())

    def select(self, group=None, windows=None) -> list[dict]:
        """Jobs in job group `group`, or submitted inside one of the
        (start, end) `windows`."""
        out = []
        for j in self.jobs:
            if group is not None and j["group"] == group:
                out.append(j)
            elif windows and any(a <= j["submitted"] <= b for a, b in windows):
                out.append(j)
        return out

    def summary(self, jobs: list[dict]) -> dict:
        ids = {j["id"] for j in jobs}
        stages = [m for m in self.stages.values() if m["job"] in ids]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(m["tasks"] for m in stages),
            "executor_run_s": sum(m["run_s"] for m in stages),
            "shuffle_read_mb": sum(m["shuffle_read"] for m in stages) / MB,
            "shuffle_write_mb": sum(m["shuffle_write"] for m in stages) / MB,
            "spill_mb": sum(m["spill"] for m in stages) / MB,
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ----------------------------------------------------------------- checks

def pair_fingerprint(pairs) -> str:
    """Order-independent fingerprint of a (key_a, key_b) pair set."""
    from pyspark.sql import functions as F

    row = pairs.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("key_a", "key_b")), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.xxhash64("key_a", "key_b") % 1000003), F.lit(0)).alias("s"),
    ).first()
    return f"{row['n']}:{row['x'] & 0xFFFFFFFFFFFFFFFF:016x}:{row['s']}"


def pair_recall(components, truth) -> float:
    """Share of planted pairs whose two files end in the same component
    (a file in no component is its own singleton)."""
    comp = {r["node"]: r["component"] for r in components.collect()}
    hit = sum(comp.get(a, ("s", a)) == comp.get(b, ("s", b)) for a, b in truth)
    return hit / len(truth)


def recheck_pairs(pairs, signatures, n: int = 64) -> int:
    """Re-verify a deterministic sample of emitted pairs with the Spark-free
    `kernels.raw_distance` (finch `dist` semantics); returns the number of
    pairs whose containment or Jaccard differs."""
    import numpy as np
    from pyspark.sql import functions as F

    from finchspark.kernels import i64_to_u64_shifted, raw_distance

    sample = (
        pairs.orderBy(F.xxhash64("key_a", "key_b"))
        .limit(n)
        .select("key_a", "key_b", "containment", "jaccard")
        .collect()
    )
    keys = sorted({r["key_a"] for r in sample} | {r["key_b"] for r in sample})
    hashes = {
        r["doc_id"]: i64_to_u64_shifted(np.asarray(r["hashes"], dtype=np.int64))
        for r in signatures.filter(F.col("doc_id").isin(keys))
        .select("doc_id", "hashes")
        .collect()
    }
    bad = 0
    for r in sample:
        cont, jac, _, _ = raw_distance(hashes[r["key_a"]], hashes[r["key_b"]], 0.0)
        bad += cont != r["containment"] or jac != r["jaccard"]
    return bad
