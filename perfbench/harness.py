"""Measurement plumbing shared by the workloads.

* :class:`Session` opens one ``local[N]`` SparkSession with the benchmark's
  configuration and tears it down again, JVM and Python workers included.
* :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory and
  derives self times from them.
* :class:`Engine` reads Spark's status store after each forced action: tasks,
  executor run/CPU/GC time, shuffle and spill bytes, failed tasks, task skew.
* :func:`patched` wraps public functions of the engine from outside, so a
  traced run can time and count calls without touching ``ocr_spark/``.

Nothing here prints to stdout; the last stdout line belongs to ``run.py``.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")


def cores() -> int:
    """N for ``local[N]``: the usable CPUs, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def median(xs) -> float:
    return float(statistics.median(xs))


def force(df) -> None:
    """Execute a DataFrame fully without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def calib_s() -> float:
    """Median time of a fixed pure-Python loop: host weather, not code."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc = (acc + i * i) % 1_000_003
        samples.append(time.perf_counter() - t0)
    return median(samples)


def timed_loop(fn, seconds: float, min_samples: int, mode=None) -> int:
    """Call ``fn(i)`` back to back until ``seconds`` passed and at least
    ``min_samples`` calls finished. ``mode(i)`` is a context manager entered
    around each call (the traced run alternates tracing on and off)."""
    n = 0
    deadline = time.perf_counter() + seconds
    while n < min_samples or time.perf_counter() < deadline:
        with (mode(n) if mode is not None else contextlib.nullcontext()):
            fn(n)
        n += 1
    return n


class Ops:
    """Attempted / failed operation counts and the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # an op that raises is a failed op
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: output check failed {detail}".strip())


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"] and s["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self.self_time(s)}) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``owner.attr`` in a span named ``span_name`` for the duration of
    the block. A span name may use ``{0}`` for the call's second positional
    argument (the stage name of ``run_stage``)."""
    saved = []
    for owner, attr, span_name in targets:
        orig = getattr(owner, attr)

        def wrapper(*args, __orig=orig, __name=span_name, **kwargs):
            name = __name.format(*(args[1:2] or ("",)))
            with tracer.span(name):
                return __orig(*args, **kwargs)

        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Spark engine counters
# ---------------------------------------------------------------------------
STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "failed_tasks")


class Engine:
    """Per-action engine counters from the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._stack: list[tuple[str, list[int]]] = []

    @contextlib.contextmanager
    def group(self, out: dict):
        """Run the block as one job group; fill ``out`` with its counters.
        Groups nest: an outer group's counters include its inner groups'."""
        gid = "pb-" + uuid.uuid4().hex[:10]
        self._stack.append((gid, []))
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            _, inner = self._stack.pop()
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(gid)) + inner
            if self._stack:
                self._stack[-1][1].extend(jobs)
                self.sc.setJobGroup(self._stack[-1][0], self._stack[-1][0])
            else:
                self.sc.setJobGroup("pb-idle", "pb-idle")
            out.update(self.counters(jobs))

    def _stage_attempts(self, stage_ids) -> list:
        empty = self.sc._gateway.new_array(self._jvm.double, 0)
        out = []
        for sid in sorted(stage_ids):
            seq = self.store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, empty)
            out.extend(seq.apply(i) for i in range(seq.size()))
        return out

    def counters(self, jobs: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        # the status store is fed by an asynchronous listener: wait until it
        # has seen every job of the group end, so stage metrics are final
        deadline = time.monotonic() + 5
        infos = [tracker.getJobInfo(j) for j in jobs]
        while (any(i is None or i.status == "RUNNING" for i in infos)
               and time.monotonic() < deadline):
            time.sleep(0.01)
            infos = [tracker.getJobInfo(j) for j in jobs]
        stage_ids = set()
        for info in infos:
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(STAGE_FIELDS, 0.0)
        c["jobs"] = float(len(jobs))
        c["max_stage_tasks"] = 0.0
        c["task_skew"] = 1.0
        widest = None
        for s in self._stage_attempts(stage_ids):
            if s.numTasks() == 0 or str(s.status()) == "SKIPPED":
                continue
            c["tasks"] += s.numTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["failed_tasks"] += s.numFailedTasks()
            if s.numTasks() > c["max_stage_tasks"]:
                c["max_stage_tasks"] = float(s.numTasks())
                widest = s
        if widest is not None:
            c["task_skew"] = self._skew(widest)
        return c

    def _skew(self, stage) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return float(mx / med) if med > 0 else 1.0


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            out.append(k)
            todo.append(k)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------
class Session:
    """One ``local[N]`` session with the benchmark's configuration.

    ``conf`` carries the workload's split sizes. The progress
    bar is switched off at build time: ``spark.ui.showConsoleProgress``
    cannot be changed on a running session.
    """

    def __init__(self, conf: dict[str, str], shuffle_partitions: int):
        self.conf = conf
        self.shuffle_partitions = shuffle_partitions
        self.spark = None
        self.peak_rss_mb = 0.0

    def open(self):
        from ocr_spark.session import get_spark

        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # initial heap = maximum: the resident size saturates instead of
            # following how far the heap happened to grow
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            **self.conf,
        }
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores()}]",
            shuffle_partitions=self.shuffle_partitions, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def sample_rss(self) -> float:
        """JVM VmHWM plus that of every Python worker under it (MB)."""
        pid = self.jvm_pid()
        if pid is None:
            return self.peak_rss_mb
        total = vm_hwm_mb(pid) + sum(vm_hwm_mb(p) for p in descendants(pid))
        self.peak_rss_mb = max(self.peak_rss_mb, total)
        return self.peak_rss_mb

    def restart(self):
        """Stop the SparkContext and build a fresh session in the same JVM."""
        self.spark.stop()
        return self.open()

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it and its workers."""
        from pyspark import SparkContext

        pid = self.jvm_pid()
        kids = descendants(pid) if pid is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            if kids:
                time.sleep(0.1)
        for k in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(k, 9)


# ---------------------------------------------------------------------------
# one run of a workload
# ---------------------------------------------------------------------------
class Run:
    """What a workload's timed loop needs: tracer, engine counters, op
    accounting and, in a traced run, tracing switched on for every other
    pass with the layer wrappers installed, so that the traced and untraced
    passes of one process give the tracing overhead."""

    def __init__(self, tracer: Tracer, engine: Engine, ops: Ops, session: Session,
                 traced: bool, patch_targets: list):
        self.tracer, self.engine, self.ops, self.session = tracer, engine, ops, session
        self.traced = traced
        self.patch_targets = patch_targets
        self.passes: list[dict] = []

    @contextlib.contextmanager
    def pass_(self, samples: list[float], name: str):
        """Time one pass (appended to ``samples``) and record its counters."""
        c: dict = {}
        with self.engine.group(c):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                yield
            dt = time.perf_counter() - t0
        samples.append(dt)
        self.passes.append({"traced": self.tracer.enabled, "s": dt, **c})
        self.session.sample_rss()

    @contextlib.contextmanager
    def _mode(self, i: int):
        self.tracer.enabled = i % 2 == 0
        try:
            if self.tracer.enabled:
                with patched(self.tracer, self.patch_targets):
                    yield
            else:
                yield
        finally:
            self.tracer.enabled = True

    def loop(self, fn, seconds: float, min_samples: int) -> int:
        if not self.traced:
            return timed_loop(fn, seconds, min_samples)
        return timed_loop(fn, seconds, max(2, min_samples), mode=self._mode)

    def overhead_pct(self) -> float:
        on = [p["s"] for p in self.passes if p["traced"]]
        off = [p["s"] for p in self.passes if not p["traced"]]
        if not on or not off:
            return 0.0
        return 100.0 * (median(on) / median(off) - 1.0)
