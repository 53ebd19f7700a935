"""Shared machinery of the benchmark: the process environment the
program runs in, the peak-RSS sampler, and the tracer that records
spans and Spark counters around calls into the program's layers."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sunat_rree_demo_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def program_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for any process that runs the program: the checkout
    on the import path (driver and Python workers), Spark at local[nproc]
    with every scratch directory inside ``work``. Traced runs raise the
    status store's retention so no job of the run is dropped before the
    counters are harvested."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("SPARK_GRAFT_HOT_CACHE_BYTES", None)
    if trace:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=1000000 "
            "--conf spark.ui.retainedStages=1000000 pyspark-shell")
    else:
        env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def require_program() -> None:
    """Exit non-zero, printing no result, when the checkout does not
    hold the program (e.g. only the benchmark files are present)."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"perfbench: no {PACKAGE}/ package under {ROOT}\n")
        sys.exit(2)


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM (it exits when its stdin
    closes) and wait until the JVM and its Python workers are gone."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


# ------------------------------------------------------------------ RSS
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class PeakRSS:
    """Samples the summed RSS of a process tree (driver, JVM, Python
    workers) every ``interval`` seconds in a daemon thread."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in tree_pids(self.root_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------- tracing
class Tracer:
    """In-memory span recorder. A span is (id, parent, rid, name,
    start, end); spans opened on one thread nest, and every span of a
    request shares its request id. When ``spark`` is set, each span also
    becomes the Spark job group of its thread for its duration, so the
    jobs it submits can be attributed to it afterwards. Disabled, every
    method is a no-op and wrapped calls run unchanged."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.spark = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid) -> None:
        self._local.rid = rid

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        s = {"id": next(self._ids), "parent": st[-1]["id"] if st else None,
             "rid": getattr(self._local, "rid", None), "name": name,
             "start": time.perf_counter(), "end": None}
        st.append(s)
        self._set_group(f"span-{s['id']}")
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            st.pop()
            self._set_group(f"span-{st[-1]['id']}" if st else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a traced wrapper. Call sites that
        imported the function by name are patched in their own module."""
        if self.enabled:
            setattr(module, attr, self.wrap(name, getattr(module, attr)))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def harvest_counters(spark) -> dict:
    """Spark counters per span, read from the driver's status store
    after the run: jobs, stages, skipped stages, tasks, executor run
    time, input and shuffle-write bytes of the jobs submitted under each
    span's job group. Returns {"per_span": {str(span id): counters}}."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    per: dict[str, dict] = {}
    seen_stages: set[int] = set()
    for i in range(jobs.length()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        key = grp.get() if grp.isDefined() else ""
        if not key.startswith("span-"):
            continue  # set-up work outside any span
        c = per.setdefault(key[5:], _zero_counters())
        c["jobs"] += 1
        sids = j.stageIds()
        for k in range(sids.length()):
            sid = sids.apply(k)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store
                continue
            c["stages"] += 1
            if st.status().toString() == "SKIPPED":
                c["skipped_stages"] += 1
                continue
            if sid in seen_stages:  # a stage shared by two jobs counts once
                continue
            seen_stages.add(sid)
            c["tasks"] += st.numTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return {"per_span": per}


def _zero_counters() -> dict:
    return {"jobs": 0, "stages": 0, "skipped_stages": 0, "tasks": 0,
            "executor_run_ms": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0}


#: the per-layer ``spark.*`` metrics every workload produces
SPARK_LAYERS = ("spark.jobs", "spark.tasks", "spark.skipped_stage_frac",
                "spark.executor_run_ms", "spark.busy_frac",
                "spark.input_bytes", "spark.shuffle_write_bytes")


def spark_layer_metrics(counters: dict, span_ids, wall_s: float,
                        n_cores: int) -> dict:
    """The per-layer ``spark.*`` metrics over the jobs of the given
    spans (the measured operations, not set-up)."""
    t = _zero_counters()
    for sid in span_ids:
        for k, v in counters["per_span"].get(sid, {}).items():
            t[k] += v
    return {
        "spark.jobs": t["jobs"],
        "spark.tasks": t["tasks"],
        "spark.skipped_stage_frac": (t["skipped_stages"] / t["stages"]
                                     if t["stages"] else 0.0),
        "spark.executor_run_ms": t["executor_run_ms"],
        "spark.busy_frac": (t["executor_run_ms"] / 1000.0
                            / (wall_s * n_cores) if wall_s > 0 else 0.0),
        "spark.input_bytes": t["input_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
    }
