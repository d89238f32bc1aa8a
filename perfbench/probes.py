"""Measurement probes: process-tree CPU from /proc, host-noise
witnesses, JVM counters, and the traced run's spans and Spark
status-store harvest.

Nothing here changes a query plan. The tracer patches module
attributes from outside the program and tags jobs with a Spark job
group; the harvest reads the driver's status store after the call.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import statistics
import time
from collections import defaultdict

TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ /proc


def _read_stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
    ticks = [int(v) for v in fields[11:15]]
    return comm, int(fields[1]), ticks[0] + ticks[1], ticks[2] + ticks[3]


def proc_tree(root: int) -> dict[int, tuple]:
    """{pid: (comm, ppid, own_ticks, reaped_children_ticks)} for
    ``root`` and every live descendant."""
    table = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                table[int(pid)] = _read_stat(pid)
            except (OSError, ValueError, IndexError):
                continue  # exited while scanning
    children = defaultdict(list)
    for pid, row in table.items():
        children[row[1]].append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            tree[pid] = table[pid]
            todo.extend(children[pid])
    return tree


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds so far of the driver's process tree, split into the
    driver Python itself, the JVM, and the JVM's Python workers
    (PySpark daemon and its forks). Reaped children count toward
    their parent, so CPU of exited workers is not lost."""
    tree = proc_tree(root)
    jvms = {pid for pid, row in tree.items() if row[1] == root and row[0] == "java"}
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, ppid, own, reaped) in tree.items():
        if pid == root:
            out["driver_py"] += own / TICK
        elif pid in jvms:
            out["jvm"] += own / TICK
        else:  # every other descendant hangs below the JVM
            out["pyworker"] += (own + reaped) / TICK
    out["total"] = sum(out.values())
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of per-process peak resident sets (VmHWM) over the tree."""
    kb = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


# ------------------------------------------------------- host noise


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)  # (steal, total)


def _psi_some_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


def calibrate() -> float:
    """Seconds for a fixed single-thread sha256 kernel (64 MiB)."""
    block = bytes(range(256)) * 4096  # 1 MiB
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    h.digest()
    return time.perf_counter() - t0


class HostWindow:
    """Steal %, CPU pressure % and the calibration kernel over a run
    window. Recorded only: they explain a noisy run, they gate nothing."""

    def __init__(self):
        self.calib = [calibrate()]
        self.t0 = time.time()
        self.steal0, self.total0 = _cpu_ticks()
        self.psi0 = _psi_some_us()

    def close(self) -> dict[str, float]:
        steal, total = _cpu_ticks()
        psi = _psi_some_us()
        wall = time.time() - self.t0
        self.calib.append(calibrate())
        return {
            "host.steal_pct": 100.0 * (steal - self.steal0) / max(total - self.total0, 1),
            "host.cpu_pressure_pct": (
                100.0 * (psi - self.psi0) / (wall * 1e6)
                if psi is not None and self.psi0 is not None
                else 0.0
            ),
            "host.calib_s": statistics.median(self.calib),
        }


# ------------------------------------------------------------- JVM


def next_ids(sc) -> tuple[int, int]:
    """(next job id, next stage id): ids are handed out in order, so a
    call's jobs are exactly the id range it advanced over, however many
    jobs the status store retains."""
    dag = sc._jsc.sc().dagScheduler()
    return dag.nextJobId(), dag.nextStageId()


def jvm_counters(sc) -> dict[str, float]:
    jvm = sc._jvm
    return {
        "spark.codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "spark.codegen_ms": jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6,
        "jvm.jit_ms": jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime(),
    }


# ----------------------------------------------------------- tracer


class Tracer:
    """Spans around calls into the program's public functions.

    While a span is open its id is the Spark job group, so every job is
    charged to the innermost open span. A lazy function's span holds
    only its plan-building time; the jobs that execute the plan belong
    to whichever span runs the action.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap every public entry point the per-layer table names.

    ``auto.py`` binds ``load_ts``/``infer_frequency``/
    ``detect_problem_type`` by name, so they are patched on
    ``auto_ts_spark.auto``; ``ML.*``/``REG.*`` are looked up on their
    modules at call time; ``curate`` imports its operators inside the
    function, so those are patched on the operator modules."""
    import importlib

    from auto_ts_spark import auto
    from auto_ts_spark.models import ml, registry

    tracer.wrap(auto.AutoTimeSeries, "fit", "auto.fit")
    tracer.wrap(auto.AutoTimeSeries, "predict", "auto.predict")
    tracer.wrap(auto, "load_ts", "io.sources.load_ts")
    tracer.wrap(auto, "infer_frequency", "operators.future.infer_frequency")
    tracer.wrap(auto, "detect_problem_type", "operators.profile.detect_problem_type")
    for fn in ("run_all_models", "score_predictions"):
        tracer.wrap(registry, fn, f"models.registry.{fn}")
    for fn in ML_SPANS:
        tracer.wrap(ml, fn, f"models.ml.{fn}")
    from auto_ts_spark import corpus

    tracer.wrap(corpus, "curate", "corpus.curate")
    for mod, fn in OPERATOR_SPANS:
        tracer.wrap(importlib.import_module(f"auto_ts_spark.{mod}"), fn, f"{mod}.{fn}")


ML_SPANS = (
    "tune_gbt_max_iter",
    "cv_scores_ml",
    "fit_gbt",
    "recursive_forecast_ml",
    "forecast_ml_on_testdata",
)
OPERATOR_SPANS = (
    ("operators.textops", "scrub_repeated_spans"),
    ("operators.dedup", "dedup_exact"),
    ("operators.similarity", "semantic_dedup"),
    ("operators.lm_quality", "train_ngram_lm"),
    ("operators.lm_quality", "perplexity_tercile_assign"),
    ("operators.quality_classifier", "train_quality_classifier"),
    ("operators.quality_classifier", "classify"),
    ("operators.pii", "redact_documents"),
    ("operators.decontam", "decontaminate"),
    ("operators.sampling", "mixture_sample"),
    ("operators.budget", "budget_select"),
)
SPAN_NAMES = (
    ["auto.fit", "auto.predict", "io.sources.load_ts",
     "operators.future.infer_frequency", "operators.profile.detect_problem_type",
     "models.registry.run_all_models", "models.registry.score_predictions"]
    + [f"models.ml.{fn}" for fn in ML_SPANS]
    + ["corpus.curate"]
    + [f"{mod}.{fn}" for mod, fn in OPERATOR_SPANS]
    + ["bench.collect"]
)
# executor_s: summed executorRunTime of the stages the span's jobs ran
SPAN_FIELDS = (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("executor_s", "s"))


def span_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: summed wall and self time. Self time is the wall
    time minus the part covered by the span's direct children (calls
    are sequential, so children never overlap)."""
    child_wall = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] += s["end"] - s["start"]
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        wall = s["end"] - s["start"]
        out[s["name"]]["wall_s"] += wall
        out[s["name"]]["self_s"] += wall - child_wall[s["id"]]
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


def harvest(sc, jobs: range, first_stage: int, span_name: dict[str, str],
            window: tuple[float, float]) -> tuple[dict, dict]:
    """Read the status store for the jobs of one call.

    Returns (call totals, {span name: {jobs, executor_s}}). Each
    stage counts once, for the first job that lists it; stages made
    before the call (reused shuffle outputs) and skipped stages count
    nowhere. ``spark.job_gap_s`` is the part of the call's wall window
    that no running job covers: the driver's time between jobs."""
    store = sc._jsc.sc().statusStore()
    total = defaultdict(float)
    per_span = defaultdict(lambda: defaultdict(float))
    seen, intervals = set(), []
    for jid in jobs:
        total["spark.jobs"] += 1
        jd = store.job(jid)
        name = span_name.get(_opt(jd.jobGroup()))
        if name:
            per_span[name]["jobs"] += 1
        start, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if start is not None and end is not None:
            intervals.append((start.getTime() / 1e3, end.getTime() / 1e3))
        ids = jd.stageIds()
        for i in range(ids.length()):
            sid = ids.apply(i)
            if sid < first_stage or sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            run_s = sd.executorRunTime() / 1e3
            total["spark.stages"] += 1
            total["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            total["spark.executor_run_s"] += run_s
            total["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            total["spark.gc_s"] += sd.jvmGcTime() / 1e3
            total["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            total["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            total["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if name:
                per_span[name]["executor_s"] += run_s
    lo, hi = window
    covered, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            covered += b - a
            reach = b
    total["spark.job_gap_s"] = max(hi - lo - covered, 0.0)
    return total, per_span
