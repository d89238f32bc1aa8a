"""The measured process: one fresh driver per run.

Started by ``run.py`` after the inputs exist. It sets up (session, load
and cache the inputs) and makes the cold call: the first call in a fresh
process, which pays JIT, codegen and Python-worker spawn, as a one-shot
script does. The metrics describe that call. If ``--seconds`` has not
passed when it returns, warm calls follow until it has; they are
checked and listed in the detail record but feed no metric. Two JSON
lines are printed: the detail record, then the result. With
``--trace 1`` the calls run under the tracer and the result holds the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import sys
import time
import traceback

import probes
import workloads

END_TO_END = (
    ("setup_s", "s"),
    ("cold_call_s", "s"),
    ("cpu_s", "s"),
)

CALL_LEVEL = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.job_gap_s", "s"),
    ("spark.codegen_compiles", "count"),
    ("spark.codegen_ms", "ms"),
    ("jvm.jit_ms", "ms"),
    ("proc.driver_py_cpu_s", "s"),
    ("proc.jvm_cpu_s", "s"),
    ("proc.pyworker_cpu_s", "s"),
    ("proc.peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("host.steal_pct", "%"),
    ("host.cpu_pressure_pct", "%"),
    ("host.calib_s", "s"),
    ("trace.call_s", "s"),
)

PER_LAYER = CALL_LEVEL + tuple(
    (f"{span}.{field}", unit)
    for span in probes.SPAN_NAMES
    for field, unit in probes.SPAN_FIELDS
)


def _untraced(name):
    return contextlib.nullcontext()


class Runner:
    def __init__(self, spark, workload, tracer: probes.Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.tracer = tracer
        self.reference: str | None = None
        self.calls: list[dict] = []

    def one_call(self, expected: str | None) -> dict:
        """Time one call, then (untimed) harvest its trace and check it.
        Caches are reset before every call but the first."""
        if self.calls:
            self.reset()
        sc, pid = self.sc, os.getpid()
        span = self.tracer.span if self.tracer else _untraced
        first_span = len(self.tracer.spans) if self.tracer else 0
        jvm0 = probes.jvm_counters(sc) if self.tracer else None
        job0, stage0 = probes.next_ids(sc)
        cpu0 = probes.cpu_split(pid)
        t0, w0 = time.perf_counter(), time.time()
        rec: dict = {"ok": False}
        try:
            result = self.workload.call(span)
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            result = None
        rec["wall_s"] = time.perf_counter() - t0
        w1 = time.time()
        cpu1 = probes.cpu_split(pid)
        job1, _ = probes.next_ids(sc)
        rec["jobs"] = job1 - job0
        rec["cpu_s"] = cpu1["total"] - cpu0["total"]
        if self.tracer:
            rec["layers"] = self._layers(
                range(job0, job1), stage0, (w0, w1), first_span, jvm0, cpu0, cpu1
            )
        if result is not None:
            try:
                problems, dig = self.workload.check(result)
            except Exception:
                problems, dig = [traceback.format_exc(limit=3)], None
            if self.reference is None:
                self.reference = expected or dig
            if dig != self.reference:
                problems.append(f"digest {dig} != recorded {self.reference}")
            rec.update(ok=not problems, digest=dig, problems=problems)
        self.calls.append(rec)
        return rec

    def reset(self) -> None:
        """Untimed, between calls: drop every cached plan the last call
        left behind (an identical later call would otherwise hit it),
        re-cache the inputs, and collect garbage on both sides."""
        gc.collect()
        self.spark.catalog.clearCache()
        self.sc._jvm.System.gc()
        self.workload.recache()

    def _layers(self, jobs, stage0, window, first_span, jvm0, cpu0, cpu1) -> dict:
        spans = self.tracer.spans[first_span:]
        name_of = {s["id"]: s["name"] for s in spans}
        total, per_span = probes.harvest(self.sc, jobs, stage0, name_of, window)
        jvm1 = probes.jvm_counters(self.sc)
        out = dict(total)
        out.update({k: jvm1[k] - jvm0[k] for k in jvm1})
        for part in ("driver_py", "jvm", "pyworker"):
            out[f"proc.{part}_cpu_s"] = cpu1[part] - cpu0[part]
        out["proc.peak_rss_mb"] = probes.peak_rss_mb(os.getpid())
        times = probes.span_times(spans)
        for name in probes.SPAN_NAMES:
            fields = {**times.get(name, {}), **per_span.get(name, {})}
            for field, _ in probes.SPAN_FIELDS:
                out[f"{name}.{field}"] = fields.get(field, 0.0)
        out["spans"] = [
            {**s, "start": s["start"] - window[0], "end": s["end"] - window[0]}
            for s in spans
        ]
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="full")
    ap.add_argument("--t0", type=float, required=True, help="launch time (epoch s)")
    args = ap.parse_args()

    from auto_ts_spark.session import get_spark

    s0 = time.time()
    spark = get_spark("perfbench")
    session_start_s = time.time() - s0
    _, cls, kwargs = workloads.WORKLOADS[args.workload]
    workload = cls(spark, args.data, **kwargs)
    setup_s = time.time() - args.t0

    host = probes.HostWindow()
    tracer = probes.Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        probes.install(tracer)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as f:
        recorded = json.load(f).get(f"{args.workload}/{args.size}", {}).get(str(args.seed))
    runner = Runner(spark, workload, tracer)
    start = time.perf_counter()
    cold = runner.one_call(recorded)
    while time.perf_counter() - start < args.seconds:
        runner.one_call(recorded)
    noise = host.close()
    if tracer:
        tracer.unwrap()
    spark.stop()

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "reference_digest": runner.reference,
        "session.start_s": session_start_s,
        **noise,
        "calls": [{k: v for k, v in c.items() if k != "layers"} for c in runner.calls],
    }
    if args.trace:
        metrics = {name: cold["layers"].get(name, 0.0) for name, _ in PER_LAYER}
        metrics.update(noise)
        metrics["session.start_s"] = session_start_s
        metrics["trace.call_s"] = cold["wall_s"]
        detail["spans"] = cold["layers"]["spans"]
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "cold_call_s": cold["wall_s"], "cpu_s": cold["cpu_s"]}
        units = END_TO_END
    failed = sum(not c["ok"] for c in runner.calls)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.calls),
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit} for name, unit in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
