#!/usr/bin/env python3
"""Benchmark of the sensomics Spark pipeline: one command that generates
seeded inputs, sets up Spark, runs one workload in a closed loop for a
fixed time, checks every output, and prints every metric by name with
its unit. The last stdout line is one JSON object.

    python3 perfbench/run.py --workload sensor_batch --seed 1 --seconds 6 --trace 0

Workloads (see perfbench/README.md): sensor_batch, query_mix.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` measures the
same untraced window first, then repeats it with Spark's event log and
job-group spans on, and reports the per-layer metrics.
Everything the run writes goes under ``.perfbench_work/`` at the
checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import signal
import statistics
import sys
import time
import traceback

from spans import EventLog, Tracer, error_class, subtree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: op-latency tail percentile reported as op_tail_s
TAIL_PCT = 75
#: set-ups per run: the first launches the JVM, the rest re-create the
#: SparkContext in it; setup_s is the median of the re-creations
SETUPS = 3
#: warm-up stops when a pass is within this share of the one before it...
WARM_SETTLE = 0.10
#: ...or when this much warm-up time has gone by
WARM_SECONDS = 15
#: driver heap; the package default (48g) exceeds small machines
DRIVER_MEMORY = "3g"


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_sent", "bytes_received")):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name == "task.skew":
        return "ratio"
    return "count"


def hermetic_env(cores: int) -> None:
    """Pin everything the run depends on to this checkout and machine,
    before pyspark is imported: core count, driver heap, the Python
    workers' import path (they unpickle closures that reference the
    checkout's modules), and every temp/scratch directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def spark_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(wl, traced: bool):
    """get_spark + input registration + a first job, i.e. up to ready."""
    from sensomics_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(traced))
    wl.register(spark)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


class Runner:
    """Runs passes of a workload's ops in one closed-loop client and
    keeps per-op records."""

    def __init__(self, wl, spark, tracer):
        self.wl, self.spark, self.tr = wl, spark, tracer
        self.records: list[dict] = []
        self.n_passes = 0

    def run_op(self, op, phase: str) -> dict:
        check, error = None, None
        with self.tr.span(op.kind, op=True, label=op.label, phase=phase) as span:
            try:
                check = op.run(self.tr)
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                traceback.print_exc(file=sys.stderr)
                error = error_class(exc)
        problems = check() if check else []
        rec = {"kind": op.kind, "label": op.label, "phase": phase, "span": span["id"],
               "latency_s": span["end"] - span["start"], "error": error,
               "wrong": problems}
        self.records.append(rec)
        if error or problems:
            print(f"# op failed: {op.kind} {op.label}: {error or '; '.join(problems)}",
                  file=sys.stderr)
        return rec

    def run_pass(self, phase: str, deadline: float | None = None) -> float | None:
        """Run one pass; returns its time (sum of op latencies), or None
        if ``deadline`` cut it short. The ops of a cut pass still count as
        attempted, but are marked partial and left out of the latency
        figures, so every figure covers the same op mix."""
        done = []
        self.n_passes += 1
        for op in self.wl.ops(self.spark, self.n_passes - 1):
            if deadline is not None and time.perf_counter() >= deadline:
                for rec in done:
                    rec["partial"] = True
                return None
            done.append(self.run_op(op, phase))
        return sum(r["latency_s"] for r in done)

    def warm_up(self) -> list[float]:
        """Warm-up passes until one is within WARM_SETTLE of the one
        before it, or WARM_SECONDS have gone by."""
        times = []
        t_end = time.perf_counter() + WARM_SECONDS
        while time.perf_counter() < t_end:
            times.append(self.run_pass("warm"))
            if len(times) >= 2 and abs(times[-1] - times[-2]) <= WARM_SETTLE * times[-2]:
                break
        return times

    def measure(self, seconds: float, phase: str) -> list[float]:
        """Closed loop for ``seconds``; at least one complete pass."""
        passes = []
        t_end = time.perf_counter() + seconds
        while True:
            p = self.run_pass(phase, deadline=t_end if passes else None)
            if p is None:
                break
            passes.append(p)
            print(f"# {phase} pass {len(passes)}: {p:.3f} s", file=sys.stderr)
            if time.perf_counter() >= t_end:
                break
        return passes


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else float("nan")


def _op_type(rec: dict) -> str:
    return f"query.{rec['label']}" if rec["kind"] == "query" else rec["kind"]


def summarize(records: list[dict], phase: str) -> dict:
    """End-to-end figures of one window, from each op type's mean
    latency over the window's complete passes, so a figure stays on one
    op type instead of jumping between neighbours of a mixed sample. ``pass_s``: the sum of the type means, failed ops
    included (the user waits for them too). ``op_p50_s``/``op_tail_s``:
    percentiles over op types of each type's mean successful latency."""
    every, ok = {}, {}
    for r in records:
        if r["phase"] == phase and not r.get("partial"):
            every.setdefault(_op_type(r), []).append(r["latency_s"])
            if not r["error"] and not r["wrong"]:
                ok.setdefault(_op_type(r), []).append(r["latency_s"])
    means = [statistics.fmean(v) for v in ok.values()]
    return {"pass_s": sum(statistics.fmean(v) for v in every.values()),
            "op_p50_s": _pct(means, 50), "op_tail_s": _pct(means, TAIL_PCT),
            "n_ok": sum(map(len, ok.values()))}


def stage_lines(wl, records, phase: str) -> list[tuple[str, float | str, str]]:
    """The workload's own end-to-end names: per-stage wall time per pass
    (sensor_batch), the query_* trio (query_mix), and failed_frac."""
    meas = [r for r in records if r["phase"] == phase]
    lines = []
    if wl.name == "sensor_batch":
        for kind in wl.op_kinds:
            rs = [r for r in meas if r["kind"] == kind]
            bad = [r for r in rs if r["error"] or r["wrong"]]
            if bad:
                cls = sorted({r["error"] or "WRONG_OUTPUT" for r in bad})
                lines.append((f"{kind}_s", "absent",
                              f"{len(bad)}/{len(rs)} ops failed: {','.join(cls)}"))
            elif rs:
                lines.append((f"{kind}_s", statistics.median(
                    r["latency_s"] for r in rs if not r.get("partial")), "s"))
    elif wl.name == "query_mix":
        e2e = summarize(records, phase)
        lines += [("query_pass_s", e2e["pass_s"], "s"), ("query_p50_s", e2e["op_p50_s"], "s"),
                  ("query_tail_s", e2e["op_tail_s"], "s")]
    failed = sum(1 for r in meas if r["error"] or r["wrong"])
    lines.append(("failed_frac", failed / max(1, len(meas)), "ratio"))
    return lines


def traced_metrics(wl, tracer, records, log, cores: int, ops_per_pass: int) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window: per pass (sums over the
    window's ops scaled to one pass) and per op type (mean per op)."""
    by_id = {s["id"]: s for s in tracer.spans}
    rows = []
    for r in records:
        if r["phase"] != "traced":
            continue
        span = by_id[r["span"]]
        ids = subtree(tracer.spans, span["id"])
        m = log.op_metrics(ids, span["start"], span["end"], cores)
        m.update(span.get("counters", {}))
        plan_spans = [by_id[i] for i in ids if by_id[i].get("plan")]
        m["plans.build_s"] = sum(s["end"] - s["start"] for s in plan_spans)
        m["plans.eager_jobs"] = sum(
            log.op_metrics(subtree(tracer.spans, s["id"]), s["start"], s["end"], cores)
            ["spark.jobs"] for s in plan_spans)
        m["_wall"] = span["end"] - span["start"]
        rows.append((_op_type(r), m))
    per_pass, per_kind = {}, {}
    scale = ops_per_pass / max(1, len(rows))
    keys = [k for k in rows[0][1] if not k.startswith("_")] if rows else []
    for k in keys:
        if k == "task.skew":
            per_pass[k] = max(m[k] for _, m in rows)
        elif k == "spark.core_idle_frac":
            wall = sum(m["_wall"] for _, m in rows)
            run = sum(m["spark.task_run_s"] for _, m in rows)
            per_pass[k] = max(0.0, 1 - run / (cores * wall))
        else:
            per_pass[k] = sum(m[k] for _, m in rows) * scale
    for kind in dict.fromkeys(kd for kd, _ in rows):
        ms = [m for kd, m in rows if kd == kind]
        for k in keys:
            if ms:
                per_kind[f"{kind}.{k}"] = sum(m[k] for m in ms) / len(ms)
    return per_pass, per_kind


def _self_name(case: str) -> str:
    """Self-time cases named after a module.function are operators;
    ``plans.*`` and ``queries.*`` cases keep their own layer name."""
    return case if case.split(".")[0] in ("plans", "queries") else f"operators.{case}"


def self_times(wl, spark, tracer) -> tuple[dict, dict]:
    """Operator self time: each listed operator's output materialized
    (noop sink) over inputs that are already cached."""
    out, failed, build_s = {}, {}, {}
    for name, build in wl.self_time_cases(spark):
        try:
            with tracer.span(f"{name}.build") as span:
                df = build()
            build_s[name] = span["end"] - span["start"]
            with tracer.span(name) as span:
                df.write.format("noop").mode("overwrite").save()
            out[name] = span["end"] - span["start"]
        except Exception as exc:  # noqa: BLE001 - report, keep measuring the rest
            traceback.print_exc(file=sys.stderr)
            failed[name] = error_class(exc)
    return out, failed, build_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("BENCHMARK.json", "__spark_entry__.py",
                 "sensomics_data_pipeline_spark/session.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: program file {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    hermetic_env(cores)

    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    inputs = gen.ensure_inputs(WORK, args.workload, args.seed)
    out_dir = os.path.join(WORK, "out", args.workload)
    workloads.clean_outputs(out_dir)
    wl = workloads.WORKLOADS[args.workload](inputs, out_dir)

    setups = []
    for i in range(SETUPS):
        spark, dt = start_session(wl, traced=False)
        setups.append(dt)
        if i < SETUPS - 1:
            spark.stop()
    tracer = Tracer()
    tracer.attach(spark, enabled=False)
    runner = Runner(wl, spark, tracer)
    if wl.name == "query_mix":
        # the oracle check runs every query once: it is the warm-up pass
        t0 = time.perf_counter()
        for q, why in wl.check_all(spark).items():
            print(f"# oracle mismatch: {q}: {why}", file=sys.stderr)
        warm = [time.perf_counter() - t0]
    else:
        warm = runner.warm_up()
    passes = runner.measure(args.seconds, "measure")
    e2e = summarize(runner.records, "measure")
    e2e["setup_s"] = statistics.median(setups[1:])
    e2e["peak_rss_mb"] = peak_rss_mb(spark)
    stage = stage_lines(wl, runner.records, "measure")
    measured = [r for r in runner.records if r["phase"] == "measure"]
    ops_per_pass = len(wl.ops(spark, 0))

    layer, per_kind, op_self, op_failed, op_build = {}, {}, {}, {}, {}
    if args.trace:
        spark.stop()
        spark, _ = start_session(wl, traced=True)
        tracer.attach(spark, enabled=True)
        runner.spark = spark
        # no second warm-up: JIT and the codegen cache live in the JVM,
        # which the new context shares; half a window is enough to
        # attribute every op type (at least one pass always completes)
        runner.measure(args.seconds / 2, "traced")
        op_self, op_failed, op_build = self_times(wl, spark, tracer)
        ratios = wl.ratios()
        app_id = spark.sparkContext.applicationId
        spark.stop()
        log = EventLog(os.path.join(WORK, "eventlog"), app_id)
        layer, per_kind = traced_metrics(wl, tracer, runner.records, log, cores, ops_per_pass)
        layer["operators.self_s"] = sum(
            v for k, v in op_self.items() if _self_name(k).startswith("operators."))
        layer["operators.failed"] = len(op_failed)
        layer["tracing.overhead_s"] = summarize(runner.records, "traced")["pass_s"] - e2e["pass_s"]
        # figures of the untraced window too noisy to gate on this box
        for name in ("op_p50_s", "op_tail_s", "peak_rss_mb"):
            layer[name] = e2e[name]
        layer["session.first_setup_s"] = setups[0]
        layer.update(ratios)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        spark.stop()

    failed = sum(1 for r in measured if r["error"] or r["wrong"])
    correct = not any(r["wrong"] for r in runner.records)

    print(f"# workload {wl.name} seed {args.seed} cores {cores} driver_memory {DRIVER_MEMORY}")
    print(f"# set-ups {' '.join(f'{s:.3f}' for s in setups)} s (first launches the JVM)")
    print(f"# warm-up passes {' '.join(f'{w:.3f}' for w in warm)} s; measured passes "
          f"{len(passes)}, ok ops {e2e['n_ok']}, op_tail_s = p{TAIL_PCT}")
    for m in spec["end_to_end"]:
        print(f"{m['name']} {e2e[m['name']]:.4f} {m['unit']}")
    if not args.trace:
        for name in ("op_p50_s", "op_tail_s"):
            print(f"{name} {e2e[name]:.4f} s")
        print(f"peak_rss_mb {e2e['peak_rss_mb']:.1f} MB")
    for name, value, unit in stage:
        print(f"{name} {value if isinstance(value, str) else f'{value:.4f}'} {unit}")
    for name, value in sorted({**layer, **per_kind}.items()):
        print(f"{name} {value:.6g} {_unit(name)}")
    for name, value in sorted(op_self.items()):
        print(f"{_self_name(name)}.self_s {value:.4f} s")
        if name.startswith("plans."):
            print(f"{name}.build_s {op_build[name]:.4f} s")
    for name, cls in sorted(op_failed.items()):
        print(f"{_self_name(name)}.self_s absent failed: {cls}")

    # the JSON line carries exactly the metrics BENCHMARK.json declares
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": len(measured), "failed": failed,
                      "metrics": metrics}))
    return 0


def stop_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


if __name__ == "__main__":
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
    sys.exit(code)
