#!/usr/bin/env python3
"""evlake benchmark: closed-loop workloads over the package's public entry
points, measured end to end (``--trace 0``) or per layer (``--trace 1``).

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 20 --trace 0

One client drives one operation at a time (closed loop), in whole passes
over the workload's fixed operation cycle; ``--seconds`` sets how many
passes, at the workload's nominal pass time on a 4-core box. Input
generation and output checks run between operations and are not timed.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {"value", "unit"}}``). Lines before it
are a human-readable report. Every run works in its own directory under ``.perfbench_runs/``
in the checkout and removes it on exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ev_charging_sessions_orchestrated_lakehouse_pipeline_spark"

WORKLOADS = {
    "medallion_daily": ("medallion", "MedallionDaily"),
    "snapshot_dml": ("snapshot_dml", "SnapshotDml"),
}

#: end-to-end metrics, the JSON result of an untraced run: name -> unit
END_TO_END = {
    "setup_s": "s",  # wall clock: session start, inputs, priming
    "peak_rss_mb": "MB",  # VmHWM of the Python process plus the JVM
    "bytes_per_row": "B/row",  # on-disk lake bytes per live row at the end
}

#: printed beside them, not part of the JSON result. On a shared VM the
#: host's load and clock move wall and CPU times alike by up to a third
#: between runs (see host_steal_share), more than a regression bound can
#: absorb. CPU figures exclude the JVM's JIT compiler threads (CpuMeter).
REPORTED = {
    "write_cpu_s": "s",
    "read_cpu_s": "s",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "write_tail_pct": "%",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "read_tail_pct": "%",
    "ops_per_s": "1/s",
    "wall_s": "s",
    "setup_cpu_s": "s",
    "jit_cpu_s": "s",
    "fail_ratio": "ratio",
    "host_steal_share": "ratio",
    "rows_per_s": "rows/s",
}


@dataclass
class OpResult:
    kind: str  # "write" | "read"
    label: str
    seconds: float
    cpu_s: float  # Python + JVM CPU seconds in the op, JIT compilation apart
    jit_s: float  # JVM JIT-compiler CPU seconds in the op
    ok: bool


def start_session(rundir: str, cores: int, event_log: str | None):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.session import get_spark

    tmp = os.path.join(rundir, "tmp")
    # no hsperfdata file in /tmp; fixed compiler threads, so CpuMeter can
    # tell JIT time apart exactly
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={rundir} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="evlake-perfbench", master=f"local[{cores}]", conf=conf, driver_memory="1g")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def measure(wl, seconds: float, tracer, meter: tracing.CpuMeter) -> tuple[list[OpResult], float, float]:
    """Closed loop over whole passes of ``wl.cycle``. The number of passes
    is ``seconds`` over the workload's nominal pass time (at least one), so
    every run measures the same operations however busy the host is.
    Returns the ops, the timed seconds and the untimed seconds spent between
    operations (input generation, checks)."""
    ops: list[OpResult] = []
    timed = untimed = 0.0
    for _ in range(max(1, round(seconds / wl.cycle_s))):
        for label in wl.cycle:
            u0 = time.perf_counter()
            kind, fn, check = wl.make(label)
            untimed += time.perf_counter() - u0
            ok, result = True, None
            files0 = tracing.file_sizes(wl.lake_dirs()) if tracer is not None else None
            c0, j0 = meter.sample()
            t0 = time.perf_counter()
            op_span = None
            try:
                if tracer is not None:
                    with tracer.span(f"op.{label}") as op_span:
                        result = fn()
                else:
                    result = fn()
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            c1, j1 = meter.sample()
            timed += dt
            u1 = time.perf_counter()
            if op_span is not None:
                delta = tracing.size_delta(files0, tracing.file_sizes(wl.lake_dirs()))
                op_span.attrs.update(bytes_added=delta["bytes_added"], bytes_removed=delta["bytes_removed"])
            if ok:
                ok = check(result)
                if tracer is not None and kind == "read":
                    wl.sample_scan()
            untimed += time.perf_counter() - u1
            ops.append(OpResult(kind, label, dt, c1 - c0, j1 - j0, ok))
    return ops, timed, untimed


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples for one."""
    if len(values) < 11:
        return None
    return sorted(values)[-11], 100.0 * (len(values) - 10) / len(values)


def end_to_end(ops: list[OpResult]) -> dict:
    """Per-kind latency and CPU figures over the timed operations."""
    out = {"ops_per_s": len(ops) / sum(o.seconds for o in ops), "jit_cpu_s": sum(o.jit_s for o in ops)}
    for kind in ("write", "read"):
        mine = [o for o in ops if o.kind == kind]
        xs = [o.seconds for o in mine]
        out[f"{kind}_p50_s"] = statistics.median(xs)
        t = tail(xs)
        if t is not None:
            out[f"{kind}_tail_s"], out[f"{kind}_tail_pct"] = t
        out[f"{kind}_cpu_s"] = sum(o.cpu_s for o in mine) / len(mine)
    return out


def per_label(ops: list[OpResult]) -> None:
    print(f"  {'operation':<34} {'n':>3} {'p50 s':>9} {'min s':>9} {'cpu s':>9} {'min cpu s':>9}")
    for label in dict.fromkeys(o.label for o in ops):
        mine = [o for o in ops if o.label == label]
        print(
            f"  {label:<34} {len(mine):>3} {statistics.median(o.seconds for o in mine):>9.4f} "
            f"{min(o.seconds for o in mine):>9.4f} {statistics.mean(o.cpu_s for o in mine):>9.4f} "
            f"{min(o.cpu_s for o in mine):>9.4f}"
        )


def report(metrics: dict, units: dict) -> None:
    for name, value in metrics.items():
        print(f"  {name:<44} {value:>14.6g} {units.get(name, '')}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package at {ROOT}; run from an evlake checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import layers

    mod_name, cls_name = WORKLOADS[args.workload]
    wl_cls = getattr(importlib.import_module(mod_name), cls_name)

    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(rundir, "tmp"))
    # the package's temp tables (tempfile.gettempdir()) land in the run dir
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    tempfile.tempdir = None
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = tracer = None
    event_log = os.path.join(rundir, "eventlog") if args.trace else None
    try:
        t_setup = time.perf_counter()
        spark = start_session(rundir, cores, event_log)
        wl = wl_cls(spark, rundir, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        meter = tracing.CpuMeter(jvm_pid())
        setup_cpu_s = sum(meter.sample())

        if args.trace:
            tracer = tracing.Tracer(spark.sparkContext)
            patches = tracing.instrument(tracer)
            py4j = tracing.Py4jCounter()
            py4j.install()
        ticks = tracing.cpu_ticks()
        ops, timed, untimed = measure(wl, args.seconds, tracer, meter)
        steal = tracing.host_steal_share(ticks, tracing.cpu_ticks())
        if args.trace:
            py4j.restore()
            patches.restore()
        mismatches = wl.final_checks()
        failed = sum(not o.ok for o in ops) + len(mismatches)
        attempted = len(ops) + wl.n_final_checks
        for m in mismatches:
            print(f"MISMATCH {m}", file=sys.stderr)
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": tracing.peak_rss_mb(jvm_pid()),
            **wl.lake_metrics(),
            **end_to_end(ops),
            "wall_s": timed,
            "setup_cpu_s": setup_cpu_s,
            "fail_ratio": failed / attempted,
            "host_steal_share": steal,
            **wl.extra_metrics(timed),
        }

        n_w = sum(o.kind == "write" for o in ops)
        print(f"workload {args.workload} seed {args.seed} trace {args.trace} local[{cores}]")
        print(
            f"  ops {len(ops)} (writes {n_w}, reads {len(ops) - n_w}); "
            f"fail_ratio {failed}/{attempted}; outputs {'correct' if failed == 0 else 'WRONG'}"
        )
        report({k: metrics[k] for k in END_TO_END}, END_TO_END)
        report({k: metrics[k] for k in REPORTED if k in metrics}, REPORTED)
        per_label(ops)

        if args.trace:
            stop_session(spark)
            spark = None
            layer = layers.layer_metrics(tracer, py4j, event_log, len(ops), wl)
            print("per-layer (trace on):")
            report(layer, layers.PER_LAYER)
            for line in layers.accounting(tracer, timed, untimed):
                print(line)
            print(
                f"  tracing overhead: this wall_s minus an untraced run's wall_s for the same seed and "
                f"--seconds (same operations); tracer bookkeeping alone {tracer.own_s:.4f} s"
            )
            tracer.dump(sys.stderr)
            out_metrics = {k: {"value": layer[k], "unit": u} for k, u in layers.PER_LAYER.items()}
        else:
            out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        print(
            json.dumps(
                {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics}
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
