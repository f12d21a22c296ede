"""Per-layer report of a traced run: spans, py4j counters and the Spark
event log folded into the metrics BENCHMARK.json lists under
``per_layer``.

Normalisation: a ``<layer>.<function>.*`` metric is per call of that
function; ``py4j.*``, ``spark.*`` and ``localframe.*`` are per timed
operation. A metric of a layer the workload
never calls reads 0.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import tracing

#: name -> unit, in report order
PER_LAYER: dict[str, str] = {
    "readers.read_bronze_csv.busy_s": "s/call",
    "readers.read_bronze_csv.jobs": "count/call",
    "silver.clean_sessions.busy_s": "s/call",
    "silver.run_silver.self_s": "s/call",
    "silver.run_silver.jobs": "count/call",
    "quality.verify.busy_s": "s/call",
    "quality.verify.jobs": "count/call",
    "quality.split.busy_s": "s/call",
    "quality.input_scans": "count/batch",
    "writers.write_partitioned_parquet.busy_s": "s/call",
    "writers.write_partitioned_parquet.files": "count/call",
    "writers.write_partitioned_parquet.bytes": "B/call",
    "gold.run_gold.busy_s": "s/call",
    "gold.run_gold.self_s": "s/call",
    "snaptable.create_table.busy_s": "s/call",
    "snaptable.append.busy_s": "s/call",
    "snaptable.overwrite_partitions.busy_s": "s/call",
    "snaptable.merge_into.busy_s": "s/call",
    "snaptable.delete_where.busy_s": "s/call",
    "snaptable.update_where.busy_s": "s/call",
    "snaptable.commit.busy_s": "s/call",
    "snaptable.commit.jobs": "count/call",
    "snaptable.commit.manifest_bytes": "B/call",
    "snaptable.commit.bytes_per_row": "B/row",
    "snaptable.commit.failed": "count",
    "snaptable.read_snapshot.build_s": "s/call",
    "snaptable.read_snapshot.action_s": "s/call",
    "snaptable.changes.build_s": "s/call",
    "snaptable.changes.action_s": "s/call",
    "snaptable.scan.files_read_ratio": "ratio",
    "snaptable.scan.dv_files": "count/read",
    "snaptable.optimize.busy_s": "s/call",
    "snaptable.optimize.bytes_rewritten": "B/call",
    "snaptable.vacuum.busy_s": "s/call",
    "snaptable.vacuum.bytes_reclaimed": "B/call",
    "snaptable.versions": "count",
    "snaptable.live_files": "count",
    "lake.bytes_added": "B/op",
    "lake.bytes_removed": "B/op",
    "localframe.local_df.calls": "count/op",
    "localframe.local_df.rows": "rows/op",
    "localframe.local_df.busy_s": "s/op",
    "py4j.calls": "count/op",
    "py4j.busy_s": "s/op",
    "spark.job_s": "s/op",
    "spark.sql_outside_jobs_s": "s/op",
    "spark.outside_sql_s": "s/op",
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.input_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "tracing.own_s": "s/op",
}

#: spans whose busy time is reported per call (localframe's is per op)
_BUSY = [
    k.rsplit(".", 1)[0]
    for k in PER_LAYER
    if k.endswith(".busy_s") and k.count(".") == 2 and not k.startswith("localframe.")
]


def _ancestors(tr: tracing.Tracer, sp: tracing.Span):
    while sp is not None:
        yield sp
        sp = tr.spans[sp.parent - 1] if sp.parent else None


def _root(tr: tracing.Tracer, sp: tracing.Span) -> tracing.Span:
    *_, root = _ancestors(tr, sp)
    return root


def layer_metrics(tr: tracing.Tracer, py4j: tracing.Py4jCounter, log_dir: str, n_ops: int, wl) -> dict:
    """Fold one traced run into PER_LAYER values; ``n_ops`` is the number
    of timed operations. Only spans under an ``op.*`` root count."""
    spans = [s for s in tr.spans if _root(tr, s).name.startswith("op.")]
    ops = max(n_ops, 1)
    # outermost call of each name: a name nested in itself counts once
    outer = [s for s in spans if not any(a.name == s.name for a in list(_ancestors(tr, s))[1:])]
    calls = Counter(s.name for s in outer)
    busy = defaultdict(float)
    selfs = defaultdict(float)
    attrs = defaultdict(float)
    for s in outer:
        busy[s.name] += s.dur
        for k, v in s.attrs.items():
            attrs[(s.name, k)] += v
    for s in spans:
        selfs[s.name] += tr.self_time(s)

    log = tracing.parse_event_log(log_dir)
    by_group = {f"pb{s.sid}": s for s in spans}
    op_jobs = []
    jobs_by_name = Counter()
    input_scans = 0
    for job in log.jobs.values():
        sp = by_group.get(job.group or "")
        if sp is None:
            continue
        op_jobs.append(job)
        names = {a.name for a in _ancestors(tr, sp)}
        jobs_by_name.update(names)
        if "silver.run_silver" in names and tracing.job_scans(log, job, ("Scan csv", "Scan text")):
            input_scans += 1
    roots = [s for s in spans if s.parent is None]
    eng = tracing.engine_totals(log, op_jobs, [(s.t0, s.t1) for s in roots])

    def per_call(name: str, total: float) -> float:
        return total / calls[name] if calls[name] else 0.0

    out: dict[str, float] = {}
    for name in _BUSY:
        out[f"{name}.busy_s"] = per_call(name, busy[name])
    for name in ("silver.run_silver", "gold.run_gold"):
        out[f"{name}.self_s"] = per_call(name, selfs[name])
    for name in ("readers.read_bronze_csv", "silver.run_silver", "quality.verify", "snaptable.commit"):
        out[f"{name}.jobs"] = per_call(name, jobs_by_name[name])
    out["quality.input_scans"] = per_call("silver.run_silver", input_scans)
    w = "writers.write_partitioned_parquet"
    out[f"{w}.files"] = per_call(w, attrs[(w, "files")])
    out[f"{w}.bytes"] = per_call(w, attrs[(w, "bytes")])
    out["snaptable.commit.manifest_bytes"] = per_call("snaptable.commit", attrs[("snaptable.commit", "manifest_bytes")])
    out["snaptable.commit.failed"] = float(sum(s.failed for s in spans if s.name == "snaptable.commit"))
    out["snaptable.optimize.bytes_rewritten"] = per_call(
        "snaptable.optimize", attrs[("snaptable.optimize", "bytes_rewritten")]
    )
    out["snaptable.vacuum.bytes_reclaimed"] = per_call(
        "snaptable.vacuum", attrs[("snaptable.vacuum", "bytes_reclaimed")]
    )
    # a read op's action time is its duration minus the planning calls in it
    for name in ("snaptable.read_snapshot", "snaptable.changes"):
        out[f"{name}.build_s"] = per_call(name, busy[name])
        action, n = 0.0, 0
        for root in roots:
            kids = [tr.spans[c - 1] for c in root.children]
            build = [k for k in kids if k.name == name]
            if build and all(k.name == name for k in kids):
                action += root.dur - sum(k.dur for k in build)
                n += 1
        out[f"{name}.action_s"] = action / n if n else 0.0
    scans = wl.scan_samples
    out["snaptable.scan.files_read_ratio"] = (
        sum(p / max(live, 1) for p, live, _ in scans) / len(scans) if scans else 0.0
    )
    out["snaptable.scan.dv_files"] = sum(d for *_, d in scans) / len(scans) if scans else 0.0
    table = wl.table_summary()
    out["snaptable.commit.bytes_per_row"] = table.get("bytes_per_row", 0.0)
    out["snaptable.versions"] = float(table.get("versions", 0))
    out["snaptable.live_files"] = float(table.get("live_files", 0))
    for k in ("bytes_added", "bytes_removed"):
        out[f"lake.{k}"] = sum(r.attrs.get(k, 0) for r in roots) / ops
    lf = "localframe.local_df"
    out[f"{lf}.calls"] = calls[lf] / ops
    out[f"{lf}.rows"] = attrs[(lf, "rows")] / ops
    out[f"{lf}.busy_s"] = busy[lf] / ops
    out["py4j.calls"] = py4j.calls / ops
    out["py4j.busy_s"] = py4j.busy_s / ops
    for k in ("job_s", "sql_outside_jobs_s", "outside_sql_s", "jobs", "tasks", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = getattr(eng, k) / ops
    out["tracing.own_s"] = tr.own_s / ops
    return {k: float(out[k]) for k in PER_LAYER}


def accounting(tr: tracing.Tracer, wall_s: float, untimed_s: float) -> list[str]:
    """Lines showing that the op spans' layer self times plus the op-level
    remainder account for the timed wall clock."""
    roots = [s for s in tr.spans if s.parent is None and s.name.startswith("op.")]
    by_layer = defaultdict(float)
    for s in tr.spans:
        if _root(tr, s).name.startswith("op.") and s.parent is not None:
            by_layer[s.name.split(".")[0]] += tr.self_time(s)
    op_self = sum(tr.self_time(r) for r in roots)
    spanned = sum(r.dur for r in roots)
    lines = [f"  {'self time by layer':<44} {'s':>14}"]
    for layer, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        lines.append(f"    {layer:<42} {v:>14.4f}")
    lines.append(f"    {'op (outside any layer call)':<42} {op_self:>14.4f}")
    lines.append(
        f"  op spans {spanned:.4f} s + loop/tracer gap {wall_s - spanned:.4f} s = wall_s {wall_s:.4f} s; "
        f"untimed gaps between ops (inputs, checks) {untimed_s:.4f} s"
    )
    return lines
