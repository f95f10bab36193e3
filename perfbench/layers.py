"""Per-layer metrics of a traced run.

The harness traces every second poll after warm-up. For each traced poll
the Spark jobs, stages, SQL executions, planning phases and codegen
compiles recorded in its interval are split by the program's layers:

* ``sources``    opening the poll's input tables (the program's loaders)
* ``omm``        the cancellation pipeline: planning, codegen, compute
* ``operators``  the diff and the state primitives (files, bytes, rewrites)
* ``streaming``  the poll / ingest entry points: jobs, tasks, scheduling,
                 driver time outside any job, sink and state writes
* ``queries``    registered queries (the stream workload's end check)
* ``jvm``        garbage collection

Each metric is the median over traced polls (means for sparse events:
rewrites and compactions). ``universal`` metrics exist on every workload
and form the ``per_layer`` set of BENCHMARK.json; the rest are reported
in the ``layers`` line for the workloads they apply to.
"""
import stats

UNIVERSAL = [
    ("sources.open_ms", "ms"), ("sources.build_jobs", "count"),
    ("engine.plan_ms", "ms"),
    ("engine.compute_ms", "ms"), ("engine.shuffle_bytes", "bytes"),
    ("streaming.jobs", "count"), ("streaming.tasks", "count"),
    ("streaming.sched_delay_ms", "ms"), ("streaming.driver_ms", "ms"),
    ("streaming.state_ms", "ms"), ("streaming.files_written", "count"),
    ("operators.state_files", "count"), ("operators.state_bytes", "bytes"),
    ("operators.bytes_rewritten", "bytes"), ("jvm.gc_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]
MEANS = {"operators.bytes_rewritten", "operators.compactions"}


def _in(t, lo, hi):
    return lo <= t <= hi


def _interval(x):
    return (x["start"], x.get("end", x["start"]))


def unit_layers(u, tr, kind):
    """Layer split of one traced poll `u` from the run's trace `tr`."""
    lo, hi = u["start"], u["end"]
    jobs = [j for j in tr["jobs"] if _in(j["start"], lo, hi)]
    ids = {j["id"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in ids]
    by_job = {}
    for s in stages:
        by_job.setdefault(s["job"], []).append(s)
    sql_out = {q["id"]: q["out"] for q in tr["sqls"]}
    sql_site = {q["id"]: q["site"] for q in tr["sqls"]}

    def site(j):
        return sql_site.get(j["sql"]) or j["site"]
    spans = [s for s in tr["spans"] if s["unit"] == u["i"] and _in(s["start"], lo, hi)]

    def span_ms(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def jobs_in(name):
        iv = [_interval(s) for s in spans if s["name"] == name]
        return [j for j in jobs if any(_in(j["start"], a, b) for a, b in iv)]

    def stage_sum(js, key):
        return sum(s[key] for j in js for s in by_job.get(j["id"], []))

    def wall(js):
        return stats.union_ms([_interval(j) for j in js])

    out_jobs = {lbl: [j for j in jobs if sql_out.get(j["sql"]) == lbl]
                for lbl in ("sink", "state")}
    files = u.get("files", {})
    m = {
        "sources.open_ms": span_ms("sources.open"),
        "sources.build_jobs": len(jobs_in("sources.open")),
        "engine.plan_ms": sum(p["ms"] for p in tr["phases"] if _in(p["start"], lo, hi)),
        "engine.codegen_ms": sum(c["ms"] for c in tr["compiles"] if _in(c["start"], lo, hi)),
        "engine.compute_ms": stage_sum(jobs, "run_ms"),
        "engine.shuffle_bytes": stage_sum(jobs, "shuffle_write"),
        "streaming.jobs": len(jobs),
        "streaming.tasks": stage_sum(jobs, "tasks"),
        "streaming.sched_delay_ms": stage_sum(jobs, "sched_ms"),
        "streaming.driver_ms": stats.self_ms((lo, hi), [_interval(j) for j in jobs]),
        "streaming.state_ms": wall(out_jobs["state"]),
        "streaming.files_written": files.get("files_written", 0),
        "operators.state_files": files.get("state_files", 0),
        "operators.state_bytes": files.get("state_bytes", 0),
        "operators.bytes_rewritten": files.get("bytes_rewritten", 0),
        "jvm.gc_ms": u["gc_ms"],
    }
    if kind == "omm":
        materialise = [j for j in jobs if site(j).startswith("count at CancellationStream")]
        m.update({
            "omm.plan_ms": m["engine.plan_ms"],
            "omm.codegen_ms": m["engine.codegen_ms"],
            "omm.compute_ms": stage_sum(materialise, "run_ms"),
            "omm.shuffle_bytes": m["engine.shuffle_bytes"],
            "operators.diff_ms": wall([j for j in jobs if site(j).startswith(
                "collect at CancellationStream")]),
            "streaming.sink_ms": wall(out_jobs["sink"]),
            "streaming.sink_bytes": stage_sum(out_jobs["sink"], "out_bytes"),
        })
    else:
        m.update({
            "streaming.active_ingest_ms": span_ms("streaming.active_ingest"),
            "streaming.ngram_ingest_ms": span_ms("streaming.ngram_ingest"),
            "operators.compactions": files.get("tables_rewritten", 0),
        })
    return m


def query_layers(tr):
    """Registered-query split of the stream workload's end check: DataFrame
    build time, jobs run before the DataFrame is returned, execution."""
    out = {}
    for q in {s["unit"] for s in tr["spans"] if s["name"] == "queries.build"}:
        b = [s for s in tr["spans"] if s["name"] == "queries.build" and s["unit"] == q]
        e = [s for s in tr["spans"] if s["name"] == "queries.exec" and s["unit"] == q]
        eager = [j for j in tr["jobs"]
                 if any(_in(j["start"], s["start"], s["end"]) for s in b)]
        out.setdefault("queries.build_ms", []).append(sum(s["end"] - s["start"] for s in b))
        out.setdefault("queries.eager_jobs", []).append(len(eager))
        out.setdefault("queries.exec_ms", []).append(sum(s["end"] - s["start"] for s in e))
    return {k: stats.median(v) for k, v in out.items()}


def per_layer(res, spec):
    """(metrics for the result line, full per-layer detail)."""
    tr = res["trace"]
    units = res["units"][spec["warmup"]:]
    traced = [u for u in units if u["traced"]]
    rows = [unit_layers(u, tr, spec["kind"]) for u in traced]
    detail = {}
    for k in rows[0] if rows else []:
        vals = [r[k] for r in rows]
        detail[k] = sum(vals) / len(vals) if k in MEANS else stats.median(vals)
    detail["trace.overhead_ms"] = (
        stats.median([u["ms"] for u in traced])
        - stats.median([u["ms"] for u in units if not u["traced"]]))
    detail["traced_polls"] = len(traced)
    if spec["kind"] != "omm":
        detail.update(query_layers(tr))
        detail["read_p50_ms"] = stats.median(
            [u["read_ms"] for u in res["units"] if "read_ms" in u])
    metrics = {name: (detail.get(name, float("nan")), unit) for name, unit in UNIVERSAL}
    return metrics, detail
