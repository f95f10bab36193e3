#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload omm_poll_prod --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (the output is cached under .bench_build/ and
rebuilt when a source changes). Each run generates its inputs from the
seed, drives the program through its public functions in a fresh JVM,
checks every output against DuckDB, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from a traced run. The exit code is non-zero when an
output check fails or the run cannot be made. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

# kind: which harness workload drives it; units: the fixed number of polls
# a run makes (fewer if --seconds of poll time pass first); warmup: leading
# polls left out of the timing statistics (the first poll has no state yet,
# the second is the first to merge with it, and OMM poll times keep falling
# over the next two as the JIT warms).
WORKLOADS = {
    "omm_poll_prod": dict(kind="omm", cases=2_000, units=13, warmup=4),
    "stream_aging": dict(kind="stream", events=5_000, docs=300, units=10,
                         warmup=2),
}
JVM_TIMEOUT_S = 160

# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, files in os.walk(r) for f in files
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the JVM classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "harness", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; "
                             "run from a full checkout of the repository")
    digest = _source_digest()
    stamp = os.path.join(BUILD_DIR, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
         "-Dsbt.offline=true", "-Xmx2g"] if os.path.exists(repos) else ["-Xmx2g"]))
    log("perfbench: building the program and the harness with sbt")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"perfbench: built in {time.time() - t:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# -------------------------------------------------------------------- run
def make_inputs(spec, seed, inputs):
    n = spec["units"]
    if spec["kind"] == "omm":
        gen.gen_omm(inputs, seed, spec["cases"], n)
    else:
        gen.gen_stream(inputs, seed, n, spec["events"], spec["docs"])


def run_jvm(classpath, spec, args, work, inputs, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps the resident set comparable between runs
    cmd = (["java", "-Xms1g", "-Xmx1g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", spec["kind"], "--inputs", inputs, "--work", work,
              "--out", out, "--seconds", str(args.seconds),
              "--cores", str(len(os.sched_getaffinity(0))), "--trace", str(args.trace)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")


def end_to_end(res, spec):
    """The bounded end-to-end metrics, and the figures printed beside them
    without a bound: a run has too few polls for its tail or aging ratio to
    repeat within one, and read times moved with CPU steal by more than
    one between ten-run sets."""
    units = res["units"][spec["warmup"]:]
    ms = [u["ms"] for u in units]
    reads = [u for u in res["units"] if "read_ms" in u]
    tail, pct, n = stats.tail(ms)
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "poll_p50_ms": (stats.median(ms), "ms"),
        "poll_cpu_ms": (stats.median([u["cpu_ms"] for u in units]), "ms"),
        "state_mb": (res["state_bytes"] / 1e6, "MB"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    info = {"polls": n, "poll_tail_ms": tail, "poll_tail_pct": pct,
            "aging_ratio": stats.aging_ratio(ms),
            "read_p50_ms": stats.median([u["read_ms"] for u in reads]),
            "reads": len(reads),
            "poll_ms": [round(x, 1) for x in ms]}
    return metrics, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]

    classpath = build()
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ok = False
    try:
        inputs = os.path.join(work, "inputs")
        make_inputs(spec, args.seed, inputs)
        out = os.path.join(work, "result.json")
        cpu0 = stats.read_cpu_jiffies()
        ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        run_jvm(classpath, spec, args, work, inputs, out)
        ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        own = round(100 * ((ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)))
        witness = stats.witness(cpu0, stats.read_cpu_jiffies(), own)
        with open(out) as f:
            res = json.load(f)

        if spec["kind"] == "omm":
            errors = oracle.check_omm(res["units"], res["check"]["sink"],
                                      res["check"]["zone"])
            attempted = len(res["units"])
            info_mix = {"mix": oracle.omm_mix(res["units"], res["check"]["zone"])}
        else:
            errors = oracle.check_stream(res["check"])
            attempted = len(res["check"]["oracle_sql"])
            info_mix = {}
        for _, e in errors:
            log(f"perfbench: CHECK FAILED: {e}")
        failed = len({what for what, _ in errors})

        e2e, info = end_to_end(res, spec)
        if args.trace:
            per_layer, detail = layers.per_layer(res, spec)
            print(json.dumps({"layers": detail}))
            metrics = per_layer
        else:
            metrics = e2e
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          **info, **info_mix, "witness": witness,
                          "end_to_end": {k: v[0] for k, v in e2e.items()}}))
        print(json.dumps(allow_nan=False, obj={
            "correct": not errors, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        ok = not errors
        return 0 if ok else 1
    finally:
        # a failed run leaves its inputs, outputs and JVM log for inspection
        if ok:
            shutil.rmtree(work, ignore_errors=True)
        else:
            log(f"perfbench: run directory kept: {work}")


if __name__ == "__main__":
    sys.exit(main())
