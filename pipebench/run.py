#!/usr/bin/env python3
"""The repository's benchmark: the securities pipeline's daily incremental
run, a cold backfill, and the streaming near-duplicate drain, each timed to
its delivered result (the written warehouse tables, the committed dedup
state) and checked against an independent answer.

    python3 pipebench/run.py --workload daily_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (the Spark jars come from $SPARK_HOME). The
report lines go to stdout, followed by one JSON line: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)

# Sizes of each workload; the reasons are in BENCHMARK.json and README.md.
# The stock universe is cut into three fetch chunks, as the reference's
# ~1,500 symbols are in 500-symbol chunks.
WORKLOADS = {
    "daily_incremental": dict(kind="securities", n_stocks=150, history_days=250, n_days=290,
                              chunks=3),
    "backfill": dict(kind="securities", n_stocks=100, history_days=0, n_days=250, chunks=3),
    "stream_dedup": dict(kind="documents", n_files=6, docs_per_file=600, clique_size=500),
}
RUN_LIMIT_S = 160
HEAP = "3g"
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# the per-layer metrics the JSON line carries: the ones every workload
# exercises; the module split is in the report lines and the span file
PER_LAYER = {
    "driver_gap_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}


class BenchError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _build_inputs():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return files


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build in this checkout."""
    if not os.path.isdir(PROGRAM):
        raise BenchError(f"program sources not found under {os.path.relpath(PROGRAM, ROOT)}")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    h = hashlib.sha256()
    for f in _build_inputs():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return 0.0
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    t = time.monotonic()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BenchError("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"[pipebench] built in {time.monotonic() - t:.1f} s")
    return time.monotonic() - t


def module_map():
    """Source file -> program module (its directory under graft/), so the
    tracer's call-site attribution follows the program as it changes."""
    out = {"WideParquetSource.scala": "sources"}
    for mod in sorted(os.listdir(PROGRAM)):
        d = os.path.join(PROGRAM, mod)
        if os.path.isdir(d):
            out.update({f: mod for f in os.listdir(d) if f.endswith(".scala")})
    return out


# ------------------------------------------------------------------ setup

def generate(workload, seed, out):
    """Write the workload's inputs (and the pre-existing history) under
    `out`; returns the generator's metadata."""
    import gen
    w = WORKLOADS[workload]
    if w["kind"] == "securities":
        return gen.securities(out, seed, n_stocks=w["n_stocks"], n_days=w["n_days"],
                              history_days=w["history_days"],
                              chunk=-(-w["n_stocks"] // w["chunks"]))
    return gen.documents(out, seed, n_files=w["n_files"], docs_per_file=w["docs_per_file"],
                         clique_size=w["clique_size"])


def write_params(path, params):
    with open(path, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")


def run_jvm(workload, data, meta, seconds, trace, fault, deadline):
    params = {"workload": workload, "seconds": seconds, "trace": int(trace), "data": data,
              "out": os.path.join(data, "result.json"), "fault": fault,
              "modules": ",".join(f"{k}={v}" for k, v in module_map().items())}
    if WORKLOADS[workload]["kind"] == "documents":
        params["docs_total"] = meta["total"]
    else:
        params["days"] = ",".join(meta["fetch_days"])
        params["chunk_size"] = meta["chunk"]
        params["history_rows"] = meta["history"]["rows"] if meta["history_days"] else 0
        for cat in ("sp_stocks", "fx"):
            cs = [c for c in meta["chunks"] if c["category"] == cat]
            params[f"chunks.{cat}"] = len(cs)
            for i, c in enumerate(cs):
                params[f"chunk.{cat}.{i}.file"] = c["file"]
                params[f"chunk.{cat}.{i}.symbols"] = ",".join(c["symbols"])
    ppath = os.path.join(data, "params.properties")
    write_params(ppath, params)
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    # every scratch write stays in the run directory: no hsperfdata file in
    # the system temp dir, and Spark's scratch here even if the environment
    # names other local dirs
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(data, "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(data, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "pipebench.Main", ppath]
    left = deadline - time.monotonic()
    try:
        r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10, left))
    except subprocess.TimeoutExpired:
        raise BenchError("the program did not finish within the run limit")
    if r.returncode != 0:
        raise BenchError(f"the benchmark JVM exited with {r.returncode}")
    with open(params["out"]) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest value, as (value, percentile); None when that is
    not above the median (fewer than 21 samples)."""
    if len(xs) < 21:
        return None
    s = sorted(xs)
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def summarize(workload, meta, result, checks, failed, setup_s, gen_s):
    """Returns (attempted, failed count, end-to-end metrics, report lines)."""
    ops = result["ops"]
    lines = []
    if workload == "stream_dedup":
        batches = result["batches"]
        trig = [b["duration_ms"].get("triggerExecution", 0) / 1.0 for b in batches]
        failed_batches = sum(1 for b in batches if b["drain"] in failed)
        missing = sum(1 for o in ops if o["error"]) * meta["files"]
        attempted, n_failed = len(batches) + missing, failed_batches + missing
        first = trig[0] if trig else float("nan")
        # the warm drains: the first drain also pays the stream's cold start
        warm = [t for b, t in zip(batches, trig) if b["drain"] > 0] or trig[1:]
        drains = [o for o in ops if o["error"] is None]
        timed = drains[1:] or drains
        per_s = [meta["total"] / o["wall_s"] for o in timed]
        names = ("stream_batch_ms", "ms", 1.0)
        deliver = ("stream_docs_per_s", "docs/s")
    else:
        attempted, n_failed = len(ops), len(failed)
        # daily runs follow the checks' backfill, which pays the cold start;
        # a backfill run's first operation is its cold one
        daily = workload == "daily_incremental"
        first = (result["backfill"]["wall_s"] if daily else ops[0]["wall_s"]) * 1000.0
        timed = ops if daily else ops[1:]
        warm = [o["wall_s"] * 1000.0 for o in timed if o["error"] is None]
        per_s = [o["rows_changed"] / o["wall_s"] for o in timed
                 if o["error"] is None and "rows_changed" in o]
        if daily:
            names = ("daily_run_s", "s", 0.001)
            deliver = ("daily_rows_per_s", "rows/s")
        else:
            names = ("backfill_s", "s", 0.001)
            deliver = ("backfill_rows_per_s", "rows/s")
    p50 = statistics.median(warm) if warm else first
    dps = statistics.median(per_s) if per_s else 0.0
    cpu = [o["cpu_s"] for o in timed if o["error"] is None]
    # the cold operation and the peak RSS are reported but not gated: one
    # cold sample per process and the JVM's heap growth spread 8-29% across
    # seeds on a 4-core host, more than a third of any allowed bound
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_ms.p50": (p50, "ms"),
        "delivered_per_s": (dps, "1/s"),
    }
    base, unit, f = names
    cold = "span_backfill_cold_s" if workload == "daily_incremental" else \
        "backfill_cold_s" if workload == "backfill" else "stream_batch_cold_ms"
    lines.append(f"setup_s = {setup_s:.3f} s  (JVM start to SparkSession up)")
    lines.append(f"inputs_gen_s = {gen_s:.3f} s  (the seeded generator, not gated)")
    lines.append(f"{cold} = {first * f:.4f} {unit}")
    lines.append(f"{base}.p50 = {p50 * f:.4f} {unit}  (n={len(warm)})")
    t = tail(warm)
    lines.append(f"{base}.tail = " + (f"{t[0] * f:.4f} {unit}  (p{t[1]:.1f}, n={len(warm)})" if t
                                      else f"n/a  (n={len(warm)}: a tail above the median needs 21 samples)"))
    lines.append(f"{deliver[0]} = {dps:.1f} {deliver[1]}  (n={len(per_s)})")
    lines.append(f"op_cpu_s.p50 = {statistics.median(cpu) if cpu else 0.0:.3f} s  "
                 f"(process CPU time per timed {'drain' if workload == 'stream_dedup' else 'operation'}, "
                 f"n={len(cpu)})")
    lines.append(f"peak_rss_mb = {result['peak_rss_mb']:.1f} MB")
    lines.append(f"error_rate = {n_failed / max(1, attempted):.4f} ratio  ({n_failed} of {attempted})")
    for name, ok, detail in checks:
        lines.append(f"check {'PASS' if ok else 'FAIL'}: {name}: {detail}")
    return attempted, n_failed, metrics, lines


# -------------------------------------------------------------------- run

def measure(workload, seed, seconds, trace, fault=-1, keep=False):
    """One benchmark run. Returns a dict with the result line, the report
    lines and (with keep=True) the run directory."""
    import checks as chk
    start = time.monotonic()
    # a build may take long; the run limit covers everything else
    deadline = start + build() + RUN_LIMIT_S
    rundir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        data = os.path.join(rundir, "data")
        t = time.monotonic()
        meta = generate(workload, seed, data)
        gen_s = time.monotonic() - t
        log(f"[pipebench] set up at {time.monotonic() - T0:.1f} s")
        result = run_jvm(workload, data, meta, seconds, trace, fault, deadline)
        log(f"[pipebench] measured at {time.monotonic() - T0:.1f} s")
        setup_s = result["session_up_s"]
        if WORKLOADS[workload]["kind"] == "securities":
            checks, failed = chk.securities(data, meta, result, workload)
        else:
            checks, failed = chk.stream(data, meta, result)
        log(f"[pipebench] checked at {time.monotonic() - T0:.1f} s")
        attempted, n_failed, metrics, lines = summarize(workload, meta, result, checks, failed, setup_s, gen_s)
        correct = n_failed == 0 and all(c[1] for c in checks)
        if trace:
            tr = result.get("trace", {})
            metrics = {k: (tr.get(k, 0.0), u) for k, u in PER_LAYER.items()}
            lines += [f"{k} = {v:.6g}" for k, v in sorted(tr.items())]
            busy = sum(v for k, v in tr.items() if k.endswith(".busy_s"))
            lines.append(f"accounting: module busy {busy:.3f} s + driver gap "
                         f"{tr.get('driver_gap_s', 0):.3f} s = {busy + tr.get('driver_gap_s', 0):.3f} s "
                         f"of {tr.get('op_s', 0):.3f} s per traced op; untraced ops differ by "
                         f"{tr.get('trace.overhead_pct', 0):.1f}%")
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            span_file = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
            with open(span_file, "w") as f:
                json.dump({k: result.get(k) for k in ("spans", "jobs", "trace", "ops")}, f)
            lines.append(f"span file: {os.path.relpath(span_file, ROOT)}")
        line = {"correct": bool(correct), "attempted": int(attempted), "failed": int(n_failed),
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
        return {"line": line, "lines": lines, "rundir": data, "meta": meta, "result": result}
    finally:
        if not keep:
            shutil.rmtree(rundir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        out = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    except BenchError as e:
        log(f"[pipebench] {e}")
        sys.exit(2)
    print(f"[pipebench] {a.workload} seed={a.seed} trace={a.trace}")
    for line in out["lines"]:
        print(f"  {line}")
    print(json.dumps(out["line"]), flush=True)


if __name__ == "__main__":
    main()
