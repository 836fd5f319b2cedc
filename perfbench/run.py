#!/usr/bin/env python3
"""prqlspark benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload prql_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark driver (perfbench/src) with scalac from
the Spark distribution's jars ($SPARK_HOME/jars, else the jar directory
the repository's build.sbt names as `unmanagedBase`) into
.bench_build/perfbench/; later runs reuse the build while the sources are
unchanged. Each run then

1. generates its input tables from --seed (perfbench/datagen.py),
2. runs one driver JVM on local[N], N = the CPUs this process may use:
   set-up (session, input preparation, a warm-up pass that also produces
   every op's output for checking), then whole timed passes over the
   workload's ops in a seeded order for at least --seconds and at least
   two passes,
3. checks outputs: batch ops against the DuckDB oracle SQL the program
   ships (SparkEntry.oracleSql), hashed with tools/compare.py's canonical
   rules; streams against the same operator's batch path (in the JVM),
4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
   metrics with --trace 1 (passes alternate untraced and traced, at least
   U T; a traced pass minus the mean of the untraced passes next to it
   is the tracing overhead).

The full record of a run (provenance, every sample, contention context,
unchecked ops, span self times) is written to
.bench_build/perfbench/results/. Oracle fingerprints depend on the
generated input, so they are computed by DuckDB in each run and cached
under .bench_build/perfbench/oracle/ by (oracle SQL, input bytes).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import stats  # noqa: E402

# Input scale per workload, chosen so a whole run (set-up, a warm-up pass,
# timed passes, checks) stays under a minute on a 4-CPU host:
# prql_stream = eight PRQL queries at sf 0.01 (60,000 lineitem rows), where
# Spark's per-query job floor dominates, plus the LSH-pairs stream fed 2
# micro-batches; curation_heavy = three operators over 1,000 documents and
# 400 embeddings (sf 0.01 replicated K=2).
WORKLOADS = {
    "prql_stream": {"sf": 0.01, "k": 1, "batches": 2},
    "curation_heavy": {"sf": 0.01, "k": 2, "batches": 0},
}
HEAP = "2g"
RUN_LIMIT_S = 172
BUILD_LIMIT_S = 800

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_ms_p50": "ms", "compile_ms_p50": "ms",
              "rows_per_s": "rows/s", "peak_heap_mb": "MB"}
PER_LAYER = {
    "parse.ms": "ms", "parse.tokens": "count", "plan.fold_ms": "ms",
    "plan.analyzed_nodes": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.optimized_nodes": "count", "catalyst.exchanges": "count",
    "pipeline.build_ms": "ms", "pipeline.eager_jobs": "count", "pipeline.eager_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.fetch_wait_ms": "ms", "exec.gc_ms": "ms",
    "exec.task_skew": "ratio", "exec.core_util": "ratio",
    "exec.join_rows_per_output_row": "ratio",
    "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_updated_rows": "count", "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.overhead_ms": "ms",
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.isfile(sbt) else "")
        d = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any("spark-sql_" in j for j in jars):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sha256_files(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars, deadline):
    """Compiles program + driver once per source hash; returns (classes dir, hash)."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("program sources src/main/scala are missing; run from a repository checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    src_hash = sha256_files(main + bench, ROOT)
    out = os.path.join(ROOT, ".bench_build", "perfbench", f"classes-{src_hash[:16]}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, src_hash
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + main + bench
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=max(1, deadline - time.time()))
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 1)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, src_hash


def run_jvm(classes, jars, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources")] + jars)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-cp", cp, "graft.perfbench.Runner"] + [str(a) for a in args]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "wb") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-6000:])
        fail(f"driver JVM failed ({rc})", 1)


def check_outputs(raw, data_dir, out_dir, cache_dir, base):
    """op → failure text for every op with an oracle whose output differs."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import canon
    con = duckdb.connect()
    tables = {os.path.basename(p)[:-len(".parquet")]: p
              for p in glob.glob(os.path.join(data_dir, "*.parquet"))}
    scaled = raw["scaled_dir"]
    if scaled != data_dir:
        tables.update({os.path.basename(p)[:-len(".parquet")]: p
                       for p in glob.glob(os.path.join(scaled, "*.parquet"))})
    files = sorted(f for p in tables.values()
                   for f in ([p] if os.path.isfile(p) else glob.glob(os.path.join(p, "*.parquet"))))
    input_hash = sha256_files(files, base)
    for name, p in tables.items():
        src = p if os.path.isfile(p) else os.path.join(p, "*.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    failures = {}
    os.makedirs(cache_dir, exist_ok=True)
    for op, sql in sorted(raw["oracle"].items()):
        if raw["checks"].get(op):
            continue  # the JVM could not produce this output; already a failure
        key = hashlib.sha256((sql + input_hash).encode()).hexdigest()
        cache = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cache):
            with open(cache) as f:
                want = json.load(f)
        else:
            odf = con.sql(sql).df()
            h, n = canon(odf)
            want = {"hash": h, "rows": n, "cols": sorted(odf.columns)}
            with open(cache, "w") as f:
                json.dump(want, f)
        sdf = con.sql("SELECT * FROM read_parquet(" + repr(
            sorted(glob.glob(os.path.join(out_dir, "check", op, "*.parquet")))) + ")").df()
        h, n = canon(sdf)
        if h != want["hash"] or sorted(sdf.columns) != want["cols"]:
            failures[op] = f"output differs from the DuckDB oracle (rows {n} vs {want['rows']})"
    return failures


def sum_f(samples, key):
    return sum(s["f"].get(key, 0.0) for s in samples)


def end_to_end(raw, untraced_samples, untraced_passes):
    op_ms = [s["f"]["op_ms"] for s in untraced_samples if "op_ms" in s["f"]]
    compile_ms = [s["f"]["compile_ms"] for s in untraced_samples if "compile_ms" in s["f"]]
    return {
        "setup_s": raw["setup_s"],
        "pass_s": stats.median([p["wall_s"] for p in untraced_passes]),
        "op_ms_p50": stats.median(op_ms),
        "compile_ms_p50": stats.median(compile_ms),
        "rows_per_s": sum(p["rows_in"] for p in untraced_passes)
        / sum(p["wall_s"] for p in untraced_passes),
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def layer_values(ss, cpus):
    """Per-layer totals of one traced pass (times in ms, summed over ops).
    Samples are told apart by what was measured on them: PRQL queries carry
    parse counts, stream micro-batches a batch id, pipeline ops neither."""
    stream = [s for s in ss if "batch_id" in s["f"]]
    batch = [s for s in ss if "batch_id" not in s["f"]]
    prql = [s for s in batch if "parse_tokens" in s["f"]]
    pipeline = [s for s in batch if "parse_tokens" not in s["f"]]
    v = {
        "parse.ms": sum_f(prql, "parse_ms"),
        "parse.tokens": sum_f(prql, "parse_tokens"),
        "plan.fold_ms": sum(max(0.0, s["f"].get("compile_ms", 0.0) - s["f"]["parse_ms"]
                                - s["f"].get("analysis_ms", 0.0)) for s in prql),
        "plan.analyzed_nodes": sum_f(prql, "analyzed_nodes"),
        "catalyst.analysis_ms": sum_f(batch, "analysis_ms"),
        "catalyst.optimization_ms": sum_f(batch, "optimization_ms"),
        "catalyst.planning_ms": sum_f(batch, "planning_ms"),
        "catalyst.optimized_nodes": sum_f(batch, "optimized_nodes"),
        "catalyst.exchanges": sum_f(batch, "exchanges"),
        "pipeline.build_ms": sum_f(pipeline, "compile_ms"),
        "pipeline.eager_jobs": sum_f(pipeline, "eager_jobs"),
        "pipeline.eager_ms": sum_f(pipeline, "eager_ms"),
        "exec.ms": sum_f(batch, "exec_ms") + sum_f(stream, "job_ms"),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "fetch_wait_ms", "gc_ms"):
        v[f"exec.{k}"] = sum_f(ss, k)
    skews = [s["f"]["task_skew"] for s in ss if "task_skew" in s["f"]]
    v["exec.task_skew"] = stats.median(skews) if skews else 0.0
    wall = sum_f(ss, "util_wall_ms")
    v["exec.core_util"] = sum_f(ss, "task_run_ms") / (wall * cpus) if wall else 0.0
    out_rows = sum_f(batch, "output_rows")
    v["exec.join_rows_per_output_row"] = sum_f(batch, "join_rows") / out_rows if out_rows else 0.0
    for k, f in (("batch_ms", "batch_ms"), ("add_batch_ms", "add_batch_ms"),
                 ("planning_ms", "stream_planning_ms"), ("commit_ms", "commit_ms"),
                 ("state_updated_rows", "state_updated_rows"),
                 ("state_commit_ms", "state_commit_ms"),
                 ("rows_dropped_by_watermark", "rows_dropped_by_watermark")):
        v[f"streaming.{k}"] = sum_f(stream, f)
    # state held at the end of each stream's feed, summed over streams
    last = {}
    for s in stream:
        if s["op"] not in last or s["f"]["batch_id"] > last[s["op"]]["f"]["batch_id"]:
            last[s["op"]] = s
    v["streaming.state_rows"] = sum_f(last.values(), "state_rows")
    v["streaming.state_bytes"] = sum_f(last.values(), "state_bytes")
    return v


def per_layer(raw, spans, cpus):
    traced = [p for p in raw["passes"] if p["traced"]]
    per_pass = [layer_values([s for s in raw["samples"] if s["pass"] == p["pass"]], cpus)
                for p in traced]
    out = {k: stats.median([v[k] for v in per_pass]) for k in PER_LAYER if k in per_pass[0]}
    out["trace.overhead_ms"] = 1000 * stats.trace_overhead(
        [(p["wall_s"], p["traced"]) for p in raw["passes"]])
    self_ms = {name: {"self_ms_per_pass": tot / 1e6 / len(traced), "count_per_pass": n / len(traced)}
               for name, (tot, n) in stats.self_times(spans).items()}
    return out, self_ms


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL)
    return res.stdout.decode().strip() or None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    jars = spark_jars()
    if not os.path.isfile(os.path.join(ROOT, "tools", "compare.py")):
        fail("tools/compare.py (the canonical output hash) is missing")
    classes, src_hash = build(jars, t_start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S

    w = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    phases = {"build": time.time() - t_start}
    try:
        data_dir = os.path.join(run_dir, "data")
        t = time.time()
        rows = datagen.generate(data_dir, a.seed, w["sf"])
        phases["datagen"] = time.time() - t
        tables = {t: {"rows": n, "bytes": os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))}
                  for t, n in rows.items()}
        scaled_tables = {}
        out_dir = os.path.join(run_dir, "out")
        t = time.time()
        run_jvm(classes, jars, [a.workload, a.seed, a.seconds, a.trace, data_dir, out_dir, cpus,
                                w["k"], w["batches"]], run_dir, deadline)
        phases["driver_jvm"] = time.time() - t
        with open(os.path.join(out_dir, "raw.json")) as f:
            raw = json.load(f)
        spans = []
        if a.trace:
            with open(os.path.join(out_dir, "spans.json")) as f:
                spans = json.load(f)
        if raw["scaled_dir"] != data_dir:
            scaled_tables = {os.path.basename(d)[:-len(".parquet")]: {
                "rows": rows[os.path.basename(d)[:-len(".parquet")]] * w["k"],
                "bytes": sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.parquet")))}
                for d in glob.glob(os.path.join(raw["scaled_dir"], "*.parquet"))}
        failures = {op: r for op, r in raw["checks"].items() if r}
        t = time.time()
        failures.update(check_outputs(raw, data_dir, out_dir, os.path.join(base, "oracle"), run_dir))
        phases["oracle_check"] = time.time() - t
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = raw["samples"]
    failed, frac = stats.failed_frac(samples, set(failures))
    untraced_passes = [p for p in raw["passes"] if not p["traced"]]
    untraced_samples = [s for s in samples if not s["traced"]]
    e2e = end_to_end(raw, untraced_samples, untraced_passes)
    op_ms = [s["f"]["op_ms"] for s in untraced_samples if "op_ms" in s["f"]]
    tail = stats.highest_tail(op_ms)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "driver_heap": HEAP, "spark_version": raw["spark_version"],
        "git_commit": git_commit(), "source_sha256": src_hash,
        "input": {"dir": os.path.relpath(data_dir, ROOT), "scale_factor": w["sf"],
                  "tables": tables, "k": raw["k"], "scaled_tables": scaled_tables,
                  "micro_batches_per_stream": w["batches"]},
        "graft_conf_set": raw["graft_conf"],
        "contention_context": raw["context"],
        "setup_phases_s": raw["setup_phases_s"],
        "harness_phases_s": phases,
        "attempted": len(samples), "failed": failed, "failed_frac": frac,
        "failures": failures, "unchecked": raw["unchecked"],
        "op_ms_samples": len(op_ms),
        "op_ms_tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
        "end_to_end": e2e,
    }
    if a.trace:
        layers, self_ms = per_layer(raw, spans, cpus)
        record["per_layer"] = layers
        record["self_time"] = self_ms
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    record["samples"] = samples
    record["passes"] = raw["passes"]
    res_dir = os.path.join(base, "results")
    os.makedirs(res_dir, exist_ok=True)
    res = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}.json")
    with open(res, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: {a.workload} seed {a.seed}: {len(samples)} ops, {failed} failed, "
          f"unchecked {sorted(raw['unchecked'])}; op_ms tail {tail} of {len(op_ms)}; record {res}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
