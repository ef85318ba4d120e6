#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload <machine_day|catalog_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark JVM
from source on first use (sbt, `perfbench/build.sbt`), writes the seeded
inputs into its own scratch directory (`perfbench/.work`), runs one JVM on
a 4-core local session, checks every operation's output with the
independent checkers in `checks.py`, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of the workload; `--trace 1`
reports the per-layer metrics of both workloads and of the corpus ingest
loops, which only the traced run measures (see README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("machine_day", "catalog_queries")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# per-layer metrics of a traced run (both workloads and the corpus ingest
# loops, which only the traced run measures), with units
PER_LAYER = {
    # machine_day, batch layers (self time; each layer's output is
    # materialized before the next layer is called)
    "pipeline.read_cleanse_s": "s", "ops.cycle_detection_s": "s",
    "ops.error_rules_s": "s", "pipeline.enrich_write_s": "s",
    "ops.hourly_rollup_s": "s", "io.jdbc_upsert_s": "s",
    "spark.batch_jobs": "count", "spark.batch_tasks": "count",
    "spark.batch_shuffle_bytes": "bytes", "spark.batch_spill_bytes": "bytes",
    "spark.cache_peak_bytes": "bytes",
    "pipeline.batch_day_untraced_s": "s", "pipeline.batch_day_traced_s": "s",
    "trace.batch_overhead_s": "s",
    "spark.batch_untraced_jobs": "count", "spark.batch_sched_gap_s": "s",
    # machine_day, stream replay (the engine's own per-trigger progress)
    "streaming.add_batch_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.log_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.trigger_p50_ms": "ms", "streaming.rows_per_s": "1/s",
    # catalog_queries
    "core.action_floor_ms": "ms", "queries.plan_ms": "ms", "queries.exec_ms": "ms",
    "spark.jobs_per_query": "count", "spark.tasks_per_query": "count",
    "spark.sched_gap_ms": "ms", "spark.shuffle_bytes_per_pass": "bytes",
    "queries.pass_untraced_s": "s", "queries.query_p50_ms": "ms",
    "queries.query_p90_ms": "ms", "queries.per_s": "1/s",
    "trace.query_overhead_ms": "ms",
    "queries.heavy_ms": "ms", "spark.jobs_per_heavy_query": "count",
    "spark.heavy_sched_gap_ms": "ms",
    # corpus ingest loops
    "ops.text_index_seed_s": "s", "ops.ivf_index_seed_s": "s",
    "streaming.text_tick_s": "s", "streaming.text_compact_s": "s",
    "streaming.embed_tick_s": "s", "streaming.embed_compact_s": "s",
    "spark.jobs_per_tick": "count", "core.compact_bytes_rewritten": "bytes",
    "streaming.index_files": "count", "streaming.text_trigger_p50_ms": "ms",
    "streaming.embed_trigger_p50_ms": "ms", "streaming.loops_traced_s": "s",
    "streaming.ingest_items_per_s": "1/s", "streaming.index_bytes": "bytes",
    "streaming.embed_dup_recall": "share",
}
E2E = {
    "setup_s": "s", "batch_s": "s", "step_gmean_ms": "ms",
    "items_per_s": "1/s", "cpu_s": "s", "output_bytes": "bytes",
}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build --------------------------------------------------------------------

def _source_stamp() -> str:
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath() -> str:
    build_dir = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(build_dir, "classpath.txt"), os.path.join(build_dir, "stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        # offline: every dependency must come from the local caches
        proc = subprocess.run(
            ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")),
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (log: {log_path})", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- the JVM --------------------------------------------------------------------

def run_jvm(cp: str, workload: str, seconds: int, trace: int, work: str, data: str, seed: int) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # no hsperfdata file outside the scratch directory
           "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           workload, str(seconds), str(trace), work, data, str(seed)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                  env=env, timeout=JVM_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s (log: {log_path})", 1)
    result = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    with open(result) as f:
        return json.load(f)


# ---- checks -----------------------------------------------------------------------

def check_machine_day(section: dict):
    ops, verdicts, expected = section["ops"], [], {}
    batch_summary = {}
    for op in ops:
        if op["kind"] == "batch":
            if op["csv"] not in expected:
                expected[op["csv"]] = checks.expected_summary(op["csv"])
            problems = checks.check_batch(op, expected[op["csv"]])
            batch_summary[op["round"]] = op["summary"]
        else:
            problems = checks.check_stream(op, batch_summary[op["round"]])
        verdicts.append((op, 1, problems))
    return verdicts, {}


def check_catalog(section: dict, data: str):
    con = checks.oracle_connection(data)
    oracle = section["info"]["oracle"]
    expected, verdicts = {}, []
    for op in section["ops"]:
        name = op["name"]
        if name not in expected:
            expected[name] = con.execute(oracle[name]).df()
        got = checks.read_parquet_dir(op["out"])
        verdicts.append((op, 1, [f"{name}: {p}" for p in checks.compare_result(expected[name], got)]))
    return verdicts, {}


def check_corpus(section: dict, data: str):
    docs_seed = checks.load_docs(f"{data}/docs_seed.parquet")
    docs_ticks = [checks.load_docs(f) for f in checks.tick_files(f"{data}/docs_ticks")]
    vecs_seed = checks.load_vecs(f"{data}/vecs_seed.parquet")
    vecs_ticks = [checks.load_vecs(f) for f in checks.tick_files(f"{data}/vecs_ticks")]
    verdicts, recalls = [], []
    for op in section["ops"]:
        problems = [] if op["ticks"] == gen.TICKS else [f"{op['kind']}: {op['ticks']} ticks, expected {gen.TICKS}"]
        if op["kind"] == "text_loop":
            problems += checks.check_text_loop(docs_seed, docs_ticks,
                                               checks.kept_ids(op["out"], "doc_id"), gen.TAU)
        else:
            p, recall = checks.check_embed_loop(vecs_seed, vecs_ticks,
                                                checks.kept_ids(op["out"], "vec_id"), gen.TAU)
            problems += p
            recalls.append(recall)
        verdicts.append((op, gen.TICKS, problems))
    return verdicts, {"streaming.embed_dup_recall": min(recalls) if recalls else float("nan")}


# ---- metrics ----------------------------------------------------------------------

def end_to_end(section: dict, session_s: float, gen_s: list) -> dict:
    smp = section["samples"]
    setup = session_s + statistics.median(gen_s) + section["warmup"] + \
        (statistics.median(section["setup"]) if section["setup"] else 0.0)
    values = {
        "setup_s": setup,
        "batch_s": statistics.median(smp["batch_s"]),
        "step_gmean_ms": statistics.geometric_mean(smp["step_ms"]),
        "items_per_s": statistics.median(smp["items_per_s"]),
        "cpu_s": statistics.median(smp["cpu_s"]),
        "output_bytes": statistics.median(smp["output_bytes"]),
    }
    return {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: run from the root of a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)

    # Inputs written by the runner are generated several times and the
    # median counts toward setup_s; the JVM adds its own set-up samples.
    writers = []
    if args.trace or args.workload == "catalog_queries":
        writers.append(gen.write_tables)
    if args.trace:
        writers.append(lambda d, s: gen.write_corpus(os.path.join(d, "corpus"), s))
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        for w in writers:
            w(data, args.seed)
        gen_s.append(time.perf_counter() - t0)

    try:
        out = run_jvm(cp, args.workload, args.seconds, args.trace, work, data, args.seed)
        sections = out["sections"]
        verdicts, extra = [], {}
        for name, section in sections.items():
            if name == "machine_day":
                v, x = check_machine_day(section)
            elif name == "catalog_queries":
                v, x = check_catalog(section, data)
            else:
                v, x = check_corpus(section, os.path.join(data, "corpus"))
            verdicts += v
            extra.update(x)
        attempted = sum(w for _, w, _ in verdicts)
        failed = sum(w for _, w, p in verdicts if p)
        for op, _, problems in verdicts:
            for p in problems[:3]:
                print(f"check failed ({op['kind']}, round {op['round']}): {p}", file=sys.stderr)
        if args.trace:
            layers = dict(extra)
            for section in sections.values():
                layers.update(section["layers"])
            missing = sorted(set(PER_LAYER) - set(layers))
            if missing:
                fail(f"traced run did not produce {missing}", 1)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            with open(os.path.join(HERE, ".work", f"trace-{args.seed}.json"), "w") as f:
                json.dump({"spans": out.get("spans", []), "metrics": metrics}, f, indent=1)
        else:
            metrics = end_to_end(sections[args.workload], out["session_s"], gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
