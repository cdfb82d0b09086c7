#!/usr/bin/env python3
"""graft benchmark: one command runs one workload for one seed.

    python3 perfbench/run.py --workload corpus_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft and the benchmark driver from
source (perfbench/build.py), generates the seeded inputs (perfbench/gen.py)
under a private temporary directory, runs the workload in one JVM on a
`GraftSession.local` session, checks every checked query's result against
DuckDB, and prints two JSON lines: a run record (stamps, inputs, failures,
tail percentile) and, last, the result
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1`, the per-layer ones. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Inputs, the nominal seconds of one timed pass on a 4-core box, the fewest
# timed passes, and the untimed warm-up passes per workload. The pass count
# is a function of --seconds only, so every run of a workload has the same
# sample count and reports the same tail percentile; the minimum keeps at
# least 10 query samples beyond that percentile and, on the two workloads in
# BENCHMARK.json, fills what the run budget leaves (a full measurement is
# 4 + 22 x 2 runs in 3420 s): 4 corpus_warm passes (about 10 s) and 6
# corpus_append drops (about 33 s) at --seconds 10. At these counts neither
# tail falls on the edge between the slowest queries' samples and the rest.
WORKLOADS = {
    "mr_analytics": dict(tables="tpch,events,corpus", sf=0.005, docs=400,
                         pass_s=3.0, min_passes=3, warmup=1),
    "corpus_warm": dict(tables="corpus", sf=0.0, docs=400, pass_s=2.5, min_passes=4, warmup=1),
    "corpus_append": dict(tables="corpus", sf=0.0, docs=400, pass_s=5.0, min_passes=6, warmup=1),
}
# A fixed heap and young generation: the resident set then follows what the
# program retains rather than the collector's adaptive sizing.
JVM_HEAP = "3g"
JVM_YOUNG = "768m"
RUN_LIMIT_S = 160  # after the build

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("peak_rss_mb", "MB")]

SELF_SPANS = ["query", "construct", "plan", "execute", "registry.build", "registry.serve",
              "registry.read", "sources.scan", "kernel", "streaming.step", "append.drop"]
PER_LAYER = (
    [("sources.scan_s", "s"), ("sources.bytes_read", "bytes"), ("sources.rows_read", "count")]
    + [(f"functions.{k}_s", "s") for k in
       ["shingles", "minhash", "simhash", "bpe_encode", "langid", "cosine", "lsh_sign", "gensort"]]
    + [("plans.plan_s", "s"), ("plans.exchanges", "count"), ("plans.file_scans", "count"),
       ("plans.topk_nodes", "count"), ("plans.query_executions", "count"),
       ("operators.construct_s", "s")]
    + [(f"operators.{f}.execute_s", "s") for f in
       ["mr", "dedup", "sim", "text", "pipeline", "mm"]]
    + [("engine.tasks", "count"), ("engine.stages", "count"), ("engine.executor_run_s", "s"),
       ("engine.executor_cpu_s", "s"), ("engine.core_busy_frac", "ratio"),
       ("engine.shuffle_write_bytes", "bytes"), ("engine.shuffle_read_bytes", "bytes"),
       ("engine.spill_bytes", "bytes"), ("engine.jvm_gc_s", "s")]
    + [("registry.build_s", "s"), ("registry.serve_s", "s"), ("registry.artifact_read_s", "s"),
       ("registry.builds", "count"), ("registry.calls", "count"), ("registry.hit_ratio", "ratio"),
       ("registry.bytes_written", "bytes"), ("registry.bytes_live", "bytes"),
       ("registry.generations_collected", "count"),
       ("registry.store_bytes_per_input_byte", "ratio")]
    + [("streaming.step_s", "s"), ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
       ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
       ("streaming.input_rows", "count"), ("streaming.state_rows", "count"),
       ("streaming.state_bytes", "bytes")]
    + [("append.drop_fresh_p50_s", "s"), ("append.ingest_step_p50_s", "s")]
    + [("jvm.heap_peak_mb", "MB"), ("jvm.gc_s", "s")]
    + [(f"self.{s}_s", "s") for s in SELF_SPANS]
    + [("trace.untraced_pass_s", "s"), ("trace.traced_pass_s", "s"), ("trace.overhead_s", "s")])

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def plan_passes(workload, seconds, trace):
    """(untraced passes, traced passes) for a run."""
    cfg = WORKLOADS[workload]
    n = max(cfg["min_passes"], round(seconds / cfg["pass_s"]))
    if trace:
        half = max(2, -(-n // 2))
        return half, half
    return n, 0


def dir_bytes(path):
    return gen.tree_bytes(path) if os.path.exists(path) else 0


def run_jvm(classes, args, work, deadline):
    env = dict(os.environ,
               SPARK_GRAFT_MODEL_DIR=os.path.join(work, "registry"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={jtmp}", f"-Dderby.system.home={work}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def outcome(raw, mismatches):
    """(correct, attempted, failures): a query that threw in any phase and a
    checked result that differs from its oracle each count as one failure."""
    failures = [{"query": q, "error": e} for q, e in raw["failures"]] + \
        [{"query": q, "error": f"oracle mismatch: {r}"} for q, r in sorted(mismatches.items())]
    return not failures, raw["attempted"], failures


def store_ratio(registry_bytes, data_dir):
    """Registry bytes on disk per byte of corpus input (documents, including
    landed drops, plus embeddings)."""
    corpus = dir_bytes(os.path.join(data_dir, "documents.parquet")) + \
        dir_bytes(os.path.join(data_dir, "embeddings.parquet"))
    return registry_bytes / max(corpus, 1)


def reduce_metrics(raw, trace, data_dir, gen_s):
    samples = [x for xs in raw["query_samples"].values() for x in xs]
    pct, tail_v, n, beyond = stats.tail(samples)
    info = {"query_tail": {"percentile": pct, "samples": n, "beyond": beyond},
            "query_p50": {q: stats.median(xs) for q, xs in raw["query_samples"].items()}}
    if not trace:
        values = {
            "setup_s": raw["boot_s"] + gen_s + raw["setup_s"] + raw["prepare_s"],
            "pass_s": stats.median(raw["passes_s"]),
            "query_p50_s": stats.median(samples),
            "query_tail_s": tail_v,
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}, info
    layers = dict(raw["layers"])
    layers["registry.store_bytes_per_input_byte"] = store_ratio(raw["registry_bytes"], data_dir)
    append = raw["workload"] == "corpus_append"
    layers["append.drop_fresh_p50_s"] = stats.median(raw["passes_s"]) if append else 0.0
    layers["append.ingest_step_p50_s"] = stats.median(raw["ingest_step_s"]) if append else 0.0
    layers["self.kernel_s"] = sum(v for k, v in layers.items() if k.startswith("self.kernel."))
    untraced, traced = stats.median(raw["passes_s"]), stats.median(raw["traced_passes_s"])
    layers.update({"trace.untraced_pass_s": untraced, "trace.traced_pass_s": traced,
                   "trace.overhead_s": traced - untraced})
    missing = [k for k, _ in PER_LAYER if k not in layers and not k.startswith("self.")]
    if missing:
        raise RuntimeError(f"per-layer metrics missing from the run: {missing}")
    return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}, info


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = os.getloadavg()[0]
    cfg = WORKLOADS[a.workload]
    try:
        classes = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        out = os.path.join(work, "out")
        os.makedirs(out)
        passes, traced = plan_passes(a.workload, a.seconds, a.trace)
        drops = cfg["warmup"] + passes + traced if a.workload == "corpus_append" else 0
        t0 = time.monotonic()
        inputs = gen.generate(data, a.seed, cfg["sf"], cfg["docs"], 4, drops,
                              set(cfg["tables"].split(",")))
        gen_s = time.monotonic() - t0
        cores = len(os.sched_getaffinity(0))  # what nproc reports
        t_jvm = time.monotonic()
        run_jvm(classes, ["--workload", a.workload, "--data", data, "--out", out,
                          "--registry", os.path.join(work, "registry"), "--work", work,
                          "--warmup", str(cfg["warmup"]), "--passes", str(passes),
                          "--traced-passes", str(traced), "--cores", str(cores)],
                work, deadline)
        jvm_s = time.monotonic() - t_jvm
        with open(os.path.join(out, "raw.json")) as f:
            raw = json.load(f)
        t_check = time.monotonic()
        mismatches = oracle.check(data, os.path.join(out, "check"), raw["oracle_sql"],
                                  raw["check_queries"], os.path.join(work, "duckdb"))
        check_s = time.monotonic() - t_check
        correct, attempted, failures = outcome(raw, mismatches)
        metrics, info = reduce_metrics(raw, a.trace, data, gen_s)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": cores, "load_avg_start": load_start, "jvm_heap_max_mb": raw["heap_max_mb"],
            "spark_version": raw["spark_version"], "passes": passes, "traced_passes": traced,
            "passes_s": raw["passes_s"],
            "session_setup_s": raw["setup_s"], "prepare_s": raw["prepare_s"],
            "boot_s": raw["boot_s"], "gen_s": gen_s, "jvm_s": jvm_s, "check_s": check_s,
            "inputs": inputs, "checked_queries": len(raw["check_queries"]),
            "failures": failures, **info,
        }
        if a.trace:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
                ROOT, ".bench_out", f"spans-{a.workload}-{a.seed}.jsonl"))
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    except Exception as e:
        sys.stderr.write(f"benchmark run failed: {e}\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
