#!/usr/bin/env python3
"""perfbench: the repo's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the engine and the harness from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one single-process Spark JVM at local[nproc]
through graft.core.GraftSession.build, checks every op's output, and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see perfbench/WORKLOADS.md). The line before it carries the
run's details: environment stamp, fail_ratio, space_amp, tail
percentile. Extra flags: `--small` (tiny inputs, for the harness's own
tests), `--corrupt-expected` (perturb one expected output: the op it
belongs to must count as failed). The work dir under `.bench_work/` is
removed at exit, unless the harness JVM failed (its log is there).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("analytics_mix", "dedup_ingest")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "1/s", "peak_rss_mb": "MB"}

# per-layer metrics, by the workloads that exercise them; a traced run
# reports all of them (0 where the workload does not exercise a layer)
SPARK_LAYER = {
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.driver_gap_s": "s", "spark.task_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.output_bytes": "B",
    "core.session_s": "s", "storage.space_amp": "ratio",
    "trace.overhead_s": "s",
}
ANALYTICS_LAYERS = {
    "queries.scan_agg_s": "s", "queries.join_s": "s",
    "queries.window_s": "s", "queries.olap_s": "s",
    "metrics.analytics_s": "s", "sources.scan_rows_per_result_row": "ratio",
    "self.queries_s": "s", "self.metrics_s": "s",
}
DEDUP_LAYERS = {
    "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "operators.fold_trigger_s": "s", "operators.plain_trigger_s": "s",
    "operators.store_generations": "count", "operators.store_files": "count",
    "operators.store_bytes": "B", "operators.install_s": "s",
    "self.streaming_s": "s",
}
PER_LAYER = {**SPARK_LAYER, **ANALYTICS_LAYERS, **DEDUP_LAYERS}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

RUN_LIMIT_S = 170  # a run (after the build) must end within 180 s


def tail_stat(xs):
    """Latency at the highest percentile with at least 10 samples beyond
    it, with that percentile and n. Below 21 samples that percentile
    would not reach the median, so the tail is the upper quartile (p75)."""
    s = sorted(xs)
    n = len(s)
    if n >= 21:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return statistics.quantiles(s, n=4)[2], 75.0, n


def cpu_times():
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def env_stamp(load_start, cpu_start, jvm_env, build_stamp):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    nproc = len(os.sched_getaffinity(0))
    load_end = os.getloadavg()
    total, steal = (b - a for a, b in zip(cpu_start, cpu_times()))
    return {"nproc": nproc, "loadavg_start": load_start,
            "loadavg_end": list(load_end),
            # CPU time the hypervisor gave to other guests during the run
            "cpu_steal_share": steal / max(1, total),
            "git_commit": commit,
            "source_digest": build_stamp,
            # a run that starts on a busy box, or whose CPUs were taken by
            # other guests for more than 2% of the time, says so
            "contended": load_start[0] > 0.5 * nproc or steal > 0.02 * total,
            **jvm_env}


def run_jvm(classes, args, work, inputs, out, deadline):
    import build
    jars = build.spark_jars()
    opens = [x for p in JDK_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xmx2g",
           "-XX:+UseParallelGC", "-Xss8m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--inputs", inputs,
           "--work", os.path.join(work, "out"), "--out", out,
           "--corrupt-expected", "1" if args.corrupt_expected else "0"]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, "rb") as log:
            sys.stderr.write(log.read()[-6000:].decode(errors="replace"))
        raise SystemExit(f"perfbench: harness JVM failed ({code})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args(argv)

    import build
    classes = build.build()
    build_stamp = open(os.path.join(os.path.dirname(classes), "stamp")).read()

    # set-up starts here: input generation, JVM and session start, store
    # install and warm-up ops, up to the first timed op
    t0 = time.time()
    load_start = list(os.getloadavg())
    cpu_start = cpu_times()
    deadline = t0 + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    jvm_ok = False
    try:
        import gen
        gen.generate(args.workload, inputs, args.seed, args.small)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        run_jvm(classes, args, work, inputs, out, deadline)
        jvm_ok = True
        with open(out) as f:
            res = json.load(f)

        oracle = {}
        extra = res.get("extra", {})
        if "oracle_sql" in extra:
            import oracle as oracle_mod
            oracle = oracle_mod.check(extra["tables"], inputs,
                                      extra["results_dir"], extra["oracle_sql"])
        bad_kinds = {k for k, v in oracle.items() if v is not None}

        ops = [o for o in res["ops"] if not o["traced"]]
        traced = [o for o in res["ops"] if o["traced"]]
        judged = ops if not args.trace else ops + traced
        failed = sum(1 for o in judged if not o["ok"] or o["kind"] in bad_kinds)
        attempted = len(judged)
        lat = [o["s"] for o in ops]
        tail, tail_pct, n = tail_stat(lat)
        left, inp = res["space_left_bytes"], res["input_bytes"]
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "small": args.small,
            "fail_ratio": failed / max(1, attempted),
            "warmup_failures": res["setup_failures"],
            "oracle": {k: v or "ok" for k, v in oracle.items()},
            "op_tail_percentile": tail_pct, "op_tail_n": n,
            "warmup_trigger_s": extra.get("warmup_trigger_s"),
            "space_amp": left / inp if inp else 0.0,
            "space_left_bytes": left, "input_bytes": inp,
            "setup_phases_s": {
                "generate": gen_s,
                "jvm_start": res["jvm_start_ms"] / 1000.0 - t0 - gen_s,
                "session": res["session_s"],
                "workload_setup": res["workload_setup_s"]},
            "env": env_stamp(load_start, cpu_start, res["env"], build_stamp),
        }
        if args.trace:
            layers = res["layers"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": res["first_op_ms"] / 1000.0 - t0,
                "op_p50_s": statistics.median(lat),
                "op_tail_s": tail,
                "ops_per_s": len(lat) / res["timed_wall_s"],
                "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
        correct = failed == 0 and res["setup_failures"] == 0 and not bad_kinds
        print(json.dumps({"perfbench_detail": detail}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if jvm_ok:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
