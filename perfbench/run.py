#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload convoy --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (`perfbench/build.py`),
generates the workload's inputs from `--seed`, runs the workload in one
JVM on `local[nproc]` (`perfbench/scala/PerfBench.scala`), checks the
outputs, and prints a summary followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
Run from the repository root. See `perfbench/NOTES.md` for what each
workload and metric is for.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import corpus  # noqa: E402
import fixtures  # noqa: E402

# llm-prep: (layer, registry query prefix). Each layer keeps its cheapest
# queries so one repetition fits a run; see NOTES.md for the dropped ones.
MIX = [("ext.dedup", "q32"), ("ext.similarity", "q49"), ("ext.text", "q109"),
       ("ext.text", "q110"), ("ext.multimodal", "q115"), ("ext.release", "q53")]
# a tenth of the sf0.1 fixtures, so one repetition of the mix fits a run
LLM_DOCS, LLM_VECS = 500, 500
# The convoy set-up repetition reads a corpus of the same shape this much
# smaller: its cost is plan compilation and JIT, which barely depend on the
# input volume, and the full corpus would cost each run ~14 s more.
WARMUP_SCALE = 0.25
WORKLOADS = ["convoy", "llm-prep"]

END_TO_END = [("wall_s", "s"), ("input_mb_per_s", "MB/s"), ("cpu_s", "s"),
              ("setup_s", "s"), ("alloc_mb", "MB")]


def _layer(prefix, keys):
    units = {"jobs": "count", "tasks": "count", "rows_out": "count",
             "rows_quarantined": "count", "failed_tasks": "count",
             "reduce_tasks": "count", "partition_skew": "ratio",
             "scan_amplification": "ratio"}
    return [("%s.%s" % (prefix, k), units.get(k, "MB" if k.endswith("_mb") else "s"))
            for k in keys]


PER_LAYER = (
    _layer("ingest", ["wall_s", "task_cpu_s", "input_mb", "shuffle_mb", "jobs",
                      "rows_out", "rows_quarantined"])
    + _layer("pipeline", ["scan_amplification", "recompute_cpu_s", "jobs"])
    + _layer("graph", ["wall_s", "jobs", "driver_s", "idle_core_s", "shuffle_mb"])
    + _layer("stats", ["wall_s", "task_cpu_s", "max_task_s", "reduce_tasks",
                       "partition_skew", "shuffle_mb", "spill_mb"])
    + _layer("mart", ["wall_s", "task_cpu_s", "shuffle_mb"])
    + _layer("sinks", ["wall_s", "task_cpu_s", "output_mb", "shuffle_mb", "jobs"])
    + [m for fam in ("dedup", "similarity", "text", "multimodal", "release")
       for m in _layer("ext." + fam, ["wall_s", "jobs", "task_cpu_s", "driver_s",
                                      "idle_core_s"])]
    + _layer("spark", ["jobs", "tasks", "driver_s", "sched_delay_s", "idle_core_s",
                       "gc_s", "spill_mb", "failed_tasks"])
    + [("jvm.peak_rss_mb", "MB"), ("ambient.calib_s", "s"), ("trace.asrun_wall_s", "s")])

# Spark 4 on JDK 17 outside spark-submit needs these opens
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_HEAP = "2g"
RUN_LIMIT_S = 170  # a run (after the build) must end within this


def cores():
    return len(os.sched_getaffinity(0))


def make_inputs(workload, seed, work):
    """Generate the inputs; return (JVM arguments, model or None)."""
    if workload == "llm-prep":
        d = os.path.join(work, "fixtures")
        fixtures.generate(seed, d, LLM_DOCS, LLM_VECS)
        mix = ",".join("%s:%s" % e for e in MIX)
        return ["fixtures=" + d, "mix=" + mix], None
    model = corpus.generate(seed, os.path.join(work, "pages"))
    warm = corpus.generate(seed, os.path.join(work, "warm-pages"), scale=WARMUP_SCALE)
    return ["orig=" + ",".join(model.original_paths),
            "exp=" + ",".join(model.expansion_paths),
            "warm_orig=" + ",".join(warm.original_paths),
            "warm_exp=" + ",".join(warm.expansion_paths)], model


def run_jvm(classes, workload, seconds, trace, work, extra, deadline):
    jars = build.spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.PerfBench", "workload=" + workload, "seconds=%d" % seconds,
              "trace=%d" % trace, "work=" + work, "cores=%d" % cores()] + extra)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        cmd.append("launch_ms=%d" % int(time.time() * 1000))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-3000:].decode(errors="replace"))
        raise SystemExit("workload JVM failed (%s)" % rc)
    with open(result) as f:
        return json.load(f)


def outcome(res, model, work):
    """(failed, problems) after checking the outputs. Every pipeline run or
    query execution, the set-up one included, is an attempted operation."""
    problems = list(res["errors"])
    failed = len(res["errors"])
    if model is not None:
        for d in res["out_dirs"]:
            bad = checks.check_convoy(d, model)
            if bad:
                failed += 1
                problems += ["%s: %s" % (os.path.basename(d), b) for b in bad]
    else:
        oracle = checks.check_queries(os.path.join(work, "fixtures"),
                                      os.path.join(work, "out"), res["oracle_sql"])
        for q, err in oracle.items():
            if err is not None:  # every execution of the query was wrong
                failed += res["runs"][q]
                problems.append("%s: %s" % (q, err))
    return min(failed, res["attempted"]), problems


def metrics(res, trace):
    """The run's metrics: medians over its timed repetitions or rounds."""
    med = statistics.median
    if not trace:
        it = res["iters"]
        vals = {"wall_s": med(x["wall_s"] for x in it),
                "input_mb_per_s": med(res["input_mb"] / x["wall_s"] for x in it),
                "cpu_s": med(x["cpu_s"] for x in it),
                "setup_s": res["setup_s"],
                "alloc_mb": med(x["alloc_mb"] for x in it)}
        names = END_TO_END
    else:
        rounds = res["rounds"]
        vals = {k: med(r[k] for r in rounds) for k in rounds[0]}
        vals["ambient.calib_s"] = med(res["calib_s"])
        vals["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        names = PER_LAYER
    return {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in names}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    classes = build.build()
    deadline = time.time() + RUN_LIMIT_S
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="%s-%d-" % (a.workload, a.seed), dir=runs)
    try:
        extra, model = make_inputs(a.workload, a.seed, work)
        res = run_jvm(classes, a.workload, a.seconds, a.trace, work, extra, deadline)
        failed, problems = outcome(res, model, work)
        ms = metrics(res, a.trace)
        # the last result of each workload, spans included, for inspection
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(runs, "last-%s-trace%d.json" % (a.workload, a.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        print("CHECK FAILED " + p)
    print("%s seed=%d nproc=%d calib_s=%s" % (
        a.workload, a.seed, cores(), ",".join("%.3f" % c for c in res["calib_s"])))
    for q, sec in res.get("op_s", {}).items():
        print("  op %-29s %14.4f s" % (q, sec))
    for n, m in ms.items():
        print("  %-32s %14.4f %s" % (n, m["value"], m["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": ms}))


if __name__ == "__main__":
    main()
