"""The graft benchmark. Run from the repository root:

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 10 --trace 0

It builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), drives one closed-loop
client in a JVM against local[nproc], checks every answer
(perfbench/check.py) and prints one JSON result as the last stdout line.
With --trace 0 the result holds the end-to-end metrics, with --trace 1 the
per-layer metrics. Everything it writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload; BENCHMARK.json's `why` strings quote them.
VERBS_SF = 0.02
CURATE = dict(n_docs=5000, dup_share=0.3)

# The heap is committed whole but not pre-touched, so resident memory is the
# heap pages the program touches plus the JVM's own; it never grows into the
# cap on its own. The young generation is fixed and the old generation is
# marked early, so the touched set follows live data, not the collector's
# sizing. On a 4-core host the peak then repeats within a few percent and sits
# well below the cap (verbs 1.7 GB, curate 2.8 GB); letting G1 grow the heap
# instead made it vary by up to 40% between runs of one workload.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-Xmn512m", "-XX:+UseG1GC",
            "-XX:InitiatingHeapOccupancyPercent=25", "-XX:-G1UseAdaptiveIHOP",
            "-XX:-UsePerfData", "-Xss8m"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# Jobs grouped by the module of the source file at their call site (see
# JobLog.module); the rest is `other`.
MODULES = ["verbs", "SparkEntry", "Dedup", "Bpe", "Classify", "Eval", "Scale",
           "perfbench", "other"]
LEGS = ["gate", "decontam", "dedup", "tokenize", "pack", "card"]
STORE_SPANS = ["store.minhash_build", "store.minhash_ingest", "store.tokenizer_read"]
TIME_LIMIT_S = 160  # the JVM's share of the 180 s a run may take


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def make_inputs(workload, seed, inputs):
    os.makedirs(inputs)
    if workload == "verbs":
        return gen.tpch(inputs, seed, VERBS_SF)
    return gen.curate_inputs(inputs, seed, **CURATE)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res, ops, ok):
    good = [o for o, k in zip(ops, ok) if k]
    return {
        "setup_s": (median(res["setup_s"]) + res["warm_up_s"], "s"),
        "op_p50_s": (median([o["dt_s"] for o in good]), "s"),
        "ops_per_s": (len(good) / res["timed_s"], "1/s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }


def per_layer(res, ops, ok):
    """Means per operation over the traced operations, plus ratios of sums
    and the tracing overhead."""
    traced = [o for o, k in zip(ops, ok) if k and o["traced"]]
    plain = [o["dt_s"] for o, k in zip(ops, ok) if k and not o["traced"]]
    n = max(1, len(traced))

    def total(key):
        return sum(o["layers"].get(key, 0.0) for o in traced)

    def mean(key, unit):
        return (total(key) / n, unit)

    m = {"verbs.build_ms": mean("verbs.build.ms", "ms"),
         "verbs.build_jobs": mean("verbs.build.jobs", "count"),
         "catalyst.plan_ms": mean("catalyst.plan.ms", "ms")}
    for key in ["plan.exchanges", "plan.sorts", "plan.nested_loop_joins",
                "plan.codegen_stages", "spark.jobs", "spark.stages", "spark.tasks",
                "spark.schema_infer_jobs"]:
        m[key] = mean(key, "count")
    for key in ["spark.exec_ms", "spark.driver_gap_ms", "spark.task_run_ms",
                "spark.task_cpu_ms", "spark.task_gc_ms"]:
        m[key] = mean(key, "ms")
    for key in ["spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
                "spark.spill_bytes", "spark.input_bytes"]:
        m[key] = mean(key, "bytes")
    m["spark.core_busy_ratio"] = (
        total("spark.task_run_ms") / max(1.0, total("spark.core_capacity_ms")), "ratio")
    for mod in MODULES:
        for what, unit in [("jobs", "count"), ("task_run_ms", "ms")]:
            prefix = f"spark.{what}_by_module."
            m[prefix + mod] = (sum(
                v for o in traced for k, v in o["layers"].items()
                if k.startswith(prefix) and (k[len(prefix):] == mod or mod == "other"
                                             and k[len(prefix):] not in MODULES)) / n,
                unit)
    for span in STORE_SPANS:
        m[f"{span}_ms"] = mean(f"{span}.ms", "ms")
    m["store.jobs"] = (sum(total(f"{s}.jobs") for s in STORE_SPANS) / n, "count")
    for key in ["store.files_written", "store.bytes_written", "store.live_bytes"]:
        m[key] = mean(key, "bytes" if "bytes" in key else "count")
    for leg in LEGS:
        m[f"curate.{leg}_ms"] = mean(f"curate.{leg}.ms", "ms")
        m[f"curate.{leg}_jobs"] = mean(f"curate.{leg}.jobs", "count")
        m[f"curate.{leg}_task_run_ms"] = mean(f"curate.{leg}.task_run_ms", "ms")
    for leg in ["index_build", "tokenizer_train"]:
        m[f"curate.{leg}_ms"] = mean(f"curate.{leg}.ms", "ms")
    m["jvm.gc_ms"] = mean("jvm.gc_ms", "ms")
    m["jvm.heap_peak_mb"] = (res["heap_peak_mb"], "MB")
    t_ops = [o["dt_s"] for o in traced]
    m["trace.overhead_ratio"] = (median(t_ops) / median(plain) if plain else 1.0, "ratio")
    plain.sort()
    m["client.op_p90_s"] = (plain[int(0.9 * (len(plain) - 1))] if plain else 0.0, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["verbs", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-faults", action="store_true",
                    help="make the second operation answer wrongly and the third throw")
    a = ap.parse_args()

    cp = build.build()
    t_start = time.time()
    work = os.path.join(build.OUT, "run", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    sizes = make_inputs(a.workload, a.seed, inputs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--inputs", inputs, "--work", work,
                                 "--inject", "1" if a.inject_faults else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the JVM did not finish in time; see {work}/jvm.log")
    result_file = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"the JVM failed with code {p.returncode}")
    res = json.load(open(result_file))
    ops = res["ops"]
    ok, notes = getattr(check, a.workload)(inputs, work, ops)
    metrics = per_layer(res, ops, ok) if a.trace else end_to_end(res, ops, ok)
    failed = sum(not k for k in ok)
    record = {"workload": a.workload, "seed": a.seed, "cores": res["cores"],
              "shuffle_partitions": res["shuffle_partitions"], "inputs": sizes,
              "setup_s": res["setup_s"], "warm_up_s": res["warm_up_s"],
              "timed_s": res["timed_s"],
              "failures": notes,
              "ops": [{"name": o["name"], "dt_s": o["dt_s"],
                       "traced": o["traced"], "correct": k, "error": o["error"],
                       "job_sites": o["job_sites"]}
                      for o, k in zip(ops, ok)]}
    print(json.dumps(record))
    if a.trace:  # keep the spans of the last traced run per workload and seed
        os.makedirs(os.path.join(build.OUT, "trace"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(build.OUT, "trace", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
