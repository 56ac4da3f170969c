#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <cdc_backfill|battery> \\
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the checkout. The first run compiles the engine
(see build.py). Each run is one JVM with a local[N] Spark session, N the
number of cores. With --trace 0 it prints the end-to-end metrics named in
BENCHMARK.json; with --trace 1 it records spans and prints the per-layer
metrics instead. Every metric is printed as "name value unit", the whole
result is written to .bench_build/results/, and the last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

A per-layer metric of a layer the other workload exercises reads 0; any
other metric the run did not measure is an error.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# per-layer metric prefixes of the layers each workload does not exercise
IDLE_LAYERS = {
    "cdc_backfill": ("battery.",),
    "battery": ("sources.", "operators.", "streaming.", "cdc_backfill."),
}
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm(classes: Path, work: Path, result: Path, args, timeout_s: float):
    """Runs perfbench.Main once and returns its result object."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), build.spark_jars()]), "perfbench.Main",
            "--bench-dir", str(HERE), "--work", str(work), "--result", str(result)] + args
    with open(str(result) + ".log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {timeout_s:.0f} s, see {result}.log")
    if code != 0:
        raise SystemExit(f"perfbench: JVM exited with {code}, see {result}.log")
    return json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(IDLE_LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.ensure_built()
    t_start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = build.BUILD / "work" / f"{tag}-{os.getpid()}"
    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    try:
        budget = DEADLINE_S - (time.monotonic() - t_start)
        res = jvm(classes, work / "main", results / f"{tag}.raw.json",
                  common + ["--trace", str(a.trace), "--cores", str(cores)], budget)
        measured = {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}
        if a.trace:
            for k in ("latency_p50_ms", "latency_p90_ms", "throughput_per_s", "setup_s"):
                measured["trace." + k] = measured[k]
            if a.workload == "cdc_backfill":
                # single-core baseline: one timed drain at local[1], untraced
                budget = DEADLINE_S - (time.monotonic() - t_start)
                one = jvm(classes, work / "one", results / f"{tag}.1core.raw.json",
                          common[:4] + ["--seconds", "0", "--trace", "0", "--cores", "1"], budget)
                measured["cdc_backfill.events_per_s_1core"] = (
                    one["metrics"]["throughput_per_s"]["value"], "1/s")
                res["attempted"] += one["attempted"]
                res["failed"] += one["failed"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]][0]
        elif a.trace and m["name"].startswith(IDLE_LAYERS[a.workload]):
            value = 0
        else:
            raise SystemExit(f"perfbench: {a.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} {value} {m['unit']}")
    out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    (results / f"{tag}.json").write_text(json.dumps(dict(out, details=res["details"]), indent=1))
    print(f"results: {results / (tag + '.json')}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
