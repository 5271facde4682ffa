"""Lake benchmark: one workload, one JVM, one result line.

    python3 perfbench/run.py --workload daily_increment --seed 1 --seconds 5 --trace 0

Builds the program from source (perfbench/build.py), runs the harness
from compiled classes with a pinned heap and collector, runs the
independent correctness check (perfbench/check.py) on what the run left
in .bench_work/<workload>, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
A run times a fixed number of whole rounds of the workload (one day of
daily_increment, three corpus_shards passes), whatever --seconds is, and
reports their median. A run with a failed operation reports
correct=false; one whose rounds could not be timed exits non-zero
without a result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("daily_increment", "corpus_shards")
END_TO_END = {"setup_s": "s", "round_p50_s": "s", "write_amp": "ratio",
              "space_amp": "ratio", "peak_heap_mb": "MB"}
HEAP = "2g"
# a run is set-up plus its fixed rounds, whatever --seconds is; a run
# has to end within 180 s, check included
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf == "rps":
        return "1/s"
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_amp") or leaf.startswith("rows_"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=4",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.LakeBench", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), work])
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness did not finish within {JVM_TIMEOUT_S} s")
    sys.stdout.write("".join(l + "\n" for l in p.stdout.splitlines()
                             if l.startswith("#")))
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-8000:])
        raise SystemExit(f"harness exited {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    problems = check.check(a.workload, work)
    for msg in res["errors"]:
        print(f"# failed operation: {msg}")
    for msg in problems:
        print(f"# check: {msg}")
    print(f"# round_s={' '.join(f'{t:.3f}' for t in res['round_s'])} units_per_round={res['units_per_round']} "
          f"in_round_gcs={res['in_round_gcs']} in_round_heap_mb={res['in_round_heap_mb']:.2f} "
          f"pre_round_heap_mb={res['pre_round_heap_mb']:.2f}")
    untimed = sorted(k for k, v in res["metrics"].items() if v is None)
    if untimed:
        raise SystemExit(f"no value for {', '.join(untimed)}: a timed round had a failed operation")
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in res["metrics"].items()}
    print(json.dumps({"correct": not problems and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
