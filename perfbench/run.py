"""Layered benchmark of the vector engine.

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), runs one workload in a fresh JVM on
local[nproc] with its own index in a fresh directory under .bench_run/,
checks every result, and prints one JSON line as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

RECALL_GATE = 0.9  # the reference's recall gate at its default parameters
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(stats.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.ensure()
    work = os.path.join(build.ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), work, raw_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            # the run must end within 180 s of the build finishing
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"benchmark JVM failed: {code}")
    with open(raw_path) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    attempted = sum(o["attempted"] for o in raw["ops"].values())
    failed = sum(o["failed"] for o in raw["ops"].values())
    for f in raw["failures"]:
        sys.stderr.write(f"failed: {f}\n")
    rec = stats.recall(raw["recall"])
    correct = rec >= RECALL_GATE and failed == 0
    if not correct:
        sys.stderr.write(f"recall@10 {rec:.4f} is below the {RECALL_GATE} gate\n")
    counts = {k: len(o["lat_ms"]) for k, o in sorted(raw["ops"].items())}
    sys.stderr.write(f"samples: {json.dumps(counts)}\n")
    if a.trace:
        metrics = {k: {"value": v, "unit": stats.layer_unit(k)}
                   for k, v in stats.per_layer(raw).items()}
    else:
        q = stats.WORKLOADS[a.workload]["query"]
        n, p, v = stats.tail(raw["ops"].get(q, {"lat_ms": []})["lat_ms"])
        sys.stderr.write(f"{q}: {n} samples, tail p{p} = {v:.1f} ms\n" if p else
                         f"{q}: {n} samples, too few for a tail percentile\n")
        metrics = {k: {"value": v, "unit": stats.UNITS[k]}
                   for k, v in stats.end_to_end(raw).items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
