"""graft benchmark: one workload per invocation, from the checkout root.

    python3 perfbench/run.py --workload daily_score --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --quick          # every workload once, all checks

Builds the engine from source (perfbench/build.py), generates the fixture
from the seed (perfbench/gen.py), runs the workload on local[nproc] in one
JVM, checks the outputs (perfbench/checks.py) and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones and the run's trace record is written to .bench_trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"daily_score": 0.001, "query_library": 0.001}
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap_gb():
    """Half the host's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_workload(root, classes, workload, seed, seconds, trace, quick):
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(root, classes, workload, seed, seconds, trace, quick, work)
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


def _run(root, classes, workload, seed, seconds, trace, quick, work):
    t_start = time.time()
    fixture = os.path.join(work, "fixture")
    gen.generate(fixture, WORKLOADS[workload], seed)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(root, ".bench_trace",
                             f"{workload}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    jars = os.path.join(build.SPARK_JARS, "*")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-Xmn256m", "-XX:ReservedCodeCacheSize=1g",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
              workload, fixture, work, str(seed), str(seconds), str(trace),
              result, trace_out, "1" if quick else "0"])
    log = os.path.join(work, "jvm.log")
    limit = max(10, RUN_LIMIT_S - (time.time() - t_start))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    with open(log) as fh:
        text = fh.read()
    sys.stderr.write("".join(l for l in text.splitlines(True) if l.startswith("[perfbench]")))
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"perfbench: {workload} JVM " +
                         ("timed out" if code is None else f"exited with {code}"))
    res = json.load(open(result))
    found = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    found += checks.run(workload, fixture, work, res["info"])
    for name, ok, detail in found:
        if not ok:
            print(f"perfbench: CHECK FAILED {workload}.{name}: {detail}", file=sys.stderr)
    return res, all(ok for _, ok, _ in found), len(found)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--quick", action="store_true",
                    help="run every workload (or the named one) once, with all checks")
    a = ap.parse_args()
    if not a.quick and not a.workload:
        ap.error("--workload is required unless --quick")
    root = os.getcwd()
    classes = build.build(root)
    names = [a.workload] if a.workload else sorted(WORKLOADS)
    for name in names:
        res, ok, n_checks = run_workload(root, classes, name, a.seed, a.seconds,
                                         a.trace, a.quick)
        if a.quick:
            print(f"perfbench quick: {name} correct={ok} ops={res['attempted']} "
                  f"checks={n_checks} op_s={res['metrics']['op_s']['value']:.2f}",
                  file=sys.stderr)
        line = {"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                "metrics": res["metrics"]}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
