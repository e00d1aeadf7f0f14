"""The lakehouse benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine with the benchmark's driver (perfbench/build.py), writes
seeded raw exports (perfbench/gen.py), runs the workload in one JVM on
local[4], checks the outputs with DuckDB (perfbench/checks.py) and prints
one JSON line last: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. Exits non-zero when an output is wrong or the run fails.
"""
import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

TIME_LIMIT_S = 165  # the workload's JVM must end within this; build excluded
JAVA_OPTS = [
    "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


# Machine-speed calibration. A fixed pure-Python loop runs on four processes
# at once, before and after the workload. The sandbox the bounds were set on
# slows by a third for minutes at a time; when the loop shows the machine
# slower than CALIBRATION_REF_S (its time on the idle machine), the time
# metrics are scaled back to that speed. They are never scaled up: a loop
# that runs fast says little about the minute-long workload around it.
CALIBRATION_REF_S = 0.30
CALIBRATION_WORK = 3_000_000


def _spin(n):
    x = 0
    for i in range(n):
        x += i * i
    return x


def calibrate(reps=3):
    """Median wall seconds of the fixed loop on four processes."""
    with multiprocessing.Pool(4) as pool:
        pool.map(_spin, [1000] * 4)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            pool.map(_spin, [CALIBRATION_WORK] * 4)
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def write_expect(path, manifest):
    """The manifest's counts in the tab-separated form the driver reads."""
    lines = [f"raw_bytes\t{manifest['raw_bytes']}"]
    for cid, c in manifest["courses"].items():
        if "fixes" in c:
            lines.append("\t".join(map(str, [
                "course", cid, c["rounds"], c["fixes"], c["quarantined"], c["padding"]])))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def run_harness(classes, work, data, args, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "report.json")
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                   f"-Dgraft.oracle.scratch={os.path.join(work, 'scratch')}",
                                   "-cp", classes + os.pathsep + jars, "perfbench.Harness",
           "--workload", args.workload, "--data", data, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--seed", str(args.seed), "--out", out]
           + (["--trace-out", os.path.join(os.path.dirname(work), f"trace-{args.workload}.jsonl")]
              if args.trace else []))
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                            stderr=subprocess.STDOUT, cwd=work)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("the workload did not finish in time")
    finally:
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"the workload failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def output_checks(report, manifest):
    import duckdb
    import checks
    con = duckdb.connect()
    problems = []
    for chk in report["checks"]:
        if chk["kind"] == "warehouse":
            problems += checks.warehouse(con, chk["path"], manifest)
        elif chk["kind"] == "query":
            problems += checks.query(con, chk)
        elif chk["kind"] == "silver":
            problems += checks.silver(con, chk["path"], manifest)
    con.close()
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    out_dir = os.path.join(os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))), "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    classes = build.build(out_dir)

    deadline = time.monotonic() + TIME_LIMIT_S
    work = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.perf_counter()
        if args.workload == "dashboard_session":
            manifest = gen.silver_seed(data, args.seed)
        else:
            manifest = gen.generate(data, args.seed)
        write_expect(os.path.join(data, "expect.tsv"), manifest)
        gen_s = time.perf_counter() - t0

        calibration = [calibrate()]
        report = run_harness(classes, work, data, args, deadline)
        calibration.append(calibrate())
        problems = list(report["errors"]) if report["failed"] else []
        problems += output_checks(report, manifest)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    speed = min(1.0, CALIBRATION_REF_S / statistics.mean(calibration))
    e2e = dict(report["end_to_end"])
    e2e["setup_s"] = gen_s + e2e.pop("session_s", 0.0) + e2e.pop("setup_body_s", 0.0)
    print(f"unscaled: {json.dumps(e2e)}; calibration_s: {calibration}", file=sys.stderr)
    for k in ("op_p50_ms", "setup_s"):
        e2e[k] = e2e.get(k, 0.0) * speed
    layer = dict(report["per_layer"], **{"engine.calibration_s": statistics.mean(calibration)})
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    correct = not problems
    for p in problems:
        print("CHECK FAILED: " + p, file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, report["attempted"]),
        "failed": report["failed"] + (0 if correct or report["failed"] else 1),
        "metrics": metrics,
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
