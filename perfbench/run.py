#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft from the checkout, runs
one workload in a closed loop against a GraftSession at local[nproc], checks
every output, and prints every metric by name and unit. The last line of
stdout is the result as one JSON object.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --record     # re-record expected fingerprints

Run from the root of a graft checkout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(BENCH, "expected.json")
WORKLOADS = ["pipeline_batch", "lakehouse_cdc"]
HEAP = "3g"
# JVM settings of the harness. A fixed, pre-touched heap: no heap resizing
# or first-touch page faults inside the timed passes. The JIT's C1 tier
# only, at a tenth of its default compile thresholds and with room for all
# it compiles: under the C2 tier, pass times kept falling for over a minute
# while it compiled Spark's driver paths on two to three of the four cores,
# so a run of affordable length measured a point on that curve and runs
# differed by where. C1 reaches its plateau within the warm-up passes.
HARNESS_JVM = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
               "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=512m"]
HARNESS_TIMEOUT_S = 160
# Hygiene settings added from outside the session factory: the periodic
# GC interval that Bench also sets (keeps Spark's ContextCleaner draining
# shuffle files), and every scratch path inside the checkout.
PERIODIC_GC = "1min"


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def benchmark_spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def run_harness(cp, data, workload, seed, seconds, trace, record=False):
    """Runs one harness JVM; returns (result dict, hygiene settings)."""
    out = build.out_dir()
    work = os.path.join(out, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    hygiene = {
        "spark.cleaner.periodicGC.interval": PERIODIC_GC,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
    }
    result = os.path.join(work, "result.json")
    cmd = ["java", *HARNESS_JVM, *build.jvm_opts(),
           *[f"-D{k}={v}" for k, v in hygiene.items()], "-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(nproc()),
           "--data", data, "--work", work, "--result", result, "--expected", EXPECTED,
           "--record", "1" if record else "0"]
    log = os.path.join(out, "harness.log")
    try:
        with open(log, "w") as f:
            proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=build.ROOT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=HARNESS_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:  # timed out, or this command was stopped
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        if code != 0:
            with open(log) as f:
                tail = f.read()[-4000:]
            why = "timed out" if code is None else f"exited {code}"
            raise build.BuildError(f"harness {why}; log {log}:\n{tail}")
        with open(result) as f:
            res = json.load(f)
        spans = result[:-len(".json")] + ".spans.json"
        saved = os.path.join(out, "results")
        os.makedirs(saved, exist_ok=True)
        stem = os.path.join(saved, f"{workload}-s{seed}-t{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}")
        if os.path.exists(spans):
            shutil.copy(spans, stem + ".spans.json")
        return res, hygiene, stem + ".json"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record():
    """Re-records the expected fingerprints of every workload's queries."""
    cp, data = build.build()
    fps = {}
    for w in WORKLOADS:
        res, _, _ = run_harness(cp, data, w, 0, 0, False, record=True)
        if res["failed"]:
            sys.exit(f"record: {w} failed: {res['failures']}")
        fps.update(res["fingerprints"])
    with open(EXPECTED, "w") as f:
        json.dump({"data_scale": build.SCALE, "queries": dict(sorted(fps.items()))}, f, indent=1)
        f.write("\n")
    print(f"recorded {len(fps)} fingerprints in {EXPECTED}")


def main():
    # stopped from outside: unwind, so the harness JVM is stopped with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true", help="re-record expected fingerprints")
    a = ap.parse_args()
    try:
        if a.record:
            return record()
        if not a.workload:
            ap.error("--workload is required")
        spec = benchmark_spec()
        cp, data = build.build()
        res, hygiene, saved = run_harness(cp, data, a.workload, a.seed, a.seconds, a.trace == 1)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    ctx = res["context"]
    ctx.update({"nproc": nproc(), "git_commit": git_commit(), "source_digest": build.source_digest(),
                "sf": f"sf0.1 (DataGen scale {build.SCALE})", "heap": HEAP, "jvm": HARNESS_JVM, "hygiene": hygiene})
    with open(saved, "w") as f:
        json.dump(res, f, indent=1)

    e2e, layers = res["end_to_end"], res["per_layer"]
    print(f"graft perfbench: workload {a.workload}, seed {a.seed}, {ctx['cores']} cores, "
          f"{res['samples']} timed ops in {len(res['pass_s_all'])} passes, load1m "
          f"{ctx['load1m_start']:.2f} -> {ctx['load1m_end']:.2f}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<14} {e2e[m['name']]:.4f} {m['unit']}")
    print(f"  {'failed_frac':<14} {e2e['failed_frac']:.4f} ({res['failed']} of {res['attempted']} ops)")
    if a.workload == "lakehouse_cdc":
        for k, unit in (("write_p50_ms", "ms"), ("read_p50_ms", "ms"), ("write_amp", "B/B")):
            print(f"  {k:<14} {e2e[k]:.4f} {unit}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    if a.trace:
        for m in spec["per_layer"]:
            print(f"  {m['name']:<24} {layers[m['name']]:.4f} {m['unit']}")
    print(f"  result saved in {os.path.relpath(saved, build.ROOT)}")
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    vals = layers if a.trace else e2e
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in names},
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
