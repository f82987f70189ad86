"""Whole-pipeline benchmark of graft: one command per named workload.

    python3 pipebench/run.py --workload star_daily --seed 1 --seconds 30 --trace 0

Builds the program from source (pipebench/build.py), then runs the workload
in a fresh JVM in a fresh working directory and prints every metric by name
with its unit, the operations attempted and failed, and as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones and writes
the traced run's spans and call-site job table to
<target>/traces/<workload>-seed<seed>.json.

    python3 pipebench/run.py --workload star_daily --seed 1 --seconds 30 --selfcheck

runs the traced run twice on one seed and fails unless every count-type
per-layer metric repeats exactly.

Exit code: 0 when every check passed, 1 on a correctness failure (the JSON
line still prints), 2 when the benchmark could not run (no JSON line).
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("star_daily", "monitor_ingest")
JVM_TIMEOUT_S = 165

COUNT_SUFFIXES = (".jobs", ".tasks", ".written_mb", "freeze_jobs", "merge_jobs")


def calibrate():
    """ms of a fixed single-threaded CPU loop: a host-speed diagnostic,
    never a metric and never used to scale one"""
    t = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x += (i * i) % 7
    return (time.perf_counter() - t) * 1e3


def steal_ticks():
    """CPU time the hypervisor gave to other guests (Linux), in ticks"""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def stop_on_signal():
    """if run.py is stopped, kill the JVM or compiler it runs and wait for it"""
    def handler(signum, _frame):
        build.stop()
        sys.exit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, handler)


def run_jvm(classpath, archive, a, work, out, trace_file):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.jvm(classpath, tmp, f"-XX:SharedArchiveFile={archive}") + [
        "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out, "--trace-file", trace_file]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        code, _ = build.call(cmd, cwd=work, out=log, timeout=JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-8000:])
        raise RuntimeError(f"benchmark JVM ended with {code}")


def run_once(a):
    classpath, archive = build.build()
    before = calibrate()
    work = os.path.join(build.target_dir(), "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    trace_file = os.path.join(build.target_dir(), "traces", f"{a.workload}-seed{a.seed}.json")
    steal0 = steal_ticks()
    try:
        run_jvm(classpath, archive, a, work, out, trace_file)
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = steal_ticks()
    if steal0 is not None and steal1 is not None:
        res["steal_s"] = (steal1 - steal0) / os.sysconf("SC_CLK_TCK")
    res["calibration_ms"] = {"before": before, "after": calibrate()}
    rec_dir = os.path.join(build.target_dir(), "results")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    if a.trace:
        res["trace_file"] = os.path.relpath(trace_file, build.ROOT)
    return res


def report(a, res):
    for n, m in res["metrics"].items():
        print(f"{a.workload:15s} {n:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"{a.workload:15s} {'ops_attempted':40s} {res['attempted']:>16d}")
    print(f"{a.workload:15s} {'ops_failed':40s} {res['failed']:>16d}")
    c = res["calibration_ms"]
    print(f"{a.workload:15s} {'ambient cpu loop (ms, before/after)':40s} "
          f"{c['before']:>8.1f} / {c['after']:.1f}")
    if "trace_file" in res:
        print(f"{a.workload:15s} trace written to {res['trace_file']}")
    for f in res["failures"]:
        print(f"CORRECTNESS FAILURE [{a.workload}]: {f}", file=sys.stderr)


def selfcheck(a):
    a.trace = 1
    runs = [run_once(a)["metrics"] for _ in range(2)]
    bad = 0
    for n in sorted(runs[0]):
        if n.endswith(COUNT_SUFFIXES):
            v = [r[n]["value"] for r in runs]
            same = v[0] == v[1]
            bad += not same
            print(f"{'ok ' if same else 'DIFF'} {n:40s} {v[0]!r:>14} {v[1]!r:>14}")
    print(f"count-type per-layer metrics that differ between two traced runs: {bad}")
    return 0 if bad == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    stop_on_signal()
    try:
        if a.selfcheck:
            return selfcheck(a)
        res = run_once(a)
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"[pipebench] cannot run: {e}", file=sys.stderr)
        return 2
    report(a, res)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
