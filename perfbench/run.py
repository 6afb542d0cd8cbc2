"""Closed-loop benchmark of the engine's three user loops.

    python3 perfbench/run.py --workload dq_gate|curation|stream_suite|all \
        --seed N --seconds S --trace 0|1

Builds the engine from this checkout (perfbench/build.py), generates the
seeded inputs and their expected answers (perfbench/gen.py), runs one
Spark local[nproc] JVM (perfbench/src), and checks every op against the
generator. A summary goes to stderr; the last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits 1 when any op's output differs from the
expected answer, 2 when the engine cannot be built or run.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ["dq_gate", "curation", "stream_suite"]
CPUS = len(os.sched_getaffinity(0))  # Spark runs local[CPUS]
# A run is flagged as contended above these shares of all CPU. Other-process
# CPU includes the kernel threads that do this JVM's file I/O (about 0.15 on
# stream_suite), so steal, the host's share given to other machines, is
# the sharper signal.
CONTENDED_OTHER, CONTENDED_STEAL = 0.25, 0.05
JVM_OPTS = ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tail(walls):
    """The highest percentile with at least ten ops beyond it,
    100 * (1 - 10 / n), interpolated between ranks; the median when the
    loop holds fewer than twenty ops."""
    n = len(walls)
    if n < 20:
        return 50.0, statistics.median(walls)
    p = 100.0 * (1 - 10 / n)
    w = sorted(walls)
    r = (n - 1) * p / 100
    lo = int(r)
    return p, w[lo] + (w[min(lo + 1, n - 1)] - w[lo]) * (r - lo)


def slope(xs, ys):
    if len(set(xs)) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    return (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            / sum((x - mx) ** 2 for x in xs))


def end_to_end(rec):
    ops = rec["ops"]
    walls = [o["wall_s"] for o in ops]
    p, tail_s = tail(walls)
    n = len(walls)
    return {
        "setup_s": (rec["setup_s"], "one cold set-up, n=1"),
        "op_p50_s": (statistics.median(walls), f"n={n}"),
        "op_tail_s": (tail_s, f"p{p:.1f} of {n} ops"),
        "rows_per_s": (sum(o["rows"] for o in ops) / sum(walls), f"{n} ops"),
        # Process CPU ticks in 10 ms jiffies: the mean over the ops does
        # not snap to the tick as a median of a few ops would.
        "cpu_s_per_op": (statistics.fmean(o["cpu_s"] for o in ops), f"mean of {n} ops"),
        "heap_live_mb": (rec["heap_live_mb"], "least of 3 full GCs, n=1"),
    }


def per_layer(rec, names):
    traced = [o for o in rec["ops"] if o["traced"]]
    plain = [o["wall_s"] for o in rec["ops"] if not o["traced"]]
    values = {}
    for name in names:
        vs = [o["layers"][name] for o in traced if name in o["layers"]]
        values[name] = (statistics.median(vs) if vs else 0.0, f"n={len(vs)}")
    scans = [o["layers"]["suite.run.jobs"] / o["layers"]["suite.tables"]
             for o in traced if "suite.tables" in o["layers"]]
    values["checks.scan_jobs_per_table"] = (
        statistics.median(scans) if scans else 0.0, f"n={len(scans)}")
    hist = [(o["layers"]["sink.store_runs"], 1000 * o["layers"]["sink.history_read_s"])
            for o in traced if "sink.history_read_s" in o["layers"]]
    values["sink.history_read_ms_per_run"] = (
        slope([h[0] for h in hist], [h[1] for h in hist]), f"n={len(hist)}")
    tw = [o["wall_s"] for o in traced]
    values["trace.overhead_s"] = (
        statistics.median(tw) - statistics.median(plain) if tw and plain else 0.0,
        f"{len(tw)} traced vs {len(plain)} untraced ops")
    values["host.other_cpu_load"] = (rec["other_cpu_load"] or 0.0, "timed section")
    values["host.steal_ratio"] = (rec["steal"] or 0.0, "timed section")
    return values


def harness(workload, work, seconds, trace, budget=175.0):
    """Run the JVM on the inputs under `work/inputs`; return its record."""
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(build.OUT, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(),
           "perfbench.Harness", "--workload", workload,
           "--manifest", os.path.join(work, "inputs", "manifest.json"),
           "--work", work, "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(CPUS), "--out", out,
           "--trace-out", os.path.join(build.OUT, f"trace-{workload}.jsonl")])
    # Spark's local dirs stay inside the work dir, whatever the caller's env says.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    t0 = time.time()
    with open(os.path.join(build.OUT, f"{workload}.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{workload}: harness exceeded {budget:.0f} s")
        finally:
            if proc.poll() is None:  # timed out or interrupted: never leave the JVM behind
                proc.kill()
                proc.wait()
    log(f"{workload}: harness JVM ran {time.time() - t0:.1f} s")
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{workload}: harness exited {code}; see perfbench/out/{workload}.log")
    with open(out) as f:
        return json.load(f)


def run_one(workload, seed, seconds, trace, t_start):
    work = os.path.join(ROOT, ".perfbench-work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        gen.generate(workload, seed, os.path.join(work, "inputs"))
        log(f"{workload}: inputs for seed {seed} in {time.time() - t0:.1f} s")
        return harness(workload, work, seconds, trace,
                       budget=max(30.0, 175.0 - (time.time() - t_start)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def report(workload, rec, trace, bench):
    metrics = bench["per_layer"] if trace else bench["end_to_end"]
    names = [m["name"] for m in metrics]
    values = per_layer(rec, names) if trace else end_to_end(rec)
    for m in metrics:
        v, note = values[m["name"]]
        log(f"{workload:12s} {m['name']:32s} {v:14.6g} {m['unit']:6s} {note}")
    attempted, failed = rec["attempted"], rec["failed"]
    log(f"{workload:12s} {'error_rate':32s} {failed / max(attempted, 1):14.6g} ratio  "
        f"{failed} of {attempted} ops failed")
    load, steal = rec["other_cpu_load"], rec["steal"]
    if load is not None:
        flag = "  CONTENDED" if load > CONTENDED_OTHER or steal > CONTENDED_STEAL else ""
        log(f"{workload:12s} other-process CPU {load:.3f}, steal {steal:.3f} over the timed "
            f"section (flagged above {CONTENDED_OTHER} or {CONTENDED_STEAL}){flag}")
    for w in rec["wrong_detail"]:
        log(f"WRONG {w}")
    for w in rec["failures"]:
        log(f"FAILED {w}")
    correct = rec["wrong"] == 0 and attempted > failed
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]}
                        for m in metrics}}


def main():
    # A terminated run still stops its JVM and deletes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        bench = spec()
        build.build()
    except (OSError, ValueError, build.BuildError) as e:
        log(f"cannot build the engine: {e}")
        return 2
    seconds = args.seconds or bench["run_seconds"]
    t_start = time.time()
    ok = True
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        try:
            rec = run_one(w, args.seed, seconds, args.trace, t_start)
        except (RuntimeError, OSError) as e:
            log(str(e))
            return 2
        result = report(w, rec, args.trace, bench)
        ok = ok and result["correct"]
        print(json.dumps(result), flush=True)
        t_start = time.time()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
