"""Run one benchmark workload with one seed and print its result.

    python3 perfbench/run.py --workload score_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark (perfbench/build.py) and generates the base tables
(perfbench/gen_data.py) under the build directory ($CARGO_TARGET_DIR,
default .bench_build); later calls reuse both. Each run gets its own
directory there for its dataset copy, index root, streaming checkpoint,
Spark local dirs and temp files, deleted when the run ends.

The last line of stdout is one JSON object: the check verdict, the
attempted and failed op counts, and the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The line before it is the run's detail object. A
traced run also keeps its spans in <build dir>/traces/.

Extra options (not used by the benchmark contract; the smoke test uses them):
  --scale tiny|small   base table size (default small)
  --corrupt            check the outputs against a deliberately wrong
                       expected value, so the workload's check must fail
"""
import argparse
import fnmatch
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("score_stream", "dedup_index")
# Per-layer metrics of the layers a workload never calls. Only these may
# be missing from its traced run, and they print 0; any other missing
# metric fails the run.
NOT_CALLED = {
    "score_stream": ("op.*", "index.*", "storage.*"),
    "dedup_index": ("stream.*", "gen.*", "sink.*", "ml.*", "batch.*",
                    "sources.parse_rows_per_s.*"),
}
# Base table scale factors (lineitem rows = 6M x sf).
SCALES = {"small": 0.01, "tiny": 0.001}
# Open-loop event rates (events/s) for low, mid and high, fixed for
# 4 cores; per scale so the smoke test stays quick.
RATES = {"small": (150, 600, 1800), "tiny": (40, 80, 160)}
CORES = 4
JVM_TIMEOUT_S = 170

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xss8m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def base_data(build_dir, scale):
    out = os.path.join(build_dir, "data",
                       f"{scale}-v{gen_data.GENERATOR_VERSION}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(SCALES[scale], tmp)
        os.rename(tmp, out)
    return out


def reap_runs(runs):
    """Delete run directories left by runs that were killed."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        p = os.path.join(runs, d)
        try:
            pid = int(d.rsplit("-", 1)[1])
            os.kill(pid, 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(p, ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(classes, args, run_dir, data):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--run-dir", run_dir, "--scale", args.scale,
           "--rates", ",".join(map(str, RATES[args.scale])),
           "--corrupt", str(int(args.corrupt))]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         env=env)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s")
    finally:
        # Also on SIGTERM (raised as SystemExit below): never leave the
        # JVM running.
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    lines = [x for x in out.splitlines() if x.strip()]
    if p.returncode != 0 or len(lines) < 2:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{args.workload} exited with code {p.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="small")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(root, build_dir)
    data = base_data(build_dir, args.scale)
    runs = os.path.join(build_dir, "runs")
    reap_runs(runs)
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        detail, result = run_jvm(classes, args, run_dir, data)
        spans = os.path.join(run_dir, "trace.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = result["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and args.trace and any(
                fnmatch.fnmatchcase(m["name"], p) for p in NOT_CALLED[args.workload]):
            # A layer this workload never calls: nothing ran there.
            v = {"value": 0, "unit": m["unit"]}
            detail.setdefault("layers_not_called", []).append(m["name"])
        if v is None or v["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {v}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
