"""The benchmark's one command.

    python3 perfbench/run.py --workload ingest|lake|dedup|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine from source (see
build.py), starts one JVM with one Spark session at local[nproc], runs the
workload's closed loop with a single client for S seconds and prints every
metric by name with its unit and sample count. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span file is written under the build directory.
`--workload all` runs every workload in turn (untraced) and prints each one's
figures. A wrong output or a failed check exits non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["ingest", "lake", "dedup"]
# Each run must end within 180 s; the JVM is stopped before that.
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_one(classpath, workload, seed, seconds, trace):
    """Runs one workload in its own JVM; returns (exit code, result dict or None)."""
    root = build.build_dir()
    work = os.path.join(root, "work", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    # a fixed heap and the parallel collector: fewer run-to-run differences
    # from heap resizing and concurrent GC threads on a few cores; a
    # metaspace large enough for the generated classes, so that no full GC
    # (200 ms at 160 MB) lands inside a timed operation; no perf data file,
    # which the JVM would write outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    # class data sharing: the build's first run writes the classes it
    # loaded to an archive, and later runs map it instead of loading and
    # verifying them, which takes about 5 s off Spark's start and the
    # first set-up on 4 cores. It moves into place only after a clean
    # exit; a JVM that cannot map it runs without it. The JVM's own
    # warnings go to standard error, without the archive's list of the
    # classes it leaves out.
    cmd += ["-Xlog:disable", "-Xlog:all=warning,cds*=off:stderr"]
    archive = build.cds_archive()
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}.tmp")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} did not finish within {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    finally:
        if proc.returncode == 0 and os.path.exists(f"{archive}.tmp"):
            os.replace(f"{archive}.tmp", archive)
        results = os.path.join(root, "results")
        os.makedirs(results, exist_ok=True)
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("spans-"):
                shutil.move(os.path.join(work, f), os.path.join(results, f))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in lines:
        if line.startswith("{"):
            result = json.loads(line)
        else:
            print(line)
    return proc.returncode, result


def declared(trace):
    """The metric list BENCHMARK.json declares for this mode, name → unit."""
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def conform(result, trace):
    """Gives the result exactly the declared metrics with their declared
    units. A per-layer metric of a layer the workload does not call reads
    0; a metric the program reports but BENCHMARK.json does not declare,
    or a declared end-to-end metric it does not report, is an error."""
    want = declared(trace)
    got = result["metrics"]
    extra = sorted(set(got) - set(want))
    missing = sorted(set(want) - set(got))
    if extra or (missing and not trace):
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"undeclared {extra}, missing {missing}")
    result["metrics"] = {n: {"value": got[n]["value"] if n in got else 0, "unit": u}
                         for n, u in want.items()}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10, help="BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build.build()
    if args.workload != "all":
        code, result = run_one(classpath, args.workload, args.seed, args.seconds, args.trace)
        if result is None:
            sys.exit(code or 1)
        print(json.dumps(conform(result, args.trace)))
        sys.exit(code)

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        print(f"=== {w}")
        code, result = run_one(classpath, w, args.seed, args.seconds, args.trace)
        if result is None:
            sys.exit(code or 1)
        summary["correct"] &= result["correct"] and code == 0
        summary["attempted"] += result["attempted"]
        summary["failed"] += result["failed"]
        for k, v in conform(result, args.trace)["metrics"].items():
            summary["metrics"][f"{w}.{k}"] = v
    print(json.dumps(summary))
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
