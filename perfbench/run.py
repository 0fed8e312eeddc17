"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload recall_ingest --seed 1 --seconds 10 --trace 0

Builds the program from source when it is stale (perfbench/build.py), runs
the workload in one JVM on local[nproc], prints every metric by name with
its unit and the correctness verdict, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs with spans and
reports the per-layer metrics. Exits non-zero, printing no JSON line, when
the program cannot be built or the run does not finish.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import report  # noqa: E402

BENCH = json.loads((build.REPO / "BENCHMARK.json").read_text())
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A run must end within RUN_LIMIT_S seconds, or BUILD_LIMIT_S when it compiled.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880


def jvm_command(classpath, run_dir: Path, main_args):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dspark.hadoop.hadoop.tmp.dir={run_dir / 'tmp'}",
             f"-Dderby.system.home={run_dir}",
             f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
             "-cp", ":".join(str(p) for p in classpath), "graft.perfbench.Main"] + main_args)


def run_jvm(classpath, run_dir: Path, main_args, timeout_s: float):
    """Runs Main in `run_dir`, logs to run_dir/jvm.log; False on failure."""
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(jvm_command(classpath, run_dir, main_args), cwd=run_dir,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {timeout_s:.0f} s", file=sys.stderr)
            return False
    if proc.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("perfbench: program failed:\n" + "\n".join(tail), file=sys.stderr)
        return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.monotonic()
    try:
        classpath, compiled = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = start + (BUILD_LIMIT_S if compiled else RUN_LIMIT_S)

    run_dir = build.OUT / f"run-{a.workload}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(run_dir)]
    if not run_jvm(classpath, run_dir, args, deadline - time.monotonic()):
        return 1
    res = report.load(run_dir, "result.json")
    e2e = report.end_to_end(res)
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    if not res["end_ok"]:
        failed = len(ops)  # the end state is wrong: no op's result can be trusted
    correct = failed == 0
    cal = res["calibration_ms"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(ops)} ops in {res['timed_s']:.2f} s, correct={correct}")
    print(f"  session start {res['session_s']:.3f} s, input generation {res['generate_s']:.3f} s, "
          f"set-up reps {', '.join(f'{s:.3f}' for s in res['setup_s_reps'])} s, "
          f"references {res['prepare_s']:.3f} s, warm-up {res['warmup_s']:.3f} s")
    print(f"  calibration before/after timed phase: {cal[0]:.2f} / {cal[1]:.2f} ms")
    print("end-to-end:")
    print(report.table(e2e))
    if a.trace:
        layers = report.per_layer(res, report.load(run_dir, "spans.json"),
                                  report.load(run_dir, "jobs.json"))
        print("per-layer (traced ops):")
        print(report.table((k, v, u) for k, (v, u) in sorted(layers.items())))
        values = {k: v for k, (v, _) in layers.items()}
        listed = BENCH["per_layer"]
    else:
        values = {name: v for name, v, _ in e2e}
        listed = BENCH["end_to_end"]
    # the JSON line carries exactly the metrics BENCHMARK.json lists
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
