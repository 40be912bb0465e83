"""The repo benchmark: one workload of the engine in a fresh JVM.

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  daily_sync     five-pipeline `Orchestrator.run` cycles into versioned tables
  corpus_ingest  a day-batch through `corpusIngest` then `corpusIngestEmbeddings`

The first run in a checkout builds the engine and the inputs
(perfbench/build.py). Each run sets up, runs a closed loop of operations with
one caller for `--seconds`, checks every output, and prints the workload's
metrics by name with unit and sample count, then one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Exit status is 0 when every output check passed, 1 when one failed, 2 when
the engine could not be built or run.
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("daily_sync", "corpus_ingest")
# Jobs by which two ops of a run may differ: the text store's overlapped
# stages submit 132 or 133 jobs for the same batch from op to op.
JOB_COUNT_TOLERANCE = {"daily_sync": 0, "corpus_ingest": 1}
RUN_TIMEOUT_S = 170


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return []


def run_jvm(build_dir, args, deadline):
    runs = build.BUILD_ROOT / "runs"
    tmp = runs / f"{os.getpid()}-{time.monotonic_ns()}"
    tmp.mkdir(parents=True)
    out, log = tmp / "record.json", tmp / "jvm.log"
    cmd = build.java_cmd(build_dir / "classes", build.spark_jars(), tmp, [
        "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(build.cpus()), "--tmp", str(tmp),
        "--data", str(build_dir / "data"), "--template", str(build_dir / "template"),
        "--out", str(out)])
    try:
        with open(log, "w") as f:
            proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=tmp)
            try:
                rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            raise build.BuildError(f"benchmark JVM failed ({rc}):\n" + "\n".join(tail))
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if runs.exists() and not any(runs.iterdir()):
            runs.rmdir()


def fmt(v):
    return "nan" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.6g}"


def report(rec, args):
    """Print the run's description and metrics; return the result line."""
    p = rec["posture"]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}" + (f" order={rec['order']}" if "order" in rec else ""))
    print(f"# posture: master={p['master']} nproc={p['nproc']} heap_mb={p['heap_mb']} "
          f"spark={p['spark_version']} loadavg={' '.join(rec['loadavg'])}")
    for k, v in sorted(p["spark_sql_confs"].items()):
        print(f"#   {k}={v}")
    su = rec["setup"]
    print(f"# setup: session {rec['session_s']:.3f} s, state set-ups "
          f"{' '.join(f'{x:.3f}' for x in su['state_s'])} s, "
          + (f"store registration {su['register_s']:.3f} s, " if "register_s" in su else "")
          + f"first op at {su['ready_s']:.3f} s")
    bad = [c for c in rec["checks"] if not c["ok"]]
    print(f"# checks: {len(rec['checks']) - len(bad)}/{len(rec['checks'])} passed")
    for c in bad:
        print(f"#   FAILED {c['name']}: {c['detail']}")
    ops = rec["ops"]
    print("# ops: " + " ".join(f"{op['id']}{'t' if op['traced'] else ''}={op['wall_s']:.3f}s"
                               for op in ops))
    if args.workload == "corpus_ingest":
        print("# ingests (text rows/dups, embedding rows/dups): " + " ".join(
            f"{d['text_rows']}/{d['text_dups']},{d['emb_rows']}/{d['emb_dups']}"
            for d in (op["detail"] for op in ops)))
    failed, attempted, _ = stats.failed_frac(ops)
    for op in ops:
        if op["failed"]:
            print(f"#   op {op['id']} errors: {'; '.join(op['errors'])}")
    correct = not bad and attempted > failed
    if args.trace:
        problems = stats.check_accounting(rec) + stats.check_same_work(
            rec, tolerance=JOB_COUNT_TOLERANCE[args.workload])
        for msg in problems:
            print(f"#   TRACE {msg}")
        correct = correct and not problems
        metrics = stats.layer_metrics(rec)
        for name, (v, unit) in metrics.items():
            print(f"{args.workload:14s} {name:36s} {fmt(v):>14s} {unit}")
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        for name, (v, unit, n) in stats.named_metrics(rec, args.workload).items():
            print(f"{args.workload:14s} {name:22s} {fmt(v):>14s} {unit:6s} n={n}")
        out = {k: {"value": v, "unit": u} for k, (v, u, n) in stats.e2e_metrics(rec).items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load = loadavg()
    try:
        build_dir = build.ensure()
        rec = run_jvm(build_dir, args, deadline=time.monotonic() + RUN_TIMEOUT_S)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    rec["loadavg"] = load
    result = report(rec, args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
