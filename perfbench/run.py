#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload repo-pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark from
source (once per source tree, see build.py), runs one workload in a fresh
Spark session (`local[<cpus>]`, one client, ops strictly one after
another), checks every output, and prints each figure as a text line and,
as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (see metrics.py and README.md). Everything a run
writes stays under .perfbench/ in the repository root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ["repo-pipeline", "shuffle-state", "query-mix"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(build_dir, args, work, deadline):
    cmd = build.jvm_command(build_dir, work, args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(1)))
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
        fail("run exceeded its time limit")
    except BaseException:
        stop()
        raise


def untraced_wall(reports, workload, seed):
    """wall_s of the untraced runs of `workload` kept in `reports`: the run
    with the same seed if there is one, else the median over all seeds;
    None if there are none."""
    same = reports / f"{workload}-s{seed}-t0.json"
    files = [same] if same.exists() else sorted(reports.glob(f"{workload}-s*-t0.json"))
    walls = [json.loads(f.read_text())["passes"][0]["wall_s"] for f in files]
    if not walls:
        print(f"[perfbench] no untraced {workload} run kept: trace.overhead_s reads 0",
              file=sys.stderr)
        return None
    return metrics.median(walls)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        build_dir = build.build_dir()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.monotonic() + RUN_LIMIT_S

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = ROOT / ".perfbench" / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    report_file = work / "report.json"
    cpus = len(os.sched_getaffinity(0))
    try:
        code = run_jvm(build_dir, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                 str(work), str(report_file), str(cpus)], work, deadline)
        if code != 0 or not report_file.exists():
            fail(f"benchmark JVM exited with code {code}")
        report = json.loads(report_file.read_text())
        if a.workload == "query-mix":
            verdict = oracle.compare(report["input"], str(work / "query-results"))
            for o in report["ops"]:
                if o["name"].startswith("query.") and o["ok"] and o["span"] not in verdict:
                    verdict[o["span"]] = "result not written"
                if verdict.get(o["span"]):
                    o["ok"] = False
                    o["failed_checks"].append(f"oracle: {verdict[o['span']]}")
            report["oracle_failures"] = sum(1 for v in verdict.values() if v)
        keep = ROOT / ".perfbench" / "reports"
        keep.mkdir(parents=True, exist_ok=True)
        (keep / f"{tag}.json").write_text(json.dumps(report))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in report["ops"] if not o["ok"]]
    for o in failed:
        print(f"[perfbench] FAILED {o['name']} (pass {o['pass']}): "
              f"{o['error'] or '; '.join(o['failed_checks'])}", file=sys.stderr)

    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    if a.trace:
        values = metrics.per_layer(report, untraced_wall(keep, a.workload, a.seed))
        for s in metrics.pass_self_s(report):
            print(f"pass.self_s {s:.4f} s")
    else:
        values = metrics.end_to_end(report)
        extra = metrics.reported(report)
        extra["error_rate"] = len(failed) / len(report["ops"])
        for name, unit in metrics.REPORTED + [("error_rate", "ratio")]:
            if name in extra:
                print(f"{name} {extra[name]:.6g} {unit}")
    for k, v in sorted(report["setup"].items()):
        print(f"setup.{k} {v} s")
    for k, v in sorted(report["probe"].items()):
        print(f"probe.{k} {v:.6g}")
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(report["ops"]),
        "failed": len(failed),
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }))


if __name__ == "__main__":
    main()
