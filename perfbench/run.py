"""The repository benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload window_pipelines --seed 1 --seconds 20 --trace 0

A workload (``phases.WORKLOADS``) sets up Spark and measures one or two
phases, splitting ``--seconds`` between them, through the package's
public entry points only (``phases.py``):

  ops     Source.via(Map, Filter, window).to(Sink) over seeded events,
          closed loop, one pipeline at a time -> rows_per_s;
  stream  an open-loop generator process drops event files on a fixed
          schedule into a file stream feeding a keyed tumbling window
          into a foreachBatch sink -> latency_p50_s;
  corpus  BPE merge training -> latency_p50_s, and near-duplicate
          pairs -> rows_per_s, over a seeded corpus with planted
          near-duplicates.

Every run prints the same end-to-end metrics (``setup_s``,
``rows_per_s``, ``latency_p50_s``; METRICS.md says what each measures
on each workload) and checks every output against an independent
recomputation (``checks.py``). ``--trace 1`` prints the per-layer
metrics instead, from job-group status-store accounting and streaming
progress reports.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import go_streams_spark  # noqa: F401  the program under test
    except ImportError as e:
        log(f"perfbench: cannot import the package from {ROOT}: {e}")
        return 2

    from phases import WORKLOADS, Run
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # local[2], whatever the caller's environment says: the other cores
    # stay free for the JIT, GC, the driver's Python and the stream
    # generator, which lowered the run-to-run spread on a shared 4-core
    # host at the same operator-chain throughput (those pipelines are
    # bound by per-job overhead). Every run uses the same configuration.
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_NO_MASTER"):
        os.environ.pop(k, None)
    run = Run(args.workload, WORKLOADS[args.workload], args.seed, bool(args.trace), work)
    try:
        run.generate()
        run.setup()
        for phase in run.mix["phases"]:
            getattr(run, f"phase_{phase}")(args.seconds / len(run.mix["phases"]))
        run.hygiene()
    except Exception:  # noqa: BLE001 - a run that dies reports no result
        log(traceback.format_exc())
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    run.close()
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    run.report_detail()
    metrics = run.layer_metrics() if args.trace else run.end_to_end()
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
