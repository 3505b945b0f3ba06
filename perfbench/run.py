"""Nightly-ETL benchmark entry point.

    python3 perfbench/run.py --workload nightly_large --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). Everything the
run writes lives under ``.perfbench_work/`` in the checkout and is removed at
the end, except that a traced run leaves its spans (trace, name, start,
end, parent) in ``.perfbench_work/spans-<workload>-<seed>.jsonl``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ecommerce_full_etl_process_spark")):
        print("perfbench: the program package is not in this checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    # keep every temporary file (python, both JVMs, spark local dirs) in the
    # checkout; the JVMs' perf-data files would otherwise go to /tmp
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        from perfbench import metrics, workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        spans = os.path.join(os.path.dirname(workdir),
                             f"spans-{args.workload}-{args.seed}.jsonl")
        out = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                            workdir, T_START, spans_path=spans)
        try:
            result_metrics = out.layer if args.trace else metrics.end_to_end(out)
        except (ValueError, ZeroDivisionError):  # nothing timed: no figures
            result_metrics = {}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # only if no other run uses it
        except OSError:
            pass

    pct = {q: metrics.percentile(out.query_s, q) for q in (50, 90)}
    print(f"perfbench {args.workload} seed={args.seed}: days={len(out.day_s)} "
          f"queries={len(out.query_s)} " + " ".join(
              f"query_s_p{q}={'n/a (needs 10 samples beyond it)' if v is None else round(v, 4)}"
              for q, v in pct.items()))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
