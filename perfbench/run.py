"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, times the first operation after a cold session build (and keeps
running operations until S seconds have passed), and checks every output. The
last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The line
before it records the box, the generated inputs, sample counts and, for a
traced run, the span tree. All scratch files stay under
``.perfbench_work/`` in the repository root and are removed at the end; a
traced run leaves its spans in ``.perfbench_work/<workload>-spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "stglib_spark", "pipeline.py")):
        print(f"stglib_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    _sweep_dead(base)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["PERFBENCH_BASE_CONF"] = f"spark.sql.warehouse.dir={work}/warehouse"
    sys.path.insert(0, ROOT)

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result, info = harness.run(
            WORKLOADS[args.workload](), ROOT, work, args.seed, args.seconds, bool(args.trace)
        )
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(base, f"{args.workload}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=float))
    print(json.dumps(result))
    return 0


def _sweep_dead(base: str) -> None:
    """Remove work directories left by runs that were killed."""
    for name in os.listdir(base) if os.path.isdir(base) else []:
        pid = name.rsplit("-", 1)[-1]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass


if __name__ == "__main__":
    sys.exit(main())
