#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Works from any working directory. It puts the checkout root on
``PYTHONPATH`` before the JVM starts, so the Python UDF workers Spark
forks can import ``tdengine_spark`` too, and pins the session to
``local[<usable cores>]``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics). Exits non-zero without that line if the program under test
cannot be imported or the run fails.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    # the inputs are small; a capped heap keeps the JVM's footprint, and
    # so peak RSS, from depending on when the collector happens to run
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    try:
        import tdengine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import harness

    harness.become_subreaper()
    return harness.run(args.workload, args.seed, args.seconds,
                       bool(args.trace), tiny=args.tiny, root=ROOT)


if __name__ == "__main__":
    sys.exit(main())
