"""Benchmark entry point.

    python3 perfbench/run.py --workload replay_backfill --seed 1 \
        --seconds 8 --trace 0

Builds the workload's inputs from ``--seed``, starts Spark (timing
set-up), measures for ``--seconds``, checks the program's outputs, and
prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones. Everything else (Spark's log, progress chatter) goes to standard
error: file descriptor 1 is pointed at 2 for the whole run, and the
result line is written to the saved descriptor.

The result is checked against the output contract before it is
printed; a nonconforming result exits 1 without printing it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("replay_backfill", "wire_tail")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    result_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)  # Spark, log4j and worker chatter all land on stderr

    from perfbench import harness

    harness.prepare_env()
    # fails here, before any work, when the program is not beside us
    import pg_bifrost_spark  # noqa: F401

    if args.workload == "replay_backfill":
        from perfbench import replay as wl
    else:
        from perfbench import wire as wl

    try:
        result = wl.run(args.seed, args.seconds, bool(args.trace))
    finally:
        harness.shutdown_jvm()
    errs = harness.validate(result, bool(args.trace))
    if errs:
        for e in errs:
            print(f"perfbench: result breaks the output contract: {e}", file=sys.stderr)
        return 1
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
