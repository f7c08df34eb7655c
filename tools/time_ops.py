"""Time named ops by bench.py's protocol (tools/measure.py) in one
session, after the same q1 warm-up, and print one line per op with
its construction/action split.

Usage: python tools/time_ops.py [--action noop|count] [--reps 3] op1,op2,...
       (reads $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kinesis_to_firehose_spark.registry import all_ops
from kinesis_to_firehose_spark.session import get_spark
from tools.measure import ACTIONS, measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    # argparse (ADVICE r12): flag values used to be skipped from the
    # positional op list by string equality — an op named like a flag
    # value was silently dropped from the timing set.
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--action", choices=ACTIONS, default="noop")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("ops", nargs="+", help="op names (comma-separable)")
    args = ap.parse_args()
    names = [n for part in args.ops for n in part.split(",") if n]
    spark = get_spark("time-ops")
    ops = all_ops()
    # warm the session like bench.py does
    ops["q1_pricing_summary"].fn(spark, SF_DIR).count()
    for name in names:
        m = measure(spark, ops[name].fn, SF_DIR, action=args.action, reps=args.reps)
        print(
            f"{name}: {m.best_s:.3f}s build={m.build_s:.3f}s "
            f"action={m.action_s:.3f}s build_jobs={m.build_jobs} rows={m.rows}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
