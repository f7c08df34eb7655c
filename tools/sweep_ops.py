"""Per-op timed sweep with a watchdog: time every registry op at a
given sf dir (tools/measure.py, count action, one run unless it is
sub-second), cancel any op exceeding the budget via its job group, and
emit one JSON line per op as it finishes — the scale-stress instrument
(a hung op costs `budget` seconds, not the sweep).

Usage: python tools/sweep_ops.py <sf_dir> [budget_sec] [only_prefix]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kinesis_to_firehose_spark.registry import all_ops
from kinesis_to_firehose_spark.session import get_spark
from tools.measure import measure


def main() -> None:
    sf_dir = sys.argv[1]
    budget = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    prefix = sys.argv[3] if len(sys.argv) > 3 else ""
    spark = get_spark()
    for name, op in sorted(all_ops().items()):
        if not name.startswith(prefix):
            continue
        rec = {"op": name}
        try:
            m = measure(spark, op.fn, sf_dir, action="count", reps=1, budget_s=budget)
            rec.update(sec=round(m.best_s, 3), rows=m.rows)
            if m.timed_out:
                rec["err"] = "TIMEOUT"
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec.update(rows=None, err=str(exc)[:200])
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
