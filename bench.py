"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kinesis_to_firehose_spark.registry import all_ops
from kinesis_to_firehose_spark.session import get_spark
from tools.measure import ACTIONS, measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Per-op timing repeats (best-of-N). 3 absorbs JVM/codegen warmup at
# sf0.1; the sf1 anchor run (BENCH_SF1.json) uses 2 — at 10x data the
# queries dwarf the session noise the extra repeat exists to absorb.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# Per-op artifact name — the sf1 anchor writes BENCH_SF1.json so the
# sf0.1 map of record is never clobbered by a scale run.
OPS_OUT = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_OPS.json")
# Timed action, noop or count: see tools/measure.py for why the
# noop sink is the default. `SPARK_GRAFT_BENCH_ACTION=count` restores
# the pre-r12 action for comparison against older artifacts.
ACTION = os.environ.get("SPARK_GRAFT_BENCH_ACTION", "noop")
# ADVICE r12: a typo'd action ('Count', 'counts') used to silently
# fall through to the noop sink while the artifact recorded the bogus
# string — a mislabeled run that looks like a valid comparison.
if ACTION not in ACTIONS:
    raise SystemExit(
        f"SPARK_GRAFT_BENCH_ACTION={ACTION!r} is not one of: noop, count"
    )


def host_speed_sentinel() -> float:
    """Fixed, data-independent CPU workload (md5 over 48 MiB,
    single-threaded) timed in seconds. Containers hosting these runs
    differ in per-core speed round-to-round (observed: a uniform
    ~1.8x drift across ALL 93 ops between two idle-machine runs);
    dividing per-op ratios by the sentinel ratio separates real plan
    regressions from host drift. Best of three, same rationale as the
    per-op timing."""
    import hashlib

    buf = bytes(range(256)) * (48 * 1024 * 1024 // 256)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.md5(buf).hexdigest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    from kinesis_to_firehose_spark.registry import over_cap

    spark = get_spark("kinesis-to-firehose-spark-bench")
    # Headline set: every batch op (Op.streaming ops are checked for
    # correctness, not timed for throughput)
    ops = {k: v for k, v in all_ops().items() if not v.streaming}
    # registry scale caps (Op.max_rows): quadratic-by-design baseline
    # ops refuse corpora above their bound — skip-and-LOG so the
    # artifact shows what was dropped, never a silent truncation
    capped = sorted(k for k, v in ops.items() if over_cap(v, SF_DIR))
    for k in capped:
        print(
            f"# SKIP {k}: scale-capped at {ops[k].max_rows[1]} "
            f"{ops[k].max_rows[0]} rows (Op.max_rows)",
            file=sys.stderr,
        )
        del ops[k]
    # Warm the JVM / codegen / parquet footer caches so timings measure
    # the queries, not first-run startup (~35s otherwise).
    for name in ("q1_pricing_summary",):
        if name in ops:
            ops[name].fn(spark, SF_DIR).count()
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name, op in sorted(ops.items()):
        # Untimed rows count: sanity signal for the artifact (and
        # the session warm-up the old count-as-action provided).
        n = op.fn(spark, SF_DIR).count()
        m = measure(spark, op.fn, SF_DIR, action=ACTION, reps=REPEATS)
        timings[name] = round(m.best_s, 3)
        layers[name] = {
            "build_s": round(m.build_s, 3),
            "action_s": round(m.action_s, 3),
            "build_jobs": m.build_jobs,
        }
        print(f"# {name}: {m.best_s:.3f}s rows={n}", file=sys.stderr)
    total = sum(timings.values())
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    sentinel = host_speed_sentinel()
    # The driver keeps only the LAST 2000 chars of stdout; a 194-op
    # JSON line truncates mid-map and parses as null (BENCH_r03.json).
    # So: full per-op map goes to BENCH_OPS.json (the artifact of
    # record, read by regress.py and the judge), and the stdout line
    # carries a compact headline subset + a pointer, guaranteed to fit.
    try:
        from tools.parity_stamp import status as _stamp_status

        parity_stamp = _stamp_status()[0]
    except Exception:  # noqa: BLE001 — annotation only, never break bench
        parity_stamp = "unknown"
    full = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # per-op split of each `queries` entry (best run): DataFrame
        # construction vs action, and the Spark jobs construction ran
        "layers": layers,
        "sf": sf,
        "host_sentinel_sec": sentinel,
        "parity_stamp": parity_stamp,
        "scale_capped_skipped": capped,
        "timed_action": ACTION,
    }
    ops_path = Path(__file__).resolve().parent / OPS_OUT
    ops_path.write_text(json.dumps(full, indent=1, sort_keys=True) + "\n")
    headline = {
        k: v for k, v in sorted(timings.items()) if k.startswith("q")
    }
    line = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": headline,
        "queries_file": OPS_OUT,
        "n_ops": len(timings),
        "sf": sf,
        "host_sentinel_sec": sentinel,
        "parity_stamp": parity_stamp,
    }
    out = json.dumps(line, separators=(",", ":"))
    while len(out) > 1900 and headline:  # hard cap: driver tail is 2000
        headline.popitem()
        line["queries"] = headline
        out = json.dumps(line, separators=(",", ":"))
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
