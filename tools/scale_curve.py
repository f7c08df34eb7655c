"""Scale-curvature probe for the heaviest ops: time the Spark side at
two generated decades (default .testdata/sf1, .testdata/sf3) and
report each op's growth exponent alpha = log(t_hi/t_lo)/log(rows_hi/
rows_lo). alpha <= 1 is sub-linear; the 100 TB question is whether
the curve BENDS between decades, which a single sf1 point can't show.
Each op runs solo in a fresh process and is timed by tools/measure.py
(count action, best of 2).

Usage: python tools/scale_curve.py [lo_dir hi_dir growth out.json]
       (growth = nominal hi/lo factor, default 3.0 — used only as a
       fallback; the exponent denominator is the MEASURED events-table
       row ratio of the two dirs, recorded in the artifact, so an
       approximate gen_scale multiplier can't skew alphas)
"""

from __future__ import annotations

import json
import math
import sys

sys.path.insert(0, ".")

from kinesis_to_firehose_spark.registry import all_ops
from kinesis_to_firehose_spark.session import get_spark
from tools.measure import measure

# The sf1 per-op bench's heavy tail: every op over ~5.5 s at sf1 plus
# the two formerly-ungated pair joins (the round-7 scale charges),
# plus the next cost tier (round-10 verdict task 3: the 1.5–2.9 s
# sf0.1 ops that had no measured curvature).
CURVE_OPS = [
    "dedup_edit_distance",
    "dedup_provenance_chain",
    "dedup_containment",
    "dedup_minhash_eval",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "dedup_ngram_jaccard",
    "doc_tf_search",
    "curate_to_splits",
    "dedup_substring",
    "dedup_keep_best",
    "pq_quantize",
    "dedup_cc_star",
    "dedup_simhash",
    "mm_phash_dedup",
    # next cost tier (round 10)
    "mmr_rerank",
    "hybrid_search_rrf",
    "bm25_search",
    "bloom_prefilter_join",
    "item_cooccurrence",
    "graph_pagerank",
    "bpe_train_merges",
]

REPEATS = 2  # repeat 1 builds the per-corpus stores; min() reads warm


def time_op(spark, fn, sf_dir: str) -> tuple[float, int]:
    """Best-of wall seconds (tools/measure.py, count action) and rows."""
    m = measure(spark, fn, sf_dir, action="count", reps=REPEATS)
    return round(m.best_s, 3), m.rows


def measured_growth(lo: str, hi: str) -> tuple[int, int]:
    """Actual input row counts of the two decades (events table, the
    largest input) — ADVICE r8: the nominal gen_scale factor is
    approximate, so exponents must divide by the measured ratio."""
    import duckdb

    counts = []
    for d in (lo, hi):
        path = f"{d}/events.parquet"
        import os

        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        counts.append(
            duckdb.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        )
    return counts[0], counts[1]


def solo_one_main() -> None:
    """Time ONE op at two dirs in THIS process and print one JSON line
    — the per-op worker behind --sf10's fresh-process runs. Internal:
    python tools/scale_curve.py --solo-one <op> <lo> <hi>
    """
    name, lo, hi = sys.argv[2], sys.argv[3], sys.argv[4]
    spark = get_spark(f"scale-solo-{name}")
    from kinesis_to_firehose_spark.registry import over_cap

    op = all_ops()[name]
    n_over = over_cap(op, hi)
    if n_over is not None:
        print(json.dumps({"op": name, "capped": n_over}))
        return
    t_lo, n_lo = time_op(spark, op.fn, lo)
    t_hi, n_hi = time_op(spark, op.fn, hi)
    print(
        json.dumps(
            {
                "op": name,
                "t_lo": t_lo,
                "t_hi": t_hi,
                "rows_lo": n_lo,
                "rows_hi": n_hi,
            }
        )
    )


def _run_solo(name: str, lo: str, hi: str) -> dict:
    """One op timed in a FRESH interpreter/JVM (round-10 verdict
    task: the in-process sf10 stanza recorded 84.9 s for a 62-67 s
    op after 21 preceding curve ops — JVM/GC history was ±35% of the
    measurement, bigger than any effect the stanza exists to show).
    A fresh process pays its own warmup inside repeat 1; min() of
    REPEATS reads the settled number."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, __file__, "--solo-one", name, lo, hi],
        capture_output=True,
        text=True,
    )
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"solo run for {name} produced no JSON: "
        f"{proc.stdout[-500:]} / {proc.stderr[-500:]}"
    )


def sf10_main() -> None:
    """Fourth-decade exposure (round-10 verdict task 5): time the N
    heaviest ops of the MAIN stanza (by sf3 wall) at .testdata/sf10,
    Spark side only — no quadratic DuckDB oracles at this scale; this
    is an ENVELOPE check (does alpha hold another decade?), not a
    parity gate. Each op runs SOLO in a fresh process so the committed
    number is reproducible within normal host noise (round-11 verdict
    task 3). Appends an "sf3_sf10" stanza to SCALE_CURVE.json.

    Usage: python tools/scale_curve.py --sf10 [n_ops] [lo hi out]
    """
    args = [a for a in sys.argv[2:]]
    n_ops = int(args[0]) if args else 5
    lo = args[1] if len(args) > 1 else ".testdata/sf3"
    hi = args[2] if len(args) > 2 else ".testdata/sf10"
    out_path = args[3] if len(args) > 3 else "SCALE_CURVE.json"
    with open(out_path) as f:
        artifact = json.load(f)
    heavy = sorted(
        artifact["ops"], key=lambda n: -artifact["ops"][n]["t_hi"]
    )[:n_ops]
    in_lo, in_hi = measured_growth(lo, hi)
    growth = in_hi / in_lo
    print(
        f"sf3->sf10 stanza: {heavy} at measured growth x{growth:.3f} "
        f"(each op solo in a fresh process)"
    )
    rows = {}
    for name in heavy:
        r = _run_solo(name, lo, hi)
        if "capped" in r:
            rows[name] = {"capped": r["capped"]}
            print(f"{name:28} CAP ({r['capped']} rows over bound)", flush=True)
            continue
        t_lo, t_hi = r["t_lo"], r["t_hi"]
        alpha = math.log(t_hi / t_lo) / math.log(growth)
        rows[name] = {
            "t_lo": t_lo,
            "t_hi": t_hi,
            "ratio": round(t_hi / t_lo, 2),
            "alpha": round(alpha, 2),
            "rows_lo": r["rows_lo"],
            "rows_hi": r["rows_hi"],
            "solo_process": True,
        }
        print(
            f"{name:28} {t_lo:8.2f}s -> {t_hi:8.2f}s  "
            f"x{t_hi / t_lo:5.2f}  alpha={alpha:5.2f}",
            flush=True,
        )
    artifact["sf3_sf10"] = {
        "lo": lo,
        "hi": hi,
        "growth": round(growth, 4),
        "input_rows_lo": in_lo,
        "input_rows_hi": in_hi,
        "ops": rows,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path} (sf3_sf10 stanza)")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--sf10":
        sf10_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--solo-one":
        solo_one_main()
        return
    lo = sys.argv[1] if len(sys.argv) > 1 else ".testdata/sf1"
    hi = sys.argv[2] if len(sys.argv) > 2 else ".testdata/sf3"
    growth_nominal = float(sys.argv[3]) if len(sys.argv) > 3 else 3.0
    out_path = sys.argv[4] if len(sys.argv) > 4 else "SCALE_CURVE.json"
    in_lo, in_hi = measured_growth(lo, hi)
    growth = (in_hi / in_lo) if in_lo and in_hi else growth_nominal
    print(
        f"input rows (events): {in_lo} -> {in_hi}, measured growth "
        f"x{growth:.3f} (nominal x{growth_nominal})"
    )
    rows = {}
    for name in CURVE_OPS:
        # fresh process per op (round-11: the shared-session stanza
        # recorded item_cooccurrence at 25.5 s sf3 where a solo rerun
        # reads 12.5 s — late ops inherit 21 neighbors' JVM/GC debt,
        # the same artifact the sf10 stanza had)
        r = _run_solo(name, lo, hi)
        if "capped" in r:
            rows[name] = {"capped": r["capped"]}
            print(f"{name:28} CAP ({r['capped']} rows over bound)", flush=True)
            continue
        t_lo, n_lo = r["t_lo"], r["rows_lo"]
        t_hi, n_hi = r["t_hi"], r["rows_hi"]
        alpha = math.log(t_hi / t_lo) / math.log(growth)
        # output curvature: near-dup PAIR counts grow super-linearly
        # in any corpus where duplication density rises with size (the
        # honest 100 TB shape) — an op whose runtime grows SLOWER than
        # its own output is sub-linear in the work actually demanded,
        # whatever its row-growth alpha says
        out_alpha = (
            math.log(n_hi / n_lo) / math.log(growth)
            if n_lo and n_hi
            else None
        )
        rows[name] = {
            "t_lo": t_lo,
            "t_hi": t_hi,
            "ratio": round(t_hi / t_lo, 2),
            "alpha": round(alpha, 2),
            "rows_lo": n_lo,
            "rows_hi": n_hi,
            "out_alpha": round(out_alpha, 2) if out_alpha is not None else None,
            "solo_process": True,
        }
        print(
            f"{name:28} {t_lo:8.2f}s -> {t_hi:8.2f}s  "
            f"x{t_hi / t_lo:5.2f}  alpha={alpha:5.2f}  "
            f"out_alpha={out_alpha if out_alpha is None else round(out_alpha, 2)}",
            flush=True,
        )
    artifact = {
        "lo": lo,
        "hi": hi,
        "growth": round(growth, 4),
        "growth_nominal": growth_nominal,
        "input_rows_lo": in_lo,
        "input_rows_hi": in_hi,
        "ops": rows,
    }
    # Carry the sf3_sf10 stanza forward instead of silently dropping
    # it (ADVICE r10): a main-stanza rerun doesn't invalidate the
    # fourth-decade numbers, but they were measured at an older HEAD,
    # so mark them stale until `--sf10` re-stamps.
    import os

    if os.path.exists(out_path):
        with open(out_path) as f:
            prev = json.load(f)
        for key, retarget in (
            ("sf3_sf10", "`make scale-curve-sf10`"),
            ("build_sf10_sf30", "`python tools/dedup_build_curve.py`"),
        ):
            if key in prev:
                stanza = prev[key]
                stanza["stale"] = (
                    f"carried from a previous run; re-run {retarget} "
                    "to re-stamp at this HEAD"
                )
                artifact[key] = stanza
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
