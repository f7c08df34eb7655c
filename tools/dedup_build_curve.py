"""Fifth-decade BUILD-cost probe for the corpus-store dedup plans
(round-11, verdict task 1 option a): the containment and substring
pair/stats computations are now once-per-corpus store builds, but
their build cost showed time-α 1.50 / 1.14 over sf3→sf10 — the
builder's root cause is the scale generator's cross-copy perturbation
ramping rare-shingle document frequency (candidate mass rides Σdf²
until the MAX_SHINGLE_DF cap saturates), which predicts the curve
FLATTENS in the next decade. This tool measures that decade directly:
time the raw plan functions (not the store probes) at a documents-only
sf10 slice vs an sf30 slice, each plan SOLO in a fresh process and
timed by tools/measure.py (count action, best of 2), and append a
"build_sf10_sf30" stanza to SCALE_CURVE.json.

Usage: python tools/dedup_build_curve.py [lo hi out.json]
       python tools/dedup_build_curve.py --one <plan> <lo> <hi>  (worker)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

sys.path.insert(0, ".")

PLANS = ("containment_plan", "substring_plan")
REPEATS = 2  # min(): repeat 1 absorbs JVM/codegen warmup


def _plan_fn(name: str):
    from kinesis_to_firehose_spark.operators import dedup

    return getattr(dedup, name)


def _docs_rows(d: str) -> int:
    import duckdb

    path = f"{d}/documents.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    return duckdb.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def one_main() -> None:
    name, lo, hi = sys.argv[2], sys.argv[3], sys.argv[4]
    from kinesis_to_firehose_spark.session import get_spark
    from tools.measure import measure

    spark = get_spark(f"build-curve-{name}")
    fn = _plan_fn(name)
    out = {"plan": name}
    for key, d in (("lo", lo), ("hi", hi)):
        m = measure(spark, fn, d, action="count", reps=REPEATS)
        out[f"t_{key}"] = round(m.best_s, 3)
        out[f"rows_{key}"] = m.rows
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        one_main()
        return
    lo = sys.argv[1] if len(sys.argv) > 1 else ".testdata/sf10"
    hi = sys.argv[2] if len(sys.argv) > 2 else ".testdata/sf30-docs"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "SCALE_CURVE.json"
    n_lo, n_hi = _docs_rows(lo), _docs_rows(hi)
    growth = n_hi / n_lo
    print(f"documents rows: {n_lo} -> {n_hi}, growth x{growth:.3f}")
    rows = {}
    for name in PLANS:
        proc = subprocess.run(
            [sys.executable, __file__, "--one", name, lo, hi],
            capture_output=True,
            text=True,
        )
        rec = None
        for line in proc.stdout.splitlines():
            if line.strip().startswith("{"):
                rec = json.loads(line)
        if rec is None:
            raise RuntimeError(
                f"worker for {name} produced no JSON: "
                f"{proc.stdout[-500:]} / {proc.stderr[-500:]}"
            )
        alpha = math.log(rec["t_hi"] / rec["t_lo"]) / math.log(growth)
        out_alpha = (
            math.log(rec["rows_hi"] / rec["rows_lo"]) / math.log(growth)
            if rec["rows_lo"] and rec["rows_hi"]
            else None
        )
        rows[name] = {
            "t_lo": rec["t_lo"],
            "t_hi": rec["t_hi"],
            "ratio": round(rec["t_hi"] / rec["t_lo"], 2),
            "alpha": round(alpha, 2),
            "rows_lo": rec["rows_lo"],
            "rows_hi": rec["rows_hi"],
            "out_alpha": (
                round(out_alpha, 2) if out_alpha is not None else None
            ),
            "solo_process": True,
        }
        print(
            f"{name:24} {rec['t_lo']:8.2f}s -> {rec['t_hi']:8.2f}s  "
            f"x{rec['t_hi'] / rec['t_lo']:5.2f}  alpha={alpha:5.2f}",
            flush=True,
        )
    with open(out_path) as f:
        artifact = json.load(f)
    artifact["build_sf10_sf30"] = {
        "lo": lo,
        "hi": hi,
        "growth": round(growth, 4),
        "docs_rows_lo": n_lo,
        "docs_rows_hi": n_hi,
        "note": (
            "store BUILD cost (raw plan, not the warm probe) across the "
            "fifth decade — the df-cap flattening check"
        ),
        "ops": rows,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path} (build_sf10_sf30 stanza)")


if __name__ == "__main__":
    main()
