"""Bench regression diff — compares a BENCH_r{N}.json (or a fresh
`bench.py` output line) against the per-op baseline table in
BASELINE.md and prints one line per op with the ratio, flagging
regressions above THRESHOLD.

Containers hosting successive rounds differ in per-core speed
(observed: a uniform ~1.8x drift across all 93 ops between two
idle-machine runs). When both the bench JSON and BASELINE.md carry a
`host_sentinel_sec` (bench.py's fixed md5 CPU workload), ratios are
also reported normalized by the sentinel ratio, and regressions are
flagged on the NORMALIZED ratio — separating real plan regressions
from host drift.

Usage:
    python regress.py BENCH_r02.json            # diff a driver bench
    python bench.py | python regress.py -       # diff a fresh run
    python regress.py BENCH.json --update       # also rewrite the
                                                # baseline column in
                                                # BASELINE.md in place
    python regress.py --parity                  # driver-gate insurance:
                                                # oracle-parity ONLY for
                                                # ops the driver has
                                                # never sampled (union
                                                # of CORRECTNESS_r*.json)
    python regress.py --parity --sf-dir DIR     # ... at another scale
    python regress.py --scale [BENCH_SF1.json]  # sf1-vs-sf0.1 scale
                                                # envelope check (flags
                                                # super-linear ops)
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

BASELINE = Path(__file__).resolve().parent / "BASELINE.md"
THRESHOLD = 1.3  # flag ops slower than 1.3x baseline (host-normalized)
ROW_RE = re.compile(r"^\| (\w+) \| ([\d.]+|-) \| ([\d.]+|-) \|$")
SENTINEL_RE = re.compile(r"^Host sentinel: ([\d.]+) s$")


def load_baseline() -> tuple[dict[str, float], float | None]:
    out: dict[str, float] = {}
    sentinel = None
    for line in BASELINE.read_text().splitlines():
        m = ROW_RE.match(line.strip())
        if m and m.group(2) != "-":
            out[m.group(1)] = float(m.group(2))
        s = SENTINEL_RE.match(line.strip())
        if s:
            sentinel = float(s.group(1))
    return out, sentinel


def load_bench(arg: str) -> tuple[dict[str, float], float | None]:
    text = sys.stdin.read() if arg == "-" else Path(arg).read_text()
    # pretty-printed artifacts (BENCH_OPS.json / BENCH_SF1.json) parse
    # whole; bench stdout / driver logs carry one JSON line among noise
    try:
        candidates = [json.dumps(json.loads(text))]
    except ValueError:
        candidates = text.splitlines()
    for line in candidates:
        line = line.strip()
        if line.startswith("{"):
            d = json.loads(line)
            # driver BENCH_r{N}.json wraps the bench line under "parsed"
            if "queries" not in d and isinstance(d.get("parsed"), dict):
                d = d["parsed"]
            # a bench line carrying only the headline subset points at
            # the full per-op artifact (driver stdout is tail-truncated
            # at 2000 chars; BENCH_OPS.json is the map of record)
            if d.get("queries_file"):
                f = BASELINE.parent / d["queries_file"]
                if f.exists():
                    d = json.loads(f.read_text())
            return d.get("queries", d), d.get("host_sentinel_sec")
    raise SystemExit("no JSON line found in input")


def never_sampled_ops() -> list[str]:
    """Oracle ops the driver's correctness gate has never ORACLE-
    sampled, by union of every CORRECTNESS_r*.json in the repo root.

    A sample recorded with err=no_oracle was a rows-only check (the
    op had no oracle_sql() at the time); if the op has since gained a
    SQL oracle, that old sample proves nothing about value parity, so
    it must NOT count as sampled (round-3 verdict task 3: the four
    ops upgraded after an r01 no_oracle sample fell through both
    gates)."""
    from kinesis_to_firehose_spark.registry import all_ops

    sampled: set[str] = set()
    for f in sorted(BASELINE.parent.glob("CORRECTNESS_r*.json")):
        for name, rec in json.loads(f.read_text()).items():
            if isinstance(rec, dict) and rec.get("err") == "no_oracle":
                continue
            sampled.add(name)
    return sorted(
        name
        for name, op in all_ops().items()
        if op.sql is not None and name not in sampled
    )


def stale_ops(n_rounds: int) -> list[str]:
    """Oracle ops whose most recent DRIVER oracle sample is ≥ n_rounds
    behind the latest recorded round — plus never-sampled ops. With
    `--all-stale 0` this is the whole oracle registry; any N makes one
    command cover the registry with no driver dependency (round-7
    verdict task 7: `--parity` alone re-checks only never-sampled
    ops, leaving ops last driver-checked rounds ago unswept)."""
    from kinesis_to_firehose_spark.registry import all_ops

    last: dict[str, int] = {}
    latest = 0
    for f in sorted(BASELINE.parent.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f.name)
        rnd = int(m.group(1)) if m else 0
        latest = max(latest, rnd)
        for name, rec in json.loads(f.read_text()).items():
            if isinstance(rec, dict) and rec.get("err") == "no_oracle":
                continue
            last[name] = max(last.get(name, 0), rnd)
    return sorted(
        name
        for name, op in all_ops().items()
        if op.sql is not None
        and (name not in last or latest - last[name] >= n_rounds)
    )


def parity_main() -> None:
    """Run the driver-gate replica over the never-driver-sampled
    oracle ops (default), EVERY oracle op (--all), or never-sampled
    plus ops whose last driver check is ≥N rounds old
    (--all-stale N) — the insurance pass and the scale-stress
    correctness sweep. --budget N puts a watchdog on both engines
    (Spark job-group cancel + DuckDB interrupt) so one runaway op
    costs N seconds, not the sweep."""
    import os
    import time

    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    budget = (
        float(sys.argv[sys.argv.index("--budget") + 1])
        if "--budget" in sys.argv
        else 0.0
    )
    os.environ.setdefault("SPARK_GRAFT_TEST_SF_DIR", sf_dir)
    if budget:
        os.environ["SPARK_GRAFT_ORACLE_TIMEOUT"] = str(budget)
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.session import get_spark
    from tests.oracle_harness import compare
    from tools.measure import Watchdog

    ops = all_ops()
    if "--ops" in sys.argv:
        names = sys.argv[sys.argv.index("--ops") + 1].split(",")
        unknown = [n for n in names if n not in ops]
        if unknown:
            raise SystemExit(f"unknown ops: {unknown}")
        # a known op without an oracle can't be parity-swept — error
        # like the unknown-name case instead of silently stamping a
        # smaller subset than the user asked for (ADVICE r9)
        no_oracle = [n for n in names if ops[n].sql is None]
        if no_oracle:
            raise SystemExit(f"ops without a DuckDB oracle: {no_oracle}")
        todo = sorted(set(names))
        print(f"{len(todo)} named oracle ops at {sf_dir}")
    elif "--all" in sys.argv:
        todo = sorted(n for n, op in ops.items() if op.sql is not None)
        print(f"ALL {len(todo)} oracle ops at {sf_dir}")
    elif "--all-stale" in sys.argv:
        n_rounds = int(sys.argv[sys.argv.index("--all-stale") + 1])
        todo = stale_ops(n_rounds)
        print(
            f"{len(todo)} oracle ops never-sampled or driver-checked "
            f"≥{n_rounds} rounds ago (of "
            f"{sum(1 for o in ops.values() if o.sql)}) at {sf_dir}"
        )
    else:
        todo = never_sampled_ops()
        print(
            f"{len(todo)} never-driver-sampled oracle ops "
            f"(of {sum(1 for o in ops.values() if o.sql)}) at {sf_dir}"
        )
    import duckdb

    from kinesis_to_firehose_spark.registry import over_cap

    spark = get_spark()
    sc = spark.sparkContext
    failures = []
    timeouts = []
    capped = []
    for name in todo:
        # registry scale cap (Op.max_rows): an intrinsically-quadratic
        # baseline op refuses corpora above its documented bound —
        # skip-and-log, never a budget burn (round-6 verdict task 3)
        n_over = over_cap(ops[name], sf_dir)
        if n_over is not None:
            capped.append(name)
            print(
                f"  CAP  {name} ({n_over} rows > "
                f"{ops[name].max_rows[1]} {ops[name].max_rows[0]} cap; "
                f"scale-capped by design)",
                flush=True,
            )
            continue
        t0 = time.monotonic()
        # budget-cancel detection by the SPECIFIC mechanism, not a
        # message substring: the Spark arm records that OUR timer
        # fired before cancelling the job group; the DuckDB arm is the
        # typed InterruptException its watchdog raises. A genuine
        # failure whose message merely contains 'interrupt' stays a
        # FAIL (ADVICE r6).
        wd = Watchdog(sc, budget)
        try:
            with wd:
                wd.enter(name)
                compare(ops[name].fn(spark, sf_dir), ops[name].sql, sf_dir)
            print(f"  ok   {name} ({time.monotonic() - t0:.2f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            # a budget cancel is a TIMEOUT, not a value mismatch —
            # recorded separately so a scale-bounded op doesn't read
            # as a correctness red in the stamp
            if wd.fired.is_set() or isinstance(exc, duckdb.InterruptException):
                timeouts.append(name)
                print(
                    f"  TIMEOUT {name} ({time.monotonic() - t0:.2f}s)",
                    flush=True,
                )
            else:
                failures.append(name)
                print(
                    f"  FAIL {name} ({time.monotonic() - t0:.2f}s): "
                    f"{str(exc)[:200]}",
                    flush=True,
                )
    n_run = len(todo) - len(capped)
    print(
        f"parity: {n_run - len(failures) - len(timeouts)}/{n_run} green"
        + (f"; FAILURES: {failures}" if failures else "")
        + (f"; TIMEOUTS: {timeouts}" if timeouts else "")
        + (f"; SCALE-CAPPED (skipped by design): {capped}" if capped else "")
    )
    if "--all" in sys.argv or "--ops" in sys.argv:
        # stamp the sweep (green or red) against the current operator
        # source hash — tests/test_parity_stamp.py and the pre-commit
        # hook refuse a stale/red stamp, so an unswept aggregate edit
        # can't ship again (round-5 q1 postmortem). Budget timeouts
        # are recorded but don't redden the stamp. A named-subset
        # sweep (--ops) stamps with `partial` so it can't masquerade
        # as a full sweep.
        from tools.parity_stamp import write as stamp_write

        stamp_write(
            sf_dir,
            n_run - len(failures) - len(timeouts),
            n_run,
            failures,
            timeouts,
            capped,
            partial=(
                f"named subset ({len(todo)} ops): {','.join(todo)}"
                if "--ops" in sys.argv
                else None
            ),
        )
        print(f"PARITY_SWEEP.json stamped for {sf_dir}")
    sys.exit(1 if failures else 0)


def scale_main() -> None:
    """Scale-regression check (round-6 verdict task 1): compare the
    sf1 per-op bench (BENCH_SF1.json by default) against the sf0.1
    BASELINE.md table. Row growth sf0.1→sf1 is 10x, so a linear op
    should run ~10x its baseline (cheap ops sit below — fixed session
    overhead dominates them); an op is flagged when its ratio exceeds
    GROWTH × SCALE_SLACK — super-linear blowup, not host drift (drift
    is divided out via the two runs' host sentinels when present).

    Usage: python regress.py --scale [BENCH_SF1.json] [--growth 10]
    """
    # collect positionals, skipping flag VALUES too: `--growth 12
    # BENCH.json` must not take '12' as the bench file (ADVICE r7)
    flags_with_value = {"--growth"}
    args = []
    skip_next = False
    for a in sys.argv[2:]:
        if skip_next:
            skip_next = False
            continue
        if a in flags_with_value:
            skip_next = True
            continue
        if not a.startswith("--"):
            args.append(a)
    bench_file = args[0] if args else "BENCH_SF1.json"
    growth = (
        float(sys.argv[sys.argv.index("--growth") + 1])
        if "--growth" in sys.argv
        else 10.0
    )
    slack = 10.0  # flag only clearly super-linear ops
    sf1, sent1 = load_bench(bench_file)
    base, sent_base = load_baseline()
    drift = sent1 / sent_base if sent1 and sent_base else 1.0
    flagged = []
    rows = []
    for name in sorted(sf1):
        b = base.get(name)
        if b is None or b == 0:
            continue
        ratio = sf1[name] / b / drift
        rows.append((ratio, name, sf1[name], b))
        if ratio > growth * slack:
            flagged.append((name, ratio))
    rows.sort(reverse=True)
    print(
        f"{len(rows)} ops; growth expectation {growth:.0f}x, "
        f"flag > {growth * slack:.0f}x (host drift {drift:.2f}x divided out)"
    )
    print(f"{'op':34} {'sf1':>9} {'sf0.1':>8} {'ratio':>8}")
    for ratio, name, now, b in rows[:20]:
        mark = "  <-- SUPER-LINEAR" if ratio > growth * slack else ""
        print(f"{name:34} {now:9.3f} {b:8.3f} {ratio:7.1f}x{mark}")
    lin = sum(1 for r, *_ in rows if r <= growth * slack)
    print(f"\n{lin}/{len(rows)} ops within the scale envelope")
    if flagged:
        print(f"FLAGGED: {flagged}")
    sys.exit(1 if flagged else 0)


def main() -> None:
    if "--parity" in sys.argv:
        parity_main()
        return
    if "--scale" in sys.argv:
        scale_main()
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    update = "--update" in sys.argv
    if not args:
        raise SystemExit(__doc__)
    bench, sent_now = load_bench(args[0])
    base, sent_base = load_baseline()
    drift = (
        sent_now / sent_base if sent_now and sent_base else None
    )  # >1 → this host is slower than the baseline host
    if drift:
        print(
            f"host sentinel {sent_now:.4f}s vs baseline {sent_base:.4f}s "
            f"→ drift {drift:.2f}x (ratios below are raw | normalized)"
        )
    # Two-pass flagging (round-10 verdict task 4: three rounds of
    # judges re-adjudicated the same 1.3-2x session noise on
    # sub-second ops). Pass 1 collects every op's normalized ratio;
    # pass 2 flags only ops that exceed BOTH the absolute THRESHOLD
    # and 1.5x the run's 90th-percentile ratio — a RELATIVE outlier
    # test: residual host/session drift the sentinel missed moves the
    # whole distribution (and hence the p90) with it, so uniform noise
    # flags nothing while a genuinely regressed plan still sticks out.
    effs: dict[str, float] = {}
    for name in sorted(bench):
        b = base.get(name)
        if b:
            ratio = bench[name] / b
            effs[name] = ratio / drift if drift else ratio
    # Per-op bar: each op is excluded from ITS OWN p90 (ADVICE r12:
    # with small suites int(n*0.9)=n-1 made p90 the worst op's own
    # ratio, so no single regression could ever exceed 1.5x itself).
    p90 = sorted(effs.values())[int(len(effs) * 0.9)] if effs else 1.0
    if effs:
        print(
            f"ratio p90 {p90:.2f}x → flag bar "
            f"max({THRESHOLD}, 1.5·p90-excl-self)"
        )
    regressions = []
    print(f"{'op':34} {'now':>8} {'base':>8} {'ratio':>7}")
    for name in sorted(bench):
        now = bench[name]
        b = base.get(name)
        if b is None:
            print(f"{name:34} {now:8.3f} {'-':>8} {'new':>7}")
            continue
        ratio = now / b if b else float("inf")
        eff = effs.get(name, ratio)
        others = sorted(v for k, v in effs.items() if k != name)
        p90x = others[int(len(others) * 0.9)] if others else 1.0
        flag_bar = max(THRESHOLD, 1.5 * p90x)
        flag = "  <-- REGRESSION" if eff > flag_bar else ""
        norm = f" | {eff:5.2f}x" if drift else ""
        print(f"{name:34} {now:8.3f} {b:8.3f} {ratio:6.2f}x{norm}{flag}")
        if eff > flag_bar:
            regressions.append((name, now, b, eff))
    shared = [k for k in bench if k in base]
    total_now = sum(bench[k] for k in shared)
    total_base = sum(base[k] for k in shared)
    summary = (
        f"\ntotal {sum(bench.values()):.2f}s over {len(bench)} ops; "
        f"shared {len(shared)} ops {total_now:.2f}s vs baseline {total_base:.2f}s"
    )
    if drift and total_base:
        summary += (
            f" (raw {total_now / total_base:.2f}x, "
            f"normalized {total_now / total_base / drift:.2f}x)"
        )
    print(summary)
    # Suite-wide gate (ADVICE r12): a broad regression — many ops a
    # bit slower — inflates the p90 bar with itself and per-op flags
    # miss it. The drift-normalized shared-total ratio can't be
    # gamed that way: fail when the whole suite is > THRESHOLD slower.
    if total_base:
        total_ratio = total_now / total_base / (drift or 1.0)
        if total_ratio > THRESHOLD:
            print(
                f"TOTAL REGRESSION: shared-op total {total_ratio:.2f}x "
                f"baseline (normalized) > {THRESHOLD}x"
            )
            regressions.append(("__total__", total_now, total_base, total_ratio))
    if update and regressions:
        # ADVICE r12: --update used to rewrite BASELINE.md BEFORE the
        # non-zero exit, so a re-anchor could absorb the very broad
        # regression the TOTAL gate was added to catch. Refuse instead;
        # a deliberate re-anchor must first make the run green (or edit
        # BASELINE.md explicitly with provenance notes).
        print(
            "refusing --update: run has regressions "
            f"({', '.join(r[0] for r in regressions)}); baseline NOT rewritten"
        )
    elif update:
        lines = BASELINE.read_text().splitlines(keepends=True)
        seen = set()
        last_row = max(
            (i for i, ln in enumerate(lines) if ROW_RE.match(ln.strip())),
            default=None,
        )
        if last_row is None:
            raise SystemExit("no per-op table found in BASELINE.md")
        for i, ln in enumerate(lines):
            m = ROW_RE.match(ln.strip())
            if m and m.group(1) in bench:
                seen.add(m.group(1))
                lines[i] = (
                    f"| {m.group(1)} | {round(bench[m.group(1)], 3)} "
                    f"| {m.group(3)} |\n"
                )
            if SENTINEL_RE.match(ln.strip()):
                # a bench without a sentinel must blank the line, not
                # keep the previous host's value — a stale sentinel
                # poisons every future normalized ratio
                lines[i] = (
                    f"Host sentinel: {sent_now} s\n"
                    if sent_now
                    else "Host sentinel: unknown (updated from a "
                    "sentinel-less bench)\n"
                )
        new_rows = [
            f"| {name} | {round(bench[name], 3)} | - |\n"
            for name in sorted(bench)
            if name not in seen
        ]
        lines[last_row + 1 : last_row + 1] = new_rows
        BASELINE.write_text("".join(lines))
        print(f"BASELINE.md updated ({len(seen)} rows, {len(new_rows)} new)")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
