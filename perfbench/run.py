"""Repository benchmark: the forwarder (backlog drain, then an open-loop
trickle with injected send failures) and the iterative dedup op set.

Usage, from the repository root:

    python3 perfbench/run.py --workload forwarder --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload dedup_iterative --seed 1 --seconds 6 --trace 1
    python3 perfbench/run.py --refresh-digests   # rewrite expected_digests.json

Each run starts its own Spark session (local[nproc]), generates its
inputs from --seed, warms up untimed, measures, checks every output and
prints one JSON object as the last line of stdout. --trace 0 reports
the end-to-end metrics; --trace 1 the per-layer metrics (README.md maps
each to the end-to-end metric it should move). The run exits non-zero
when an output check fails, and before any work when the program
package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

T_IMPORT = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen  # noqa: E402

WORK = ROOT / ".perfbench"
DIGESTS = Path(__file__).resolve().parent / "expected_digests.json"

# Three of the six driver-iterative dedup/similarity ops, covering both
# modules and both stores (minhash LSH, kNN). dedup_cc_star (the same
# components by another algorithm), dedup_keep_best and mmr_rerank are
# left out to keep a run inside the time budget.
DEDUP_OPS = (
    "dedup_connected_components",
    "graph_pagerank",
    "semantic_clusters",
)

# forwarder shape (records, pages, schedule)
DRAIN_BASE, DRAIN_COPIES, DRAIN_PAGES = 20_000, 3, 12
MIN_DRAINS = 3
# 100 pages leave ten beyond p90. The file source takes at most 4 pages
# a trigger of about 0.55 s; at 0.25 s some runs fell into a lasting backlog.
TRICKLE_PAGES, TRICKLE_PAGE_RECORDS, TRICKLE_INTERVAL_S = 100, 1_000, 0.3
PRIMER_PAGES = 2  # untimed pages that start the trickle query
# fault model: records failing their first send / first two sends. About a
# quarter of the triggers resend once, so p90 falls among them rather than
# on the edge between faulted and clean pages.
FAULTS_ONCE, FAULTS_TWICE = 14, 1
TRICKLE_TIMEOUT_S = 60.0


def process_age_s() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_host(work: Path) -> dict:
    """Size Spark to this host through the program's env overrides and
    keep every file the run writes inside `work`."""
    cpus = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    heap_mib = max(1024, min(4096, mem_kib // 1024 // 8))
    tmp = work / "tmp"
    for d in ("local", "warehouse", "cache", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mib}m",
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        SPARK_GRAFT_CACHE_DIR=str(work / "cache"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell',
    )
    return {"cores": cpus, "ram_mib": mem_kib // 1024, "heap_mib": heap_mib}


def source_id() -> str:
    """The commit when run from a git checkout, else a digest of the
    program and benchmark sources."""
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            if ref_file.exists():
                return ref_file.read_text().strip()
        return ref
    import hashlib

    h = hashlib.sha256()
    for pkg in ("kinesis_to_firehose_spark", "perfbench"):
        for p in sorted((ROOT / pkg).rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode() + p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


# ---- process tree (peak RSS, shutdown) --------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peak_rss() -> None:
    """Restart VmHWM of the JVM and the Python workers (Linux
    clear_refs 5), so the peak covers only what follows."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mib() -> float:
    """Sum of VmHWM over the JVM and the Python workers."""
    total_kib = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            pass
    return total_kib / 1024


def shutdown(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every process the
    session started to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 -- the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---- shared run state -------------------------------------------------


class Run:
    def __init__(self, spark, args, tracer, work: Path):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.work = work
        self.reference_s = 0.0  # untimed oracle work, excluded from setup_s
        self.setup_end = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.problems.append(why)

    def begin_timed(self) -> None:
        self.setup_end = time.perf_counter()
        reset_peak_rss()

    def setup_s(self, age_at_import: float) -> float:
        return age_at_import + (self.setup_end - T_IMPORT) - self.reference_s


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_IMPORT:7.2f}s] {msg}", file=sys.stderr, flush=True)


def read_lines(root: str) -> list[str]:
    out: list[str] = []
    if not os.path.isdir(root):
        return out
    for dirpath, _, files in os.walk(root):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                out.extend(ln.decode() for ln in f.read().splitlines() if ln)
    return out


# ---- forwarder ----------------------------------------------------------

LINE_PREFIX = '{"env":"production","event_id":'


class DeliveryWatcher(threading.Thread):
    """Tails the delivery dir and stamps the moment each page's last
    record became readable."""

    def __init__(self, root: str, page_of: dict[int, int], sizes: dict[int, int]):
        super().__init__(daemon=True)
        self.root = root
        self.page_of = page_of
        self.remaining = dict(sizes)
        self.done_at: dict[int, float] = {}
        self.offsets: dict[str, int] = {}
        self.stop_flag = threading.Event()

    def run(self) -> None:
        while not self.stop_flag.is_set():
            self.scan()
            self.stop_flag.wait(0.01)
        self.scan()

    def scan(self) -> None:
        if not os.path.isdir(self.root):
            return
        now = time.monotonic()
        for stream in os.scandir(self.root):
            for f in os.scandir(stream.path):
                off = self.offsets.get(f.path, 0)
                if off < 0:
                    continue
                size = f.stat().st_size
                if size <= off:
                    if size and off == size:
                        self.offsets[f.path] = -1  # closed and fully read
                    continue
                with open(f.path, "rb") as fh:
                    fh.seek(off)
                    chunk = fh.read(size - off)
                end = chunk.rfind(b"\n") + 1
                self.offsets[f.path] = off + end
                for ln in chunk[:end].splitlines():
                    page = self.page_of.get(event_id(ln.decode()))
                    if page is None:
                        continue
                    self.remaining[page] -= 1
                    if self.remaining[page] == 0:
                        self.done_at[page] = now

    def all_done(self) -> bool:
        return len(self.done_at) == len(self.remaining)


def counters(sc):
    return (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))


def event_id(line: str) -> int:
    return int(line[len(LINE_PREFIX) : line.index(",", len(LINE_PREFIX))])


def expected_lines(run: Run, *srcs: str) -> list[str]:
    """The lines decoded_stream yields for `srcs` on the static path."""
    from kinesis_to_firehose_spark.streaming.pipeline import EVENT_SCHEMA, decoded_stream

    t0 = time.perf_counter()
    df = decoded_stream(run.spark.read.schema(EVENT_SCHEMA).parquet(*srcs))
    lines = df.select("line").toPandas()["line"].tolist()
    run.reference_s += time.perf_counter() - t0
    return lines


def drain(run: Run, src: str, tag: str):
    """One backlog drain: start() until every slice is delivered."""
    from perfbench.transport import FaultyTransportFactory
    from kinesis_to_firehose_spark.streaming.pipeline import run_pipeline

    d = run.work / tag
    acc = counters(run.spark.sparkContext)
    factory = FaultyTransportFactory(str(d / "out"), run.seed, -1, -1, acc)
    t0 = time.perf_counter()
    q = run_pipeline(
        run.spark, src, str(d / "out"), str(d / "ck"), str(d / "dl"), transport_factory=factory
    )
    q.processAllAvailable()
    elapsed = time.perf_counter() - t0
    q.stop()
    return elapsed, str(d / "out"), str(d / "dl")


def check_delivery(run: Run, want: list[str], out: str, dl: str, what: str) -> None:
    run.attempted += len(want)
    run.fail(checks.delivery_errors(want, read_lines(out)), f"{what}: records missing, duplicated or altered")
    run.fail(len(read_lines(dl)), f"{what}: dead letters")


def fault_thresholds(records: list[str], seed: int) -> tuple[int, int]:
    keys = sorted(gen.fault_key(seed, (r + "\n").encode()) for r in records)
    return keys[FAULTS_ONCE + FAULTS_TWICE - 1], keys[FAULTS_TWICE - 1]


def trickle(run: Run, pages: list, trickle_lines: list[str]):
    """Open loop: page i is due at t0 + i * interval whatever the
    pipeline does; a page's latency runs from its due time until its
    last record is readable in the delivery dir."""
    from perfbench.transport import FaultyTransportFactory
    from kinesis_to_firehose_spark.streaming.pipeline import run_pipeline

    d = run.work / "trickle"
    src = d / "src"
    src.mkdir(parents=True)
    measured = pages[PRIMER_PAGES:]
    page_of, sizes = {}, {}
    for i, p in enumerate(measured):
        sizes[i] = p.num_rows
        for eid in p.column("event_id").to_pylist():
            page_of[eid] = i
    once_at, twice_at = fault_thresholds(trickle_lines, run.seed)
    acc = counters(run.spark.sparkContext)
    for i in range(PRIMER_PAGES):
        gen.write_page(pages[i], str(src), i)
    out = str(d / "out")
    factory = FaultyTransportFactory(out, run.seed, once_at, twice_at, acc)
    q = run_pipeline(run.spark, str(src), out, str(d / "ck"), str(d / "dl"), transport_factory=factory)
    q.processAllAvailable()  # primer delivered: the query is running

    watcher = DeliveryWatcher(out, page_of, sizes)
    watcher.start()
    t0 = time.monotonic()
    lags = []
    for i, page in enumerate(measured):
        due = t0 + i * TRICKLE_INTERVAL_S
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        gen.write_page(page, str(src), PRIMER_PAGES + i)
        lags.append(time.monotonic() - due)
    deadline = time.monotonic() + TRICKLE_TIMEOUT_S
    while not watcher.all_done() and time.monotonic() < deadline:
        time.sleep(0.02)
    watcher.stop_flag.set()
    watcher.join()
    q.processAllAvailable()
    qid = str(q.id)
    q.stop()
    latencies = [
        watcher.done_at[i] - (t0 + i * TRICKLE_INTERVAL_S) for i in sorted(watcher.done_at)
    ]
    stats = {
        "latencies": latencies,
        "lag_max": max(lags),
        "put": [a.value for a in acc],
        "qid": qid,
    }
    return stats, out, str(d / "dl")


def static_path(run: Run, src: str) -> None:
    """Traced only: the forwarder's per-record layers on the static path
    over the drain backlog (second of two runs each, so JIT is warm)."""
    from kinesis_to_firehose_spark.streaming.firehose import firehose_foreach_batch
    from kinesis_to_firehose_spark.streaming.pipeline import EVENT_SCHEMA, decoded_stream
    from perfbench.transport import null_transport_factory

    tr = run.tracer
    events = run.spark.read.schema(EVENT_SCHEMA).parquet(src)
    decoded = decoded_stream(events)
    steps = (
        ("source.scan", lambda: events.write.format("noop").mode("overwrite").save()),
        ("decode.serialize", lambda: decoded.write.format("noop").mode("overwrite").save()),
        (
            "sink.handoff",
            lambda: firehose_foreach_batch(
                str(run.work / "static-null"), transport_factory=null_transport_factory
            )(decoded, 0),
        ),
        (
            "sink.deliver",
            lambda: firehose_foreach_batch(
                str(run.work / "static-out"), dead_letter_dir=str(run.work / "static-dl")
            )(decoded, 0),
        ),
    )
    for name, step in steps:
        step()
        with tr.span(name):
            step()


def forwarder(run: Run) -> dict:
    tr = run.tracer
    base = gen.events(DRAIN_BASE)
    backlog = gen.replayed(base, DRAIN_COPIES)
    src = run.work / "drain-src"
    src.mkdir()
    for i, page in enumerate(gen.pages(backlog, DRAIN_PAGES, run.seed)):
        gen.write_page(page, str(src), i)
    # the trickle replays further copies, so its event ids follow the backlog's
    n_drain = backlog.num_rows
    n_trickle = (TRICKLE_PAGES + PRIMER_PAGES) * TRICKLE_PAGE_RECORDS
    copies = -(-(n_drain + n_trickle) // DRAIN_BASE)
    trickle_table = gen.replayed(base, copies).slice(n_drain, n_trickle)
    tpages = gen.pages(trickle_table, TRICKLE_PAGES + PRIMER_PAGES, run.seed + 1)
    tsrc_all = run.work / "trickle-ref"
    tsrc_all.mkdir()
    for i, page in enumerate(tpages):
        gen.write_page(page, str(tsrc_all), i)
    log("inputs written")

    # warm-up: one untimed drain, then the reference lines (static
    # path, untimed) for both inputs; the warm-up output is checked too
    _, out, dl = drain(run, str(src), "warm")
    want, trickle_want = [], []
    for line in expected_lines(run, str(src), str(tsrc_all)):
        (want if event_id(line) < n_drain else trickle_want).append(line)
    check_delivery(run, want, out, dl, "warm-up drain")
    log("warm-up drain checked")

    if tr.enabled:
        from perfbench.trace import progress_listener

        listener = progress_listener()
        run.spark.streams.addListener(listener)
        first_stage = tr.last_stage_id()
    run.begin_timed()
    t_timed = time.perf_counter()
    rates, drain_s = [], []
    k = 0
    while k < MIN_DRAINS or time.perf_counter() - t_timed < run.seconds:
        with tr.span("drain"):
            elapsed, out, dl = drain(run, str(src), f"drain{k}")
        rates.append(len(want) / elapsed)
        drain_s.append(elapsed)
        t_check = time.perf_counter()
        check_delivery(run, want, out, dl, f"drain {k}")
        log(f"drain {k}: {elapsed:.2f}s, checked")
        t_timed += time.perf_counter() - t_check  # checks do not count toward --seconds
        k += 1
    # the trickle follows the drains: right after the cold warm-up drain
    # its triggers were still slow enough to build a backlog
    with tr.span("trickle"):
        stats, tout, tdl = trickle(run, tpages, trickle_want)
    peak = peak_rss_mib()
    log("trickle done")
    check_delivery(run, trickle_want, tout, tdl, "trickle")
    retried = stats["put"][2]
    expected_retries = FAULTS_ONCE + 2 * FAULTS_TWICE
    run.fail(
        abs(retried - expected_retries),
        f"trickle: {retried} records resent, the fault model says {expected_retries}",
    )
    lat = stats["latencies"]
    log("trickle checked; page latency deciles " + " ".join(f"{checks.percentile(lat, q):.2f}" for q in range(10, 101, 10)))
    if len(lat) < TRICKLE_PAGES:
        run.fail(TRICKLE_PAGES - len(lat), "trickle: pages never completed")

    if tr.enabled:
        totals = dict(tr.stage_totals(first_stage))
        static_path(run, str(src))
        calls, recs, _, put_s = stats["put"]
        totals.update(
            {
                "sink.put_calls": calls,
                "sink.put_records": recs,
                "sink.records_per_put": recs / calls if calls else 0.0,
                "sink.put_s": put_s,
                "sink.retried_records": retried,
                "sink.dead_letters": len(read_lines(tdl)),
                "gen.lag_s": stats["lag_max"],
                "gen.pages": len(lat),
            }
        )
        time.sleep(0.5)  # listener events arrive asynchronously
        events = [e for e in listener.events.get(stats["qid"], []) if e[0] > 0]
        totals["trigger.count"] = len(events)
        totals["trigger.rows_mean"] = sum(e[0] for e in events) / len(events) if events else 0.0
        for key, metric in (
            ("addBatch", "add_batch_s"),
            ("walCommit", "wal_commit_s"),
            ("commitOffsets", "commit_offsets_s"),
            ("latestOffset", "latest_offset_s"),
            ("queryPlanning", "query_planning_s"),
            ("getBatch", "get_batch_s"),
        ):
            totals[f"trigger.{metric}"] = sum(e[1].get(key, 0) for e in events) / 1e3
        for name in ("source.scan", "decode.serialize", "sink.handoff", "sink.deliver"):
            totals[f"{name}_s"] = tr.totals[f"{name}_s"]
        tr.overhead_s += listener.overhead_s
        return per_layer(run, totals)

    return {
        "records_per_s": statistics.median(rates),
        "latency_p50_s": checks.percentile(lat, 50),
        "latency_p90_s": checks.percentile(lat, 90),
        "pass_s": statistics.median(drain_s),
        "peak_rss_mib": peak,
    }


# ---- dedup_iterative ----------------------------------------------------


def op_order(seed: int) -> list[str]:
    import numpy as np

    rng = np.random.default_rng([seed, 4])
    return [DEDUP_OPS[i] for i in rng.permutation(len(DEDUP_OPS))]


def store_dirs(run: Run) -> set[str]:
    root = run.work / "cache"
    return {p.name for p in root.iterdir() if ".tmp." not in p.name}


def trace_program_calls(run: Run) -> None:
    """Traced only: route the program's own calls to tables.load and
    store_cache.ensure_store through spans."""
    from kinesis_to_firehose_spark.sources import store_cache, tables

    tr = run.tracer

    def wrap_load(load):
        def traced_load(*a, **kw):
            with tr.span("tables.load", jobs=True):
                return load(*a, **kw)

        return traced_load

    building = []  # a store build may ensure the stores it derives from

    def wrap_ensure(ensure):
        def traced_ensure(path, build, *a, **kw):
            def timed_build(tmp):
                tr.count("store.builds")
                if building:
                    return build(tmp)
                building.append(path)
                try:
                    with tr.span("store.build"):
                        build(tmp)
                finally:
                    building.pop()

            return ensure(path, timed_build, *a, **kw)

        return traced_ensure

    tr.wrap_module_function(tables, "load", wrap_load)
    tr.wrap_module_function(store_cache, "ensure_store", wrap_ensure)


def check_op(run: Run, name: str, pdf, expected: dict) -> None:
    t0 = time.perf_counter()
    digest = checks.canonical_digest(pdf)
    run.reference_s += time.perf_counter() - t0
    run.attempted += 1
    run.fail(int(digest != expected[name]["digest"]), f"{name}: digest differs from oracle")


def dedup_iterative(run: Run) -> dict:
    from kinesis_to_firehose_spark.registry import all_ops

    tr = run.tracer
    sf_dir = str(run.work / "corpus")
    gen.write_corpus(sf_dir)
    ops = all_ops()
    order = op_order(run.seed)
    expected = json.loads(DIGESTS.read_text())
    trace_program_calls(run)

    # warm-up and check pass: builds the stores, compares each op's
    # canonical digest with the committed DuckDB-oracle digest
    out_rows = 0
    for name in order:
        pdf = ops[name].fn(run.spark, sf_dir).toPandas()
        check_op(run, name, pdf, expected)
        out_rows += len(pdf)
    log("warm-up pass checked")
    setup_totals = {k: tr.totals.get(k, 0.0) for k in ("store.builds", "store.build_s")}
    tr.totals.clear()
    stores = store_dirs(run)

    first_stage = tr.last_stage_id() if tr.enabled else -1
    run.begin_timed()
    t_timed = time.perf_counter()
    passes, op_s = [], []
    while not passes or time.perf_counter() - t_timed < run.seconds:
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            with tr.span("ops.build", jobs=True, op=name):
                df = ops[name].fn(run.spark, sf_dir)
            with tr.span("ops.action", jobs=True, op=name):
                df.write.format("noop").mode("overwrite").save()
            op_s.append(time.perf_counter() - t0)
            log(f"{name}: {op_s[-1]:.2f}s")
        passes.append(time.perf_counter() - t_pass)
    peak = peak_rss_mib()
    new_stores = store_dirs(run) - stores
    run.fail(len(new_stores), "stores built during timed passes")

    if tr.enabled:
        totals = tr.stage_totals(first_stage)
        for k in ("ops.build_s", "ops.build_jobs", "ops.action_s", "ops.action_jobs",
                  "tables.load_s", "tables.load_jobs"):
            totals[k] = tr.totals.get(k, 0.0) / len(passes)
        totals.update(setup_totals)
        return per_layer(run, totals)

    pass_s = statistics.median(passes)
    return {
        "records_per_s": out_rows / pass_s,
        "latency_p50_s": checks.percentile(op_s, 50),
        "latency_p90_s": checks.percentile(op_s, 90),
        "pass_s": pass_s,
        "peak_rss_mib": peak,
    }


# ---- metrics ------------------------------------------------------------

WORKLOADS = {"forwarder": forwarder, "dedup_iterative": dedup_iterative}


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def per_layer(run: Run, totals: dict) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    out = {}
    for m in spec()["per_layer"]:
        out[m["name"]] = float(totals.get(m["name"], 0.0))
    out["trace.overhead_s"] = run.tracer.overhead_s
    return out


def refresh_digests() -> None:
    """Recompute expected_digests.json from the registry's DuckDB
    oracle SQL over the generated corpus (never from Spark output)."""
    import duckdb

    from kinesis_to_firehose_spark.registry import all_ops

    sf_dir = WORK / "refresh-corpus"
    shutil.rmtree(sf_dir, ignore_errors=True)
    gen.write_corpus(str(sf_dir))
    ops = all_ops()
    out = {}
    for name in DEDUP_OPS:
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        pdf = con.sql(ops[name].sql).df()
        out[name] = {"rows": len(pdf), "digest": checks.canonical_digest(pdf)}
        print(name, out[name], file=sys.stderr)
    DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(sf_dir, ignore_errors=True)


def main() -> int:
    age_at_import = process_age_s() - (time.perf_counter() - T_IMPORT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-digests", action="store_true")
    args = ap.parse_args()
    try:
        import kinesis_to_firehose_spark  # noqa: F401
    except ImportError:
        print("perfbench: the kinesis_to_firehose_spark package is not here", file=sys.stderr)
        return 3
    if args.refresh_digests:
        refresh_digests()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not 0 <= args.seed < 2**63:
        ap.error("--seed must be a non-negative 64-bit integer")

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    host = configure_host(work)
    from kinesis_to_firehose_spark.session import get_spark
    from perfbench.trace import Tracer

    spark = get_spark("perfbench")
    log("session up")
    tracer = Tracer(spark, bool(args.trace))
    run = Run(spark, args, tracer, work)
    env = dict(
        host,
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
        spark=spark.version,
        python=platform.python_version(),
        source=source_id(),
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
    )
    try:
        metrics = WORKLOADS[args.workload](run)
        if not args.trace:
            metrics["setup_s"] = run.setup_s(age_at_import)
            metrics["ok_share"] = 1 - run.failed / max(run.attempted, 1)
        tracer.write(str(WORK / f"trace-{args.workload}-{args.seed}.json"))
    finally:
        log("measured; shutting down")
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("shut down")

    units = {m["name"]: m["unit"] for m in spec()["end_to_end"] + spec()["per_layer"]}
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}", file=sys.stderr)
    for why in run.problems:
        print(f"CHECK FAILED: {why}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if not run.problems else 1


if __name__ == "__main__":
    sys.exit(main())
