"""Plan-shape assertions (SURVEY.md §5e): filters push to parquet,
columns prune, dims broadcast, hot paths stay in codegen."""

from __future__ import annotations

import pytest

from kinesis_to_firehose_spark.plans.explain import (
    has_broadcast_join,
    pushed_filters,
    read_schemas,
    wholestage_codegen_ids,
)
from kinesis_to_firehose_spark.registry import all_ops

SF = "/root/testdata/sf0.01"
OPS = all_ops()


def test_q6_filters_pushed_to_scan(spark):
    df = OPS["q6_forecast_revenue"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert "l_shipdate" in pushed
    assert "l_quantity" in pushed or "l_discount" in pushed


def test_q6_column_pruning(spark):
    df = OPS["q6_forecast_revenue"].fn(spark, SF)
    schemas = read_schemas(df)
    # only the 4 needed columns are read, not the 11-column table
    assert "l_extendedprice" in schemas
    assert "l_returnflag" not in schemas
    assert "l_orderkey" not in schemas


def test_q3_broadcasts_customer(spark):
    # at test SF customer is far under the threshold → auto-broadcast
    assert has_broadcast_join(OPS["q3_shipping_priority"].fn(spark, SF))


def test_q5_broadcasts_dims(spark):
    assert has_broadcast_join(OPS["q5_local_supplier"].fn(spark, SF))


def test_scaling_tables_not_force_broadcast(spark):
    """VERDICT r1 #2: customer/supplier/part_avg grow linearly with the
    facts, so their joins must follow the size estimate, not a forced
    hint. Lowering the threshold simulates the 100× scale-up where the
    estimate exceeds it: those joins must stop broadcasting, while
    q5's fixed-size nation/region dims keep their explicit hints."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for op in ("q3_shipping_priority", "q10_returned_items", "q17_small_qty"):
            plan = physical_plan(OPS[op].fn(spark, SF))
            # nation (25 rows) may keep its explicit hint in q10; the
            # scaling joins must all be shuffle joins
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, op
        q5 = physical_plan(OPS["q5_local_supplier"].fn(spark, SF))
        assert q5.count("BroadcastExchange") <= 2  # nation + region only
        assert "SortMergeJoin" in q5 or "ShuffledHashJoin" in q5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_decode_is_single_codegen_stage(spark):
    df = OPS["decode_parse_enhance"].fn(spark, SF)
    # narrow decode: no exchange, one codegen span over the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert wholestage_codegen_ids(df) >= 1


def test_filter_allowlist_pushdown(spark):
    df = OPS["filter_allowlist"].fn(spark, SF)
    assert "event_type" in pushed_filters(df)


def test_cobucketed_join_has_no_exchange(spark):
    """Write lineitem+orders bucketed by orderkey: the fact-fact join
    must then run with ZERO Exchange operators (the shuffle moved to
    write time, once) — the co-location story that matters at 100 TB."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan
    from kinesis_to_firehose_spark.sources.bucketed import (
        cobucketed_join,
        write_bucketed,
    )

    l = write_bucketed(spark, SF, "lineitem", "l_orderkey", 4)
    o = write_bucketed(spark, SF, "orders", "o_orderkey", 4)
    # at test SF the planner would broadcast tiny orders (which also
    # disables bucket use); lower the threshold to exercise the
    # at-scale shape where neither side fits an executor
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cobucketed_join(spark, l, o, "l_orderkey", "o_orderkey")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # sanity: same row count as the shuffled join of the raw parquet
    from kinesis_to_firehose_spark.sources.tables import load

    li = load(spark, "lineitem", SF)
    od = load(spark, "orders", SF)
    raw = li.join(od, li["l_orderkey"] == od["o_orderkey"]).count()
    assert joined.count() == raw


def test_drop_stats_single_raw_pass(spark):
    """The four drop_stats views must re-aggregate the materialized
    pre-agg, never replay the raw-events scan per branch."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["drop_stats"].fn(spark, SF))
    # one raw scan feeding the pre-agg; GROUPING SETS fans the views
    # out from the aggregated intermediate, not from re-scans
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_decontaminate_joins_broadcast(spark):
    """The eval-gram semi-join and the contaminated-id anti-join must
    both broadcast (eval set and hit set are fixed-size relative to
    the corpus); a SortMergeJoin here would shuffle every gram of the
    full corpus at 100 TB."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["decontaminate_ngram"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join on
    (user_id, bucket); a raw inequality join would fall back to
    BroadcastNestedLoopJoin, which cannot scale past a broadcastable
    side."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["interval_join"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_aqe_splits_skewed_join(spark):
    """§6 skew posture: a hot key (90% of the fact side) must trigger
    AQE's skew-join split instead of pinning one task."""
    from pyspark.sql import functions as F

    n = 400_000
    fact = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        df = fact.join(dim, "k")
        # collect() (not count()) so the INSPECTED QueryExecution is the
        # one that ran — count() wraps the plan in its own execution
        assert len(df.collect()) > 0
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_q21_aggregate_form_scans_lineitem_once(spark):
    """r12 re-plan: the EXISTS/NOT EXISTS pair is computed as
    per-order aggregates (pair groupBy + okey windows), so the plan
    must scan lineitem exactly ONCE (the semi/anti join form scanned
    it three times and replayed the lineitem⋈orders join twice) and
    must never fall into a nested-loop over the fact table. The
    windows must reuse the join's okey partitioning (no exchange
    between the pair aggregate and the windows)."""
    import re

    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["q21_waiting_suppliers"].fn(spark, SF))
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan[:3000]
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_resample_windows_are_partitioned(spark):
    """Forward fill must run per-key: an empty Window partition spec
    (the classic move-everything-to-one-task trap) is a bug."""
    import re

    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["resample_gapfill"].fn(spark, SF))
    windows = re.findall(r"Window(?:GroupLimit)? \[[^\]]*\], \[([^\]]*)\]", plan)
    assert windows, "expected a Window node in the resample plan"
    for partition_spec in windows:
        assert partition_spec.strip(), "unpartitioned Window in plan"


def test_bm25_filters_tokens_before_shuffle(spark):
    """BM25's tf table must be built from tokens FILTERED to query
    terms by a broadcast semi-join BEFORE the groupBy shuffle — the
    tf aggregation then shuffles query-term matches only, never the
    full token explode. (Doc-length is the one deliberate corpus-wide
    aggregate.)"""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["bm25_search"].fn(spark, SF))
    assert "LeftSemi" in plan  # query-term prefilter present
    # every non-scalar join is broadcast, not shuffle
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_plan_digest_counts(spark):
    """The digest must reduce plans to the right counters: the narrow
    decode op is zero-shuffle single-scan; q5 is broadcast-dims with
    at most two shuffles; the committed PLAN_DIGEST.json carries the
    same keys for round-over-round diffing."""
    import json
    from pathlib import Path

    from kinesis_to_firehose_spark.plans.digest import plan_digest

    d = plan_digest(OPS["decode_parse_enhance"].fn(spark, SF))
    assert d["exchanges"] == 0 and d["file_scans"] == 1
    assert d["cartesian_products"] == 0 and d["nested_loop_joins"] == 0

    q5 = plan_digest(OPS["q5_local_supplier"].fn(spark, SF))
    assert q5["broadcast_hash_joins"] == 5
    assert q5["exchanges"] <= 2
    assert q5["sort_merge_joins"] == 0

    committed = json.loads(
        (Path(__file__).resolve().parents[1] / "PLAN_DIGEST.json").read_text()
    )
    assert set(committed["decode_parse_enhance"]) == set(d)


def test_bucketed_documents_per_doc_pipeline_no_exchange(spark):
    """documents bucketed by doc_id: the per-doc metric family
    (narrow metrics ∪ explode+groupBy(doc_id) aggregates, joined back
    on doc_id — the quality_fused shape) must plan with ZERO
    exchanges: the bucketed scan reports hash partitioning on doc_id,
    which survives narrow maps AND the token explode, so the groupBy,
    the window, and the join all reuse it. This is the write-once
    shuffle-never option for every per-doc curation op at 100 TB."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import TOK_EXPR
    from kinesis_to_firehose_spark.plans.explain import physical_plan
    from kinesis_to_firehose_spark.sources.bucketed import write_bucketed
    from kinesis_to_firehose_spark.sources.tables import load

    t = write_bucketed(spark, SF, "documents", "doc_id", 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must rely on co-partitioning
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        d = spark.table(t)
        narrow = d.select(
            "doc_id", F.size(F.expr(TOK_EXPR)).alias("n_tokens")
        )
        toks = d.select(
            "doc_id", F.explode(F.expr(TOK_EXPR)).alias("tok")
        )
        agg = toks.groupBy("doc_id").agg(
            F.countDistinct("tok").alias("n_distinct")
        )
        joined = narrow.join(agg, "doc_id")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan[:3000]
        assert "SortMergeJoin" in plan
        # correctness: same result as the unbucketed path
        raw = load(spark, "documents", SF)
        want = (
            raw.select("doc_id", F.size(F.expr(TOK_EXPR)).alias("n_tokens"))
            .join(
                raw.select(
                    "doc_id", F.explode(F.expr(TOK_EXPR)).alias("tok")
                )
                .groupBy("doc_id")
                .agg(F.countDistinct("tok").alias("n_distinct")),
                "doc_id",
            )
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_shuffle_advisor_arithmetic_and_aqe_coalesce(spark):
    """The advisor rounds shuffled-bytes/target UP within clamps, and
    the over-provisioned direction it relies on is safe because AQE
    demonstrably coalesces: a tiny aggregate run at 32 shuffle
    partitions executes with far fewer after coalescing."""
    from kinesis_to_firehose_spark.plans.shuffle import (
        TARGET_SHUFFLE_PARTITION_BYTES as T,
    )
    from kinesis_to_firehose_spark.plans.shuffle import (
        advise_for_tables,
        advise_shuffle_partitions,
        table_bytes,
    )

    # arithmetic: joins move all input; aggs ~1%; narrow none
    assert advise_shuffle_partitions(100 * T, "join") == 100
    assert advise_shuffle_partitions(100 * T, "agg") == 1
    assert advise_shuffle_partitions(0, "narrow") == 1
    assert advise_shuffle_partitions(10**18, "join", max_partitions=500) == 500
    # 100 TB sanity: full-shuffle join ⇒ ~500k partitions (SURVEY §6)
    assert advise_shuffle_partitions(100 * 10**12, "join") == 476838
    import pytest as _pytest

    with _pytest.raises(KeyError):
        advise_shuffle_partitions(1, "bogus")

    # table-bytes path: tiny testdata advises the minimum
    assert table_bytes(SF, ("lineitem", "orders")) > 0
    assert advise_for_tables(SF, ("lineitem", "orders"), "join") == 1

    # AQE coalesce in action: executed plan shows a coalesced
    # AQEShuffleRead with fewer partitions than the configured 32
    from kinesis_to_firehose_spark.sources.tables import load

    df = (
        load(spark, "orders", SF)
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final, final[:2000]


def _unpartitioned_window_specs(plan_text: str) -> list[str]:
    """Window specs with NO partition columns in a plan dump.

    In both simple and formatted plan text every window expression
    carries `windowspecdefinition(partCols..., orderCols..., frame)`.
    Partition columns are bare expressions; order columns end in
    ASC/DESC [NULLS ...]; the frame starts with specifiedwindowframe.
    So a spec whose FIRST argument is an order item or the frame has
    an empty partition spec — the move-everything-to-one-task shape
    WindowExec warns about. The first argument ends at the first comma
    outside parentheses, so an order item that is a function call
    (`coalesce(a, 0) ASC`) is read whole."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan_text):
        depth, end = 0, len(plan_text)
        for i in range(m.end(), len(plan_text)):
            c = plan_text[i]
            if c == "(":
                depth += 1
            elif c in ",)" and depth == 0:
                end = i
                break
            elif c == ")":
                depth -= 1
        first = plan_text[m.end() : end].strip()
        if first.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$", first
        ):
            out.append(first)
    return out


def test_window_spec_parser_reads_function_call_order_items():
    """A flat split at ", " cut `coalesce(a, 0) ASC NULLS FIRST` to
    `coalesce(a` and missed this unpartitioned window."""
    frame = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    plan = (
        "Window [row_number() windowspecdefinition(coalesce(a#1, 0) ASC "
        f"NULLS FIRST, {frame}) AS rn#2], [], [coalesce(a#1, 0) ASC NULLS FIRST]"
    )
    assert _unpartitioned_window_specs(plan) == ["coalesce(a#1, 0) ASC NULLS FIRST"]
    partitioned = plan.replace(
        "windowspecdefinition(", "windowspecdefinition(coalesce(k#3, 0), "
    )
    assert _unpartitioned_window_specs(partitioned) == []
    assert _unpartitioned_window_specs(f"windowspecdefinition({frame})") == [frame]


@pytest.fixture(scope="module")
def batch_plans(spark):
    """Physical plan of every registered batch op, built once and
    shared by the plan sweeps below."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    return {
        name: physical_plan(op.fn(spark, SF))
        for name, op in sorted(OPS.items())
        if not op.streaming
    }


def test_no_accidental_cartesian_or_nested_loop(batch_plans):
    """Sweep EVERY registered batch op's physical plan: a
    CartesianProduct or BroadcastNestedLoopJoin is only legal where a
    deliberately tiny side is crossed in (ANN query/centroid fan-outs,
    1-row scalar aggregates). Anything else is an accidental
    scale-killer and fails here."""
    DELIBERATE = {
        # tiny broadcast cross joins by design:
        "ann_bruteforce_topk",   # 5 query vectors × candidates
        "ann_ivf_topk",          # centroid list × vectors
        "ann_ivf_trained_topk",  # same, trained centroids
        "ann_ivfpq_topk",        # same coarse centroid list × vectors
        "ann_index_search",      # stored centroid list × query vectors
        "ann_index_probe",       # same stored-centroid cross, epoch store
        "ann_lsh_topk",          # query-side fan-out
        "dedup_embedding",       # block-id grid
        "dedup_embedding_lsh",   # bucketed variant of the same kernel
        "q15_top_supplier",      # 1-row MAX(total_revenue)
        "q22_dormant_customers", # 1-row AVG(c_acctbal)
        "tfidf_top_terms",       # 1-row corpus doc count
        "q11_important_parts",   # 1-row value threshold
        "equidepth_histogram",   # 1-row decile-edge aggregate
        "value_outliers",        # per-type moments (≤5 rows)
        "embedding_quantize",    # per-vector scale cross
        "mm_ann_search",         # 3 media query vectors × candidates
        "epoch_shuffle",         # SHUFFLE_EPOCHS-row (3) epoch grid × docs
        "domain_mix_rebalance",  # 1-row total/source-count aggregate
        "unigram_logprob_score", # 1-row corpus token count
        "ppl_bucket_mix",        # composes unigram_logprob_score (same 1-row cross)
        "bm25_search",           # 1-row (N, avgdl) scalar aggregate
        "hybrid_search_rrf",     # 5 query vectors × candidates (sem arm)
        "graph_pagerank",        # 1-row n / dangling-mass scalar crosses
        "bigram_logprob_score",  # 1-row corpus token count
        "heavy_hitters_mg",      # 1-row total-count threshold scalar
        "contrastive_pairs",     # 1-row corpus-size scalar for the mod draw
        "rfm_segments",          # 1-row ref-date + quintile-edge scalars
        "collocations_pmi",      # 1-row corpus token count for PMI
        "fk_integrity_audit",    # per-edge 1-row total × orphan summaries
        "assoc_rules",           # 1-row basket-total scalar
        "bootstrap_ci",          # 1-row point/ci_lo/ci_hi scalar crosses
        "quantile_normalize",    # 1-row global-count scalar
        "keyness_terms",         # 1-row grand-total scalar cross
        "doc_tf_search",         # 5 query docs × candidates
        "ann_int8_topk",         # 5 query vectors × candidates
        "benford_audit",         # 1-row grand-total scalar cross
        "neyman_allocation",     # 1-row weight-total / remainder crosses
    }
    bad = [
        name
        for name, plan in batch_plans.items()
        if name not in DELIBERATE
        and ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan)
    ]
    assert not bad, f"accidental cartesian/NL joins in: {bad}"


def test_every_unpartitioned_window_is_allowlisted(batch_plans):
    """r12 verdict #7: sweep EVERY registered batch op's plan — an
    unpartitioned Window moves all rows to one task, so each one must
    sit on a provably BOUNDED input (the allowlist, reviewed below);
    a new one anywhere else fails here before it ships."""
    # every entry is bounded by construction — row counts independent
    # of corpus size (or capped by a constant times a tiny constant):
    ALLOWLIST = {
        "bootstrap_ci",          # N_BOOT replicate means (200 rows)
        "value_winsorize",       # ≤5 per-type moment rows
        "equidepth_histogram",   # decile edges (≤10 rows)
        "rfm_segments",          # quintile edges over 1-row scalars
        "quantile_normalize",    # n_chars VALUE-DOMAIN rank (bounded domain)
        "mmr_rerank",            # #queries·C candidate pool (bounded)
        "window_funnel_levels",  # ≤#levels funnel rows
        "top_n_per_group",       # presentation rank over ≤75 rows
        "vocab_top_terms",       # vocab-bounded term ranks
        "assoc_rules",           # itemset-bounded rule ranks
        "collocations_pmi",      # support-floored vocab²-bounded rule rank
        "ddsketch_partition_merge",  # sketch-bucket-bounded rows
        "trend_ols",             # ≤#nations rows
        "neyman_allocation",     # ≤#strata allocation rows
        "orders_backlog",        # ≤#months cumulative backlog rows
        "session_paths",         # ≤|event_type|³ distinct 3-step paths
        "skyline_pareto",        # ≤|p_size| DOMAIN rows (op docstring)
        "tokenize_to_ids",       # vocab-bounded id assignment rank
    }
    offenders = {}
    for name, plan in batch_plans.items():
        specs = _unpartitioned_window_specs(plan)
        if specs and name not in ALLOWLIST:
            offenders[name] = specs[:2]
    assert not offenders, f"unpartitioned windows outside allowlist: {offenders}"


def test_measure_counts_build_jobs_and_repeats_sub_second_ops(spark):
    """tools/measure.py: a job launched while building the DataFrame
    counts as a build job, a sub-second op runs 5 times, and the job
    group is cleared afterwards."""
    from tools.measure import measure

    def one_eager_job(spark, sf_dir):
        spark.range(10).collect()
        return spark.range(3)

    m = measure(spark, one_eager_job, SF)
    assert (m.build_jobs, m.runs, m.timed_out) == (1, 5, False)
    assert abs(m.best_s - m.build_s - m.action_s) < 1e-9
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_measure_budget_overrun_is_a_timeout(spark):
    """The watchdog cancels the running job group once the budget has
    passed; measure() reports a timeout instead of raising."""
    from tools.measure import measure

    def sleeps_a_minute(spark, sf_dir):
        return spark.range(1, numPartitions=1).selectExpr(
            "java_method('java.lang.Thread', 'sleep', 60000L) AS s"
        )

    m = measure(spark, sleeps_a_minute, SF, budget_s=1.0)
    assert m.timed_out and m.best_s < 30
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert spark.range(3).count() == 3
