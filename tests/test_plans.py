"""Physical-plan audits (SURVEY.md §4): these tests pin the plan shape
that must survive a 100 TB scale-up — filters pushed to the parquet scan,
column pruning in ReadSchema, small dims broadcast (no shuffle of the
fact table for dim joins), and no accidental cartesian/BNLJ in the hot
similarity paths.

A correctness-green query with the wrong plan is a regression at scale;
this file is what catches it.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_data_pipeline_spark.plans import QUERIES, load_all_plans
from tests.conftest import SF_DIR

load_all_plans()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan
    # the shipdate predicate must reach the parquet reader, not sit in a
    # post-scan Filter only
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_q1_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    # only the 7 needed columns are read; wide columns are pruned
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


@pytest.mark.parametrize("name", ["d2_global_agg", "a4_partitioned_write"])
def test_money_sum_partials_stay_primitive(spark, name):
    """dec_sum's map-side partial aggregate sums BIGINT grid halves: no
    per-row DECIMAL(38,2) cast (a BigDecimal per value) may reach the
    partial HashAggregate. The recombine runs on the final one only."""
    df = QUERIES[name](spark, SF_DIR)
    executed = df._jdf.queryExecution().executedPlan().toString()
    partials = [
        line
        for line in executed.splitlines()
        if "HashAggregate" in line and "partial_sum" in line
    ]
    assert partials, executed
    for line in partials:
        assert "decimal(38,2)" not in line, line


def test_q5_broadcasts_dims(spark):
    plan = plan_of(spark, "q5_multi_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q3_no_cartesian(spark):
    plan = plan_of(spark, "q3_topk_join")
    assert "CartesianProduct" not in plan
    # top-k must be TakeOrderedAndProject, not a global sort + limit
    assert "TakeOrderedAndProject" in plan


def test_cosine_topk_no_bnlj(spark):
    # the numpy-kernel path must never fall back to per-pair BNLJ
    plan = plan_of(spark, "cosine_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_paths_are_equijoins(spark):
    # the LSH hyperplanes are computed on the driver, so no ANN plan
    # holds a cross or non-equi join of any kind
    for name in ("ann_lsh", "ivf_ann"):
        tree = plan_of(spark, name).split("\n\n")[0]
        assert "CartesianProduct" not in tree, name
        assert "BroadcastNestedLoopJoin" not in tree, name


@pytest.mark.parametrize(
    "name", ["ann_lsh", "ann_multiprobe", "ivf_ann", "ivf2_ann"]
)
def test_ann_paths_share_one_cell_kernel(spark, name):
    """Every ANN builder ends in the one retrieval core
    (similarity.cell_topk): exactly one grouped Python node, the cell
    kernel, in the plan."""
    tree = plan_of(spark, name).split("\n\n")[0]
    assert tree.count("FlatMapGroupsInPandas") == 1, tree


def test_jaccard_is_equijoin(spark):
    for name in ("i4_jaccard_pairs", "i4c_ngram_jaccard", "i4b_minhash_lsh"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pivot_no_distinct_job(spark):
    # declared pivot domain: the plan must not contain an extra aggregate
    # for value discovery (it would appear as a second scan of orders)
    plan = plan_of(spark, "pivot_wide")
    # formatted explain lists each node once in the tree and once in the
    # details section, so a single physical scan appears exactly twice
    assert plan.count("Scan parquet") == 2


def test_merge_upsert_single_shuffle_per_side(spark):
    plan = plan_of(spark, "merge_upsert")
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_shuffle(spark):
    # with broadcast disabled, the bucketed tables must sort-merge join
    # with NO exchange on either side (bucket layout replaces the shuffle)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, "bucketed_join")
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree
        join_part = tree.split("SortMergeJoin")[1]
        # the only exchange allowed is the final single-partition agg one,
        # which sits ABOVE the join in the tree, never below it
        assert "Exchange hashpartitioning" not in join_part, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_spreads_keys(spark):
    plan = plan_of(spark, "skew_salted_join")
    # the join condition must include the salt column => shuffle keys are
    # (orderkey, salt), not orderkey alone
    assert "salt" in plan


def test_partitioned_read_prunes(spark):
    # a4 writes lineitem partitioned by l_returnflag into scratch; a read
    # filtered on the partition column must show a partition filter and
    # never a post-scan filter on l_returnflag
    import os
    QUERIES["a4_partitioned_write"](spark, SF_DIR).collect()  # ensure written
    tag = os.path.basename(os.path.normpath(SF_DIR)).replace(".", "_")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "io", tag, "lineitem_part",
    )
    df = spark.read.parquet(path).filter("l_returnflag = 'R'")
    import contextlib, io as _io
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "l_returnflag" in pf_line


def test_shuffle_hash_hint_is_honored(spark):
    # disable broadcast so the hint (not auto-broadcast) decides the plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, "c4b_shuffle_hash_hint")
        assert "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quantized_rerank_no_bnlj(spark):
    # both stages of i6c — quantized blocked kernel and the candidate
    # re-rank joins — must stay equi-join/shuffle shaped, never BNLJ
    plan = plan_of(spark, "i6c_quantized_rerank")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mixture_sample_prunes_columns(spark):
    # the sampling predicate is a stateless map over the scan: no
    # shuffle at all, and only the 3 output columns are read
    plan = plan_of(spark, "mixture_sample")
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in read_schema


def test_pack_sequences_single_shuffle_chain(spark):
    # one hash exchange for the lang window + its reuse by the groupBy
    # (same key) — no second independent shuffle of the doc table
    plan = plan_of(spark, "pack_sequences")
    assert plan.count("CartesianProduct") == 0
    assert "Window" in plan


def test_lateral_topk_decorrelates_to_ranked_join(spark):
    # the LATERAL ... ORDER BY ... LIMIT subquery must decorrelate into
    # a rank-limited join (WindowGroupLimit), never per-row subquery
    # execution or a cartesian pairing
    plan = plan_of(spark, "sql_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["decontaminate", "pretrain_corpus"])
def test_decontaminate_broadcasts_eval_set(spark, name):
    # the benchmark shingle set is small by nature — it must broadcast
    # so the corpus side never shuffles for the probe
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["corpus_curation", "pretrain_corpus"])
def test_dedup_window_keeps_group_limit(spark, name):
    """exact_dedup's keep-min filter runs as a WindowGroupLimit on both
    sides of the content-hash shuffle.  It holds only while the caller
    never reads ``n_copies``: that count window is then pruned, and a
    referenced one would silently drop the group limit."""
    plan = plan_of(spark, name)
    limits = [
        line for line in plan.splitlines()
        if line.startswith("Arguments:") and "row_number(), 1," in line
    ]
    assert any(line.endswith("Partial") for line in limits), plan
    assert any(line.endswith("Final") for line in limits), plan


def test_doc_fingerprint_is_a_pure_map(spark):
    # each document's trigram array is reduced in its own row
    plan = plan_of(spark, "doc_fingerprint")
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_simhash_neardup_band_join_is_equijoin(spark):
    # candidate generation joins on (band, value) — an equi-join; the
    # all-pairs comparison exists only in the DuckDB oracle
    plan = plan_of(spark, "simhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_clustered_layout_filter_pushes_to_scan(spark):
    # the user-band predicate must reach the parquet reader of the
    # clustered copy so footer min/max stats can skip files/row-groups
    plan = plan_of(spark, "a14_clustered_layout")
    tail = plan.split("PushedFilters")
    assert len(tail) > 1 and "user_id" in tail[1].splitlines()[0]


def test_dpp_join_prunes_partitions(spark):
    """dpp_partition_pruned_join must carry a runtime dynamicpruning
    subquery on the partition column — the plan feature that makes the
    month-partitioned fact scan read 3 directories instead of all."""
    plan = plan_of(spark, "dpp_partition_pruned_join")
    assert "dynamicpruning" in plan.lower(), plan


def test_aqe_skew_join_split_fires(spark):
    """AQE skew handling, demonstrated on an actually-skewed join: one
    hot key holds ~90% of the fact rows. With skew-join thresholds
    scaled to the local data size, the executed SMJ must be marked
    skew-split; and the salted formulation of the same join must agree
    with the plain result (salting is result-invariant)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 40_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 97)
            .alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        dim = spark.range(97).select(
            F.col("id").alias("k"), (F.col("id") + 100).alias("w")
        )
        joined = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
        )
        row = joined.collect()[0]
        # every fact row matches exactly one dim row
        assert row["n"] == n
        # the executed (adaptive) plan marks the skewed SMJ partition split
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected(spark):
    """runtime_bloom_join must carry Catalyst's injected runtime filter
    (might_contain / bloom_filter) on the fact side — the non-partition
    sibling of DPP that prunes shuffled fact rows at the scan."""
    plan = plan_of(spark, "runtime_bloom_join")
    p = plan.lower()
    assert "might_contain" in p or "bloomfilter" in p, plan


def test_incremental_dedup_prunes_corpus_scan(spark):
    """incremental_dedup's corpus side must read only (doc_id, text) —
    the hash is computed from text and nothing else crosses the join, so
    ReadSchema pruning is what makes the daily merge cheap."""
    plan = plan_of(spark, "incremental_dedup")
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "lang" not in schema and "source" not in schema, line


def test_pmi_vocab_join_pruned_not_hint_broadcast(spark):
    """The unigram vocab must NOT be hint-broadcast (10^8-10^9 distinct
    tokens on a 100 TB web corpus — past executor broadcast limits):
    the c_ab >= 5 frequency floor prunes the bigram side before the two
    vocab joins and the strategy is left to Catalyst/AQE.  Exactly one
    mandatory broadcast remains — the single-row totals crossJoin."""
    df = QUERIES["pmi_bigrams"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1, analyzed
    # the frequency floor survives optimization as a Filter (pre-join:
    # it is applied to the bigram agg before either vocab join is built)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "c_ab" in opt and "Filter" in opt, opt


def test_source_kl_vocab_join_not_hint_broadcast(spark):
    """source_kl_divergence may hint-broadcast only the bounded frames
    (per-source totals, single-row corpus total) — never the vocab-sized
    per-token totals table."""
    df = QUERIES["source_kl_divergence"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2, analyzed


def test_unigram_lm_vocab_join_not_hint_broadcast(spark):
    """unigram_lm_score must NOT hint-broadcast the vocab counts table
    (10^8-10^9 distinct tokens on a 100 TB web corpus — past executor
    broadcast limits).  The token-key shuffle join / AQE decides; the
    only mandatory hint is the single-row corpus-total crossJoin."""
    df = QUERIES["unigram_lm_score"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1, analyzed


def test_q19_disjunction_pushed_to_both_scans(spark):
    """tpch_q19's OR-of-ANDs spans both join sides; Catalyst must
    extract the single-side implications and push them into BOTH parquet
    scans (brand/size union -> part, quantity-range union -> lineitem) —
    at 100 TB this pre-filter decides whether the join sees three
    brands' rows or the whole table."""
    plan = plan_of(spark, "tpch_q19_disjunctive")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), plan
    assert any("p_brand" in l and "Or(" in l for l in pushed), plan


def test_graph_queries_stay_equijoin(spark):
    """The whole near-dup graph family (degree hist, triangles, k-core,
    bucket stats) must stay equi-join shaped — a BNLJ/cartesian anywhere
    in these plans is a scale regression on the densest data the engine
    touches."""
    for name in (
        "neardup_degree_hist",
        "neardup_triangles",
        "kcore_peel",
        "lsh_bucket_stats",
    ):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        assert "CartesianProduct" not in tree, name
        # the only BNLJ allowed is the broadcast CROSS of a single-row
        # scalar frame (triangle wedge total, k-core convergence flag)
        for line in tree.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (name, line)


def test_mmr_candidate_cut_is_take_ordered(spark):
    """mmr's 16-candidate cut must be TakeOrderedAndProject (distributed
    top-k), never a no-partition row_number window funneling all
    relevance rows through one task. (The registered query returns the
    driver-assembled selection — a LocalTableScan — so the audit targets
    the exposed distributed stage.)"""
    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.operators.similarity import mmr_candidates

    e = load_table(spark, SF_DIR, "embeddings")
    _, _, cand = mmr_candidates(e, query_id=0, n_cand=16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    tree = plan.split("\n\n")[0]
    for line in tree.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line  # single-row norm broadcast only
    # round-6 shape: the relevance pass is a row-level HOF fold — a
    # narrow map over the scan with NO exchange and NO join below the
    # TakeOrdered cut (the former explode/groupBy plan shuffled twice)
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q13_zero_bucket_join_stays_outer(spark):
    """tpch_q13's priority predicate lives in the LEFT JOIN's ON clause;
    if a refactor moves it to a post-join filter, Catalyst converts the
    outer join to inner and the n_orders=0 customers silently vanish.
    The plan must still say LeftOuter, and the customer scan must carry
    only the join key."""
    plan = plan_of(spark, "tpch_q13_custdist")
    assert "LeftOuter" in plan, plan
    read_schemas = [
        line.split("ReadSchema")[1]
        for line in plan.splitlines()
        if "ReadSchema" in line
    ]
    cust = [s for s in read_schemas if "c_custkey" in s]
    assert cust and all("c_name" not in s for s in cust), read_schemas


def test_q17_brand_filter_broadcast_no_cartesian(spark):
    """tpch_q17's correlated-AVG rewrite: the brand dim must broadcast
    (85 parts — a shuffle of the fact for it is wrong) and the brand
    predicate must reach the part scan."""
    plan = plan_of(spark, "tpch_q17_small_qty")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), plan


def test_q21_quantifier_rewrite_single_fact_scan_shape(spark):
    """tpch_q21's EXISTS/NOT-EXISTS rewrite must stay equi-join shaped
    (no BNLJ from a surviving correlated subquery), scan the fact table
    exactly ONCE (the naive quantifier translation probes it three
    times), and stay Expand-free (per-key two-level agg, not
    COUNT DISTINCT)."""
    plan = plan_of(spark, "tpch_q21_waiting")
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree, plan
    assert "CartesianProduct" not in tree, plan
    assert "Expand" not in tree, plan
    # the static plan shows ps inlined twice; at runtime AQE's exchange
    # reuse dedupes the identical (l_orderkey, l_suppkey) shuffle, so
    # the fact is read and pre-aggregated once — assert on the EXECUTED
    # plan, where ReusedExchange is materialized
    df = QUERIES["tpch_q21_waiting"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_q7_pair_filter_reaches_nation_scans(spark):
    """tpch_q7's symmetric nation-pair disjunction: both nation roles
    are pre-filtered to the two names at their scans (2-row broadcasts),
    not post-join."""
    plan = plan_of(spark, "tpch_q7_volume")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert sum("n_name" in l for l in pushed) >= 2, plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    """tpch_q22: the no-urgent-orders quantifier must be a LeftAnti hash
    join, the one-row global-average frame is the only nested-loop
    (broadcast Cross), and the priority predicate reaches the orders
    scan."""
    plan = plan_of(spark, "tpch_q22_idle_customers")
    assert "LeftAnti" in plan, plan
    for line in plan.split("\n\n")[0].splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderpriority" in l for l in pushed), plan


def test_ewma_single_shuffle_single_window(spark):
    """ewma_smooth is one user_id exchange feeding one Window node with
    8 taps — a second exchange or stacked windows means the FIR filter
    degenerated into multiple passes over the events table."""
    plan = plan_of(spark, "ewma_smooth")
    tree = plan.split("\n\n")[0]
    assert sum("Exchange" in l for l in tree.splitlines()) == 1, plan
    assert sum(
        l.strip().startswith("Window") for l in tree.splitlines()
    ) <= 2, plan


def test_q11_scalar_having_never_rescans_fact(spark):
    """tpch_q11's HAVING scalars (total, part count) must come from the
    per-part AGGREGATE, not a second scan of lineitem — at runtime
    AQE's exchange reuse collapses the statically-inlined pv subplan to
    one fact scan (ReusedExchange on the executed plan)."""
    plan = plan_of(spark, "tpch_q11_important_stock")
    for line in plan.split("\n\n")[0].splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    df = QUERIES["tpch_q11_important_stock"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_q15_argmax_no_global_sort(spark):
    """tpch_q15 finds the max-revenue supplier by decimal-exact equality
    against a broadcast MAX — there must be no global Sort (the
    rank/sort formulation funnels every supplier through one task)."""
    plan = plan_of(spark, "tpch_q15_top_supplier")
    tree = plan.split("\n\n")[0]
    assert not any(
        l.strip().startswith("Sort ") for l in tree.splitlines()
    ), plan
    # statically the rev subplan is inlined under both the MAX scalar
    # and the equality filter; at runtime the identical l_suppkey
    # exchanges dedupe to one fact scan
    df = QUERIES["tpch_q15_top_supplier"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_q16_exclusion_anti_join_before_part_join(spark):
    """tpch_q16's NOT IN must compile to a broadcast LeftAnti hash join
    (s_suppkey is non-null; the null-aware BNLJ degeneration must not
    trigger), with brand/size pushed to the part scan."""
    plan = plan_of(spark, "tpch_q16_supplier_cnt")
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan.split("\n\n")[0], plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), plan


def test_zorder_physical_layout_prunes_day_probe(spark):
    """a17's physical counterpart: actually write events z-ordered
    (repartitionByRange on the Morton code + sortWithinPartitions) and
    linearly (by user_id), then read each back with per-file min/max
    day boxes from _metadata — a day-band probe must intersect FEWER
    z-ordered files than linear files (where every file spans all days,
    so nothing prunes)."""
    import pyspark.sql.functions as F

    from etl_data_pipeline_spark.catalog import load_table, scratch_path
    from etl_data_pipeline_spark.plans.modern import _Z_EXPR

    ev = load_table(spark, SF_DIR, "events")
    mx = ev.agg(F.max("user_id").alias("max_u"))
    z = (
        ev.crossJoin(F.broadcast(mx))
        .withColumn(
            "day",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")),
        )
        .withColumn("ub", F.expr("(user_id * 32) div (max_u + 1)"))
        .withColumn("zval", F.expr(_Z_EXPR))
        .drop("max_u", "ub")
    )
    zpath = scratch_path(SF_DIR, "io2", "events_zorder")
    lpath = scratch_path(SF_DIR, "io2", "events_linear")
    z.repartitionByRange(8, "zval").sortWithinPartitions("zval").write.mode(
        "overwrite"
    ).parquet(zpath)
    z.repartitionByRange(8, "user_id").sortWithinPartitions(
        "user_id"
    ).write.mode("overwrite").parquet(lpath)

    def day_hit_files(path: str) -> tuple[int, int]:
        boxes = (
            spark.read.parquet(path)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
            .collect()
        )
        hits = sum(1 for r in boxes if r.dmin <= 14 and r.dmax >= 8)
        return hits, len(boxes)

    z_hits, z_total = day_hit_files(zpath)
    l_hits, l_total = day_hit_files(lpath)
    assert l_hits == l_total, (l_hits, l_total)  # linear prunes nothing
    assert z_hits < z_total, (z_hits, z_total)  # z-order prunes files
    assert z_hits < l_hits, (z_hits, l_hits)


def test_q10_topk_is_take_ordered(spark):
    """tpch_q10's top-20 must compile to TakeOrderedAndProject
    (distributed top-k on the exact decimal key), never a global
    sort + limit; both scan-side filters must push."""
    plan = plan_of(spark, "tpch_q10_returned_topk")
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l for l in pushed), plan
    assert any("o_orderdate" in l for l in pushed), plan


def test_q8_q9_snowflake_broadcasts(spark):
    """q8/q9: every dim leg broadcasts (part/customer/supplier/nation);
    the only fact-scale join is lineitem-orders — no cartesian, no
    BNLJ anywhere in the snowflake."""
    for name in ("tpch_q8_market_share", "tpch_q9_profit"):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        assert "CartesianProduct" not in tree, name
        assert "BroadcastNestedLoopJoin" not in tree, name
        assert tree.count("BroadcastHashJoin") >= 3, (name, tree)


def test_q20_aggregate_rollup_reuses_exchange(spark):
    """tpch_q20's part rollup and its join-back both hash the
    (part, supplier) aggregate on l_partkey — AQE must collapse them
    to one shuffle at runtime (the q21 pattern)."""
    df = QUERIES["tpch_q20_excess_share"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_bloom_membership_probe_is_broadcast(spark):
    """The 66-word bitmap must reach the probe side as a broadcast join
    (production shape: the filter ships to executors; the corpus never
    shuffles), and nothing in the plan may cartesian-expand."""
    plan = plan_of(spark, "bloom_membership")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_partials_stay_distributed(spark):
    """MG partials merge via a groupBy sum (map-side combinable), and the
    only driver-bound data is the final above-threshold slice; the plan
    must show the mapInPandas stage feeding a hash aggregate."""
    plan = plan_of(spark, "heavy_hitters_mg")
    assert "MapInPandas" in plan
    assert "HashAggregate" in plan


def test_c8c_nearest_is_join_free(spark):
    """The nearest as-of variant must keep c8b's join-free shape: window
    frames over one shuffle, no join operator anywhere in the plan."""
    plan = plan_of(spark, "c8c_asof_nearest")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_interval_coverage_single_user_shuffle(spark):
    """Island detection + both aggs must ride ONE user_id exchange: the
    window partitioning and the groupBys share it, so exactly one
    shuffle origin appears (plus the final single-partition collect)."""
    plan = plan_of(spark, "interval_coverage")
    assert plan.count("Exchange hashpartitioning(user_id") <= 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, op


def test_skyline_two_phase_mapinpandas(spark):
    """Skyline must show the two-phase shape: two MapInPandas stages
    (local fronts, global reduce) and no join/cartesian."""
    plan = plan_of(spark, "skyline_price_size")
    # tree section prints each stage as "MapInPandas (<id>)"; the details
    # section repeats them as "(<id>) MapInPandas", so count the former
    assert plan.count("MapInPandas (") == 2
    assert "CartesianProduct" not in plan


def test_link_predict_no_cartesian_and_caps_inherited(spark):
    """Link prediction must stay equi-join-only (wedge join + anti-join
    + degree joins), never cartesian, with the TopK as
    TakeOrderedAndProject rather than a global sort."""
    plan = plan_of(spark, "neardup_link_predict")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cusum_is_grouped_map_over_one_shuffle(spark):
    """CUSUM must be the canonical stateful grouped-map: one
    FlatMapGroupsInPandas over a user_id exchange, no joins."""
    plan = plan_of(spark, "cusum_changepoint")
    assert "FlatMapGroupsInPandas" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, op


def test_sales_mart_broadcasts_dims_and_pushes_status_filter(spark):
    """The mart DAG must broadcast the conformed customer dim (never
    shuffle the fact on c_custkey), push the status-domain gate into the
    orders scan, and contain no cartesian anywhere."""
    plan = plan_of(spark, "sales_mart")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = [seg.splitlines()[0] for seg in plan.split("PushedFilters")[1:]]
    assert any("o_orderstatus" in line for line in pushed), pushed


def test_adaptive_ann_oracles_parameterized():
    """Round 12 (VERDICT r11 item 1): the six ANN oracles that compose
    their SQL via .replace() on the shared fixed-parameter bodies must
    actually have been rewritten — a silent .replace() no-op (string
    drift in the shared constant) would leave a fixed-parameter oracle
    under an adaptive engine and only surface as an sf1 hash mismatch.
    Also proves PARAMETER PARITY cross-engine: the oracle's integer
    plane/code rules evaluated by DuckDB at several corpus sizes equal
    operators/ann_adaptive.py's Python rules."""
    import duckdb

    from etl_data_pipeline_spark.operators.ann_adaptive import (
        adaptive_codes,
        adaptive_nlist,
        adaptive_nprobe,
    )
    from etl_data_pipeline_spark.operators.similarity import adaptive_planes
    from etl_data_pipeline_spark.plans import ORACLES

    lsh = ["ann_lsh", "ann_recall", "ann_multiprobe", "ann_multiprobe_recall"]
    for name in lsh:
        sql = ORACLES[name]
        assert "RANGE(4) j" not in sql, name  # substitution applied
        assert "lp.planes" in sql, name
    # the adaptive-plane preamble is byte-identical across the family
    # (the .replace() composition exists precisely so the four copies
    # cannot diverge past this shared prefix)
    pres = {ORACLES[n].split("planes AS (")[0] for n in lsh}
    assert len(pres) == 1, "adaptive lp CTE drifted between LSH oracles"
    for name in ("ann_multiprobe", "ann_multiprobe_recall"):
        assert "XOR(bucket, 4)" not in ORACLES[name], name
        assert "jj.range" in ORACLES[name], name
    for name in ("pq_ann", "pq_recall"):
        sql = ORACLES[name]
        assert "vec_id < 16" not in sql, name
        assert "pc.n_codes" in sql, name
    for name in ("ivf_ann", "ivf_recall"):
        sql = ORACLES[name]
        assert "GREATEST(4, COUNT(*) // 125)" in sql, name

    # cross-engine parameter parity at several corpus sizes
    for n in (100, 500, 2000, 20000, 200000, 4096 * 125):
        planes_sql = duckdb.sql(
            "SELECT GREATEST(4, COALESCE((SELECT MAX(t.j) FROM RANGE(2, 31)"
            f" t(j), (SELECT {n} AS n) cn"
            " WHERE (CAST(1 AS BIGINT) << t.j) <= cn.n // 125), 4))"
        ).fetchone()[0]
        assert planes_sql == adaptive_planes(n), n
        nlist_sql, nprobe_sql, codes_sql = duckdb.sql(
            f"SELECT GREATEST(4, {n} // 125),"
            f" GREATEST(2, GREATEST(4, {n} // 125) // 5),"
            f" GREATEST(16, {n} // 125)"
        ).fetchone()
        assert nlist_sql == adaptive_nlist(n), n
        assert nprobe_sql == adaptive_nprobe(adaptive_nlist(n)), n
        assert codes_sql == adaptive_codes(n), n


def test_kmeans_build_plan_has_no_global_sort(spark):
    """VERDICT r12 item 1: the IVF build must contain no single-task
    global sort of the corpus.  The old seed path planned
    Window.orderBy(vec_id) — one task sorting every vector row.  Hash
    seeding (ann_adaptive.hash_seeds) plans the seed selection as
    TakeOrderedAndProject over the ~2*nlist + 64 threshold candidates
    (per-partition top-nlist + one bounded merge of skinny rows), with
    no Window/global-Sort node anywhere."""
    import contextlib
    import io

    from etl_data_pipeline_spark.catalog import load_table
    from etl_data_pipeline_spark.operators.ann_adaptive import (
        adaptive_nlist,
        grid_vectors,
        hash_seeds,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    nlist = adaptive_nlist(n)
    grid = grid_vectors(e)
    seeds = hash_seeds(grid, n, nlist)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seeds.explain("formatted")
    sp = buf.getvalue()
    assert "TakeOrderedAndProject" in sp, sp
    assert "Window" not in sp, sp
