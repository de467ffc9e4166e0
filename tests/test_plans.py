"""Physical-plan shape tests (SURVEY.md §4): the perf properties the
100 TB design depends on, asserted from the executed plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from fanstats_producer_spark import registry
from fanstats_producer_spark.io import load
from fanstats_producer_spark.plans import checks


def test_filter_pushdown_reaches_scan(spark):
    """P2's source-side predicates: Catalyst must push them to parquet."""
    li = load(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_quantity"
    )
    pushed = checks.pushed_filters(li)
    assert "l_quantity" in pushed
    assert "GreaterThan" in pushed


def test_column_pruning_reaches_scan(spark):
    """P5's tweet.fields projection: a 2-column select must not scan 11."""
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    rs = checks.read_schema(li)
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs


def test_small_dim_join_broadcasts(spark):
    """q13: region/nation joins must be broadcast, never a fact shuffle."""
    df = registry.QUERIES["q13_broadcast"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)
    assert not checks.has_sort_merge_join(df)


def test_flagship_join_is_broadcast_after_selective_filter(spark):
    """q00: the date-filtered orders side is small; AQE/static planning
    should broadcast it rather than shuffling lineitem."""
    df = registry.QUERIES["q00_flagship_daily_rollup"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)


def test_partition_pruning(spark):
    """q40: the date filter must prune partition directories."""
    df = registry.QUERIES["q40_partition_prune"](spark, SF_DIR)
    df.collect()  # materialize so scan metrics exist
    assert "event_date" in checks.partition_filters(df)
    metrics = checks.scan_metrics(df)
    assert metrics, "no scan node found"
    assert 0 < metrics[0]["numPartitions"] <= 3  # 3 days selected of ~30


def test_global_topk_avoids_total_sort(spark):
    """q34: ORDER BY + LIMIT must plan TakeOrderedAndProject."""
    df = registry.QUERIES["q34_sort"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in checks.explain_str(df, "simple")


def test_whole_stage_codegen_covers_agg(spark):
    """q20 must execute inside WholeStageCodegen spans (JVM hot path)."""
    df = registry.QUERIES["q20_agg"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    assert checks.whole_stage_codegen_ids(df) >= 1


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a partitioned fact joined to a filtered dimension must prune
    fact partitions at RUNTIME from the dim-side join keys — the scan
    carries a dynamicpruning subquery on the partition column.  At
    100 TB this is the difference between scanning 3 and 3000 date
    partitions when the date set comes from a dimension filter."""
    fact_dir = str(tmp_path / "fact")
    ev = load(spark, SF_DIR, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.partitionBy("event_date").parquet(fact_dir)
    dim = (
        ev.select("event_date").distinct()
        .withColumn("day_no", F.dayofmonth("event_date"))
    )
    dim_dir = str(tmp_path / "dim")
    dim.write.parquet(dim_dir)

    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    fact = spark.read.parquet(fact_dir)
    # NOTE the comparison predicate: DPP's isLikelySelective() accepts
    # comparisons/IN/LIKE but not a bare boolean column, so a
    # precomputed flag column would silently disable the rule.
    hot = spark.read.parquet(dim_dir).filter(F.col("day_no") <= 3)
    joined = fact.join(hot, "event_date").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # and the result matches the statically-pruned equivalent
    want = (
        ev.filter(F.dayofmonth("event_date") <= 3)
        .groupBy("event_type")
        .count()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))


def test_decontaminate_is_single_pass_inverted_index(spark):
    """x27: one corpus pass, no join at all — the shingle postings group
    once (8-byte hashed keys) and (train, eval) hits expand map-side.
    Allowed exchanges: the parallelism-guard spread of the RAW docs
    (with_shingles — raw text, not exploded postings), the postings
    groupBy, and the pair-count aggregate."""
    df = registry.QUERIES["x27_decontaminate"](spark, SF_DIR)
    assert not checks.has_sort_merge_join(df)
    assert checks.n_shuffle_exchanges(df) <= 3


def test_mixture_has_no_shuffle(spark):
    """x29: weighted mixing is a pure scan+filter — zero exchanges, so
    it can front a 100 TB pipeline without moving data."""
    df = registry.QUERIES["x29_mixture"](spark, SF_DIR)
    assert checks.n_shuffle_exchanges(df) == 0


def test_unigram_model_is_broadcast(spark):
    """x30: the |V|-row unigram model joins the corpus via broadcast."""
    df = registry.QUERIES["x30_unigram_logprob"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)
    assert not checks.has_sort_merge_join(df)


def test_quantize_has_no_shuffle(spark):
    """x32: per-vector quantization is embarrassingly parallel."""
    df = registry.QUERIES["x32_embed_quantize"](spark, SF_DIR)
    assert checks.n_shuffle_exchanges(df) == 0


def test_basket_pairs_shuffles_fact_once(spark):
    """q59: lineitem is scanned + shuffled once into the checkpointed
    baskets frame; the query plan's four consumers (pairs, two margin
    broadcasts, total) must all read the materialized baskets, never the
    fact table again."""
    df = registry.QUERIES["q59_basket_pairs"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert plan.count("lineitem.parquet") == 0
    assert plan.count("hashpartitioning(l_orderkey") == 0
    assert checks.has_broadcast_join(df)


def test_tpch_q3_topk_and_broadcast(spark):
    """q62: customer dim broadcasts; the top-10 is TakeOrderedAndProject,
    not a global sort."""
    df = registry.QUERIES["q62_tpch_q3"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in checks.explain_str(df, "simple")


def test_tpch_q5_dims_broadcast(spark):
    """q63: region/nation/supplier/customer all broadcast — lineitem is
    the only large input and shuffles at most once (for the aggregate)."""
    df = registry.QUERIES["q63_tpch_q5"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)


def test_x36_probe_prefilter_is_broadcast_semi(spark):
    """x36: the bucket bitmap join must be a broadcast (the whole point —
    the probe is pruned without shuffling it)."""
    df = registry.QUERIES["x36_runtime_filter"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)


def test_tpch_q18_single_lineitem_scan_and_topk(spark):
    """q67: lineitem is scanned exactly once (the HAVING aggregate's
    per-order sum IS the output measure — no re-join of the facts), the
    qualifying-order frame broadcasts, and the top-100 is
    TakeOrderedAndProject, not a global sort."""
    df = registry.QUERIES["q67_tpch_q18"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert plan.count("lineitem.parquet") == 1
    assert checks.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan


def test_x49_no_events_shuffle(spark):
    """x49: both percentile frames broadcast back onto events — the wide
    event rows (event_id aboard) are never hash-partitioned; the only
    exchanges move tiny per-group partial-percentile states."""
    df = registry.QUERIES["x49_mad_outliers"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "event_id" not in line
    assert checks.has_broadcast_join(df)


def test_tpch_q1_pushdown_and_single_exchange(spark):
    """q72: the date predicate reaches the parquet scan, the projection
    prunes to the measure columns, and the only exchange moves the
    <=9 partially-aggregated groups."""
    df = registry.QUERIES["q72_tpch_q1"](spark, SF_DIR)
    assert "l_shipdate" in checks.pushed_filters(df)
    assert "l_orderkey" not in checks.read_schema(df)
    # one exchange for the final agg + the mandatory output ordering
    assert checks.n_shuffle_exchanges(df) <= 2


def test_tpch_q19_residuals_push_to_both_scans(spark):
    """q74: Catalyst extracts the side-local residuals of the
    OR-of-ANDs — the quantity envelope reaches the lineitem scan and
    the brand/size envelope the part scan — before the broadcast
    join."""
    df = registry.QUERIES["q74_tpch_q19"](spark, SF_DIR)
    pushed = checks.pushed_filters(df)
    assert "l_quantity" in pushed
    assert "p_brand" in pushed or "p_size" in pushed
    assert checks.has_broadcast_join(df)


def test_tpch_q17_single_fact_scan_with_broadcast_stats(spark):
    """q75: the part slice broadcasts onto lineitem, the pruned frame
    is materialized once (its two consumers read the checkpoint, never
    the parquet — zero lineitem scans in the final plan), and the
    per-part stats rejoin is also a broadcast — the fact is never
    hash-partitioned."""
    df = registry.QUERIES["q75_tpch_q17"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert plan.count("lineitem.parquet") == 0  # both consumers read the ckpt
    assert checks.has_broadcast_join(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_extendedprice" not in line


def test_x72_no_token_level_explode(spark):
    """x72: the exploded unit is the 20-token segment, never the token
    — the widest intermediate is ~n_tokens/20 rows per doc."""
    df = registry.QUERIES["x72_paragraph_dedup"](spark, SF_DIR)
    plan = checks.explain_str(df, "formatted")
    n_generate = sum(
        1 for line in plan.splitlines() if line.startswith("(") and ") Generate" in line
    )
    assert n_generate == 1
    assert "posexplode" in plan


def test_tpch_q7_dims_prepruned_and_broadcast(spark):
    """q76: the two-nation filter lands on supplier and customer BEFORE
    their joins — both dims broadcast pre-pruned; lineitem-orders is
    the only non-broadcast join."""
    df = registry.QUERIES["q76_tpch_q7"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert checks.has_broadcast_join(df)
    # the only hash-partitioned exchanges are the li-orders join keys
    # and the final group-by — never a dim table's key
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "s_suppkey" not in line and "c_custkey" not in line


def test_tpch_q13_filter_inside_outer_join(spark):
    """q79: the priority predicate prunes orders BEFORE the left outer
    join (pushed to the orders scan), never as a post-join residual
    that would null out legitimate matches."""
    df = registry.QUERIES["q79_tpch_q13"](spark, SF_DIR)
    assert "o_orderpriority" in checks.pushed_filters(df)


def test_x80_zorder_prunes_second_dimension(spark):
    """The layout payoff: under a 1-D pk-sort layout a narrow suppkey
    band overlaps (nearly) every file; under z-order it must overlap
    strictly fewer — both dims keep tight per-file ranges."""
    from pyspark.sql import functions as F

    from fanstats_producer_spark.io import load
    from fanstats_producer_spark.operators.layout import (
        _X80_FILES,
        x80_zorder_layout,
    )

    sf = "/root/testdata/sf0.001"
    li = load(spark, sf, "lineitem")
    msk = li.agg(F.max("l_suppkey")).collect()[0][0]
    lo, hi = msk // 2, msk // 2 + max(msk // 16, 1)  # narrow sk band

    z = x80_zorder_layout(spark, sf).collect()
    z_hit = sum(1 for r in z if r["sk_min"] <= hi and r["sk_max"] >= lo)

    # 1-D comparison layout: same file count, range-partitioned on pk
    mpk = li.agg(F.max("l_partkey")).collect()[0][0]
    oned = (
        li.selectExpr(
            f"(l_partkey * {_X80_FILES}) DIV ({mpk} + 1) AS file_id",
            "l_suppkey",
        )
        .groupBy("file_id")
        .agg(F.min("l_suppkey").alias("sk_min"), F.max("l_suppkey").alias("sk_max"))
        .collect()
    )
    o_hit = sum(1 for r in oned if r["sk_min"] <= hi and r["sk_max"] >= lo)

    assert z_hit < o_hit  # z-order prunes where the 1-D sort cannot
    assert o_hit == len(oned)  # the 1-D layout is blind to suppkey


def test_x80_morton_interleave_is_a_bijection():
    """The unrolled Morton expression must be a bijection on the full
    (qx, qy) domain — a lost or doubled bit silently collapses file
    ranges.  Checked exhaustively over all 2^16 cells via DuckDB on
    the same generated SQL string the oracle uses."""
    import duckdb

    from fanstats_producer_spark.operators.layout import (
        _X80_BITS,
        _morton_expr,
    )

    n = 1 << _X80_BITS
    con = duckdb.connect()
    expr = _morton_expr("qx", "qy", "//")
    rows = con.execute(
        f"""
        WITH g AS (
          SELECT x.range AS qx, y.range AS qy
          FROM range({n}) x CROSS JOIN range({n}) y)
        SELECT COUNT(*) AS n, COUNT(DISTINCT ({expr})) AS nd,
               MIN({expr}) AS lo, MAX({expr}) AS hi
        FROM g
        """
    ).fetchone()
    assert rows[0] == rows[1] == n * n  # injective on the domain
    assert (rows[2], rows[3]) == (0, n * n - 1)  # onto the code range


def test_x106_consumers_read_checkpoints_not_corpus(spark):
    """x106: pairs/bg/tot each feed >=2 downstream joins, so all three
    are localCheckpointed — the final plan's consumers must read the
    materialized frames, never re-derive the explode+groupBy bigram
    scan (or the jaccard pair expansion) per consumer.  Zero
    documents.parquet scans in the final plan is the whole assert."""
    df = registry.QUERIES["x106_rouge2_pairs"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert plan.count("documents.parquet") == 0


def test_x110_x100_score_join_is_per_distinct_gram(spark):
    """x110/x100/x94 (VERDICT r11 item 3): the interpolated KN
    probability is a function of the n-gram alone, so it is assembled
    on the DISTINCT-n-gram frame and the corpus-sized occurrence stream
    (the only frame carrying doc_id) is shuffled on gram keys AT MOST
    ONCE — the single score join — never once per suffix key-set (the
    pre-r12 shape paid 4 extra corpus-wide exchanges at x110; x94's
    three-table bigram join paid 3).  Auto-broadcast is disabled so the
    shape is pinned even at SFs where the score frame is small enough
    to broadcast."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for key in (
            "x110_kn_5gram_bits",
            "x100_kn_trigram_bits",
            "x94_kneser_ney_bits",
        ):
            df = registry.QUERIES[key](spark, SF_DIR)
            plan = checks.explain_str(df, "formatted")
            details = re.findall(
                r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]"
                r"\nArguments: hashpartitioning\(([^)]*)\)",
                plan,
            )
            instance_shuffles = [
                keys
                for inp, keys in details
                if "doc_id" in inp and "doc_id" not in keys
            ]
            assert len(instance_shuffles) == 1, (key, instance_shuffles)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_x110_dictionary_arm_int_keys_same_shape_same_values(
    spark, monkeypatch
):
    """x110 dictionary arm (r14, VERDICT r13 item 1): above the corpus
    size gate the gram keys become int64 dictionary ids.  Pin the three
    properties the design depends on: (a) both arms return IDENTICAL
    rows (the bijection leaves every count/score unchanged); (b) the
    corpus-sized instance stream still crosses exactly ONE gram-keyed
    exchange (the broadcast attach adds no hash exchange); (c) that
    exchange's keys are the bigint ids, not token strings."""
    import re

    from fanstats_producer_spark.operators import llm_data

    fn = registry.QUERIES["x110_kn_5gram_bits"]
    # string arm (gate closed at every driver SF)
    assert not llm_data._x110_use_dictionary(SF_DIR)
    base = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    # dictionary arm, forced
    monkeypatch.setattr(llm_data, "_X110_DICT_MIN_BYTES", 0)
    assert llm_data._x110_use_dictionary(SF_DIR)
    df = fn(spark, SF_DIR)
    assert {tuple(r) for r in df.collect()} == base
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.explain_str(fn(spark, SF_DIR), "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    details = re.findall(
        r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]"
        r"\nArguments: hashpartitioning\(([^)]*)\)",
        plan,
    )
    instance_shuffles = [
        keys
        for inp, keys in details
        if "doc_id" in inp and "doc_id" not in keys
    ]
    assert len(instance_shuffles) == 1, instance_shuffles
    # the one instance exchange is keyed on the dictionary ids
    assert re.search(r"\bka#\d+L", instance_shuffles[0]), instance_shuffles


def test_x104_total_is_broadcast_scalar_not_global_window(spark):
    """x104 (VERDICT r11 item 4): the bigram total N must ride a
    broadcast one-row aggregate, never a zero-arg window — a global
    window single-partitions the |vocab|-sized left-marginal frame,
    a real skew point at web-corpus vocabulary sizes.  The plan must
    contain NO Window node; the only SinglePartition exchange is the
    scalar aggregate's final step (32 partial-sum rows)."""
    df = registry.QUERIES["x104_pmi_collocations"](spark, SF_DIR)
    plan = checks.explain_str(df, "simple")
    assert plan.count("Window") == 0
    assert checks.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan
