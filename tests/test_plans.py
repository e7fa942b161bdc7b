"""Physical-plan regression guards: the scale properties (pushdown,
pruning, broadcast, bounded shuffles) must not silently rot."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# r10 (driver pytest-gate wall-clock): constructing an entry query pays
# ~0.1-0.5 s of plan analysis PLUS any eager-checkpoint barrier jobs, and
# FOUR sweeps in this file construct overlapping query sets. Plan strings
# are deterministic per (query, sf_dir) within the session, so the sweeps
# share one construction via this cache — only the all-query cartesian
# sweep pays it.
_PLAN_CACHE: dict = {}


def _plan_of(spark, sf_dir, name: str) -> str:
    key = (name, sf_dir)
    if key not in _PLAN_CACHE:
        _PLAN_CACHE[key] = _physical(
            entry_mod.queries()[name](spark, sf_dir)
        )
    return _PLAN_CACHE[key]


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    plan = _physical(entry_mod.q_scan_filter_sort_limit(spark, sf_dir))
    # predicate pushed into the parquet scan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: only the 5 needed columns are read
    scan_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in scan_schema
    assert scan_schema.count(":") == 5
    # sort+limit+offset fuse into a top-k operator
    assert "TakeOrderedAndProject(limit=110, offset=10" in plan


def test_broadcast_hint_produces_broadcast_join(spark, sf_dir):
    plan = _physical(entry_mod.q_join_one_left(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_aggregate_has_mapside_partials(spark, sf_dir):
    plan = _physical(entry_mod.q_agg_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan and "partial_count" in plan


def test_funnel_shuffle_budget(spark, sf_dir):
    """The funnel pipeline is ONE scan of events (zero-match entities ride
    the journey aggregate via explode_outer — no distinct-entities rescan,
    no left join) and a small fixed number of exchanges: journeys groupBy,
    final aggregate, output sort. A regression to the reference's per-step
    join cascade or uniq-rescan would blow this budget."""
    plan = _physical(entry_mod.q_funnel(spark, sf_dir))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"funnel plan scans events {n_scans}x:\n{plan[:2000]}"
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, f"funnel plan has {n_exchanges} exchanges:\n{plan[:2000]}"
    # single events-table aggregation builds hash + indices + timestamps
    assert plan.count("collect_list") <= 2  # partial + final of ONE aggregation


def test_minhash_is_flat_codegen(spark, sf_dir):
    """Signature hashing must stay in whole-stage codegen (flat hash
    columns), not nested higher-order lambdas."""
    df = entry_mod.q_dedup_minhash(spark, sf_dir)
    plan = _physical(df)
    # hashes are flat expressions, never inside higher-order lambdas
    # (lambdafunction(...conv...) in the plan = fell out of codegen)
    assert "lambdafunction(cast(conv" not in plan
    # partial min aggregation combines map-side before the doc_id shuffle
    assert "partial_min" in plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Sweep EVERY driver query: a CartesianProduct (non-broadcast
    all-pairs join) would be a scale bug anywhere. BroadcastNestedLoopJoin
    is tolerated only where a deliberately-tiny side is replicated (1-row
    scalar/total flags, probe sets, centroid tables) — allowlisted
    explicitly so a new accidental NLJ fails the suite."""
    nlj_ok = {
        # 1-row broadcast sides: exists/scalar subquery flags and corpus
        # totals (in_(Model) compiles to a null-safe HASH join and needs
        # no exemption). Catalyst's OptimizeOneRowPlan sometimes folds
        # these away entirely, so presence is plan-state-dependent.
        "exists_subquery", "scalar_subquery", "tpch_q15", "tpch_q22",
        # 1-row × 1-row count frames per FK rule (total vs orphan counts):
        "check_constraints",
        # deliberately-small broadcast frames (corpus-total / probe set):
        "tfidf", "lm_score", "ann_bruteforce",
        # tiny broadcast probe side carrying the per-probe ADC LUTs
        # (rrf_fuse embeds the same two probe-side scans):
        "pq_search", "rrf_fuse",
        # 1-row (N, avgdl) stats frame replicated to the scored terms:
        "bm25",
        # 1-row exact-count frames crossed with the 1-row sketch estimate:
        "corpus_overlap", "cohens_kappa",
        # 1-row per-side moment frames crossed for the Welch statistic:
        "ab_test",
        # ungrouped grid_percentiles: 1-row GK-bracket/offset frames
        # broadcast onto the probe rows (no group key to hash-join on):
        "quantiles", "stats_moments", "kll_quantiles", "winsorize",
        "mad_outliers", "perplexity_buckets", "grid_percentiles",
        # ungrouped grid_percentiles cutoff (1 row) crossed onto the
        # corpus for the temporal-holdout tag / backtest fold windows:
        "time_split", "time_series_cv",
        # 1-row corpus-total frame replicated to the gated bigrams:
        "pmi_bigrams",
        # 1-row mean-weight frame replicated to the corpus filter:
        "weighted_sample",
        # 1-row chi²/entropy aggregate crossed with the 1-row
        # category-dimension frame:
        "cramers_v",
        # 1-row (n, mean) stats frame crossed with the 1-row CI-bounds
        # frame (both ungrouped aggregates):
        "bootstrap_ci",
        # 1-row observed-sum frame replicated to the draw sums, then the
        # 1-row count crossed back (the bootstrap_ci pattern):
        "permutation_test",
        # 1-row pool-size frame replicated to the anchors:
        "negative_sample",
        # 1-row totals frame replicated to the bounded top-k keys:
        "skew_report",
        # 1-row corpus-word-total frame replicated to the scored
        # trigram positions (the bm25/ab_test pattern):
        "lm3_score",
        # 1-row census frames (node/edge/triangle totals) crossed for
        # the single-row output:
        "triangle_count",
        # 1-row observation-end (max ts) frame replicated to the
        # per-user lifetimes:
        "kaplan_meier",
        # 1-row damped-dangling-mass share broadcast onto the rank frame
        # each iteration (r10: the share rides the plan instead of a
        # per-iteration collect — one job per iteration):
        "pagerank",
        # 1-row global-count frame replicated to the bounded
        # (quasi, sensitive) pair table:
        "t_closeness",
        # 1-row corpus-token-total frame replicated to the gated pairs
        # (the pmi_bigrams pattern):
        "cooccurrence",
        # 1-row margins frame crossed with the 1-row disagreement frame:
        "krippendorff_alpha",
        # 1-row digit-total frame replicated to the 9-row digit census:
        "benford_test",
        # 1-row moments frame replicated to the scored rows:
        "mahalanobis",
        # deliberately-tiny broadcast probe sides (two ann_bruteforce
        # passes — same exemption as ann_bruteforce):
        "matryoshka_eval",
        # 1-row (n, S, SS) series-stats frame replicated to the bounded
        # per-lag table (the bootstrap_ci pattern):
        "acf",
        # ungrouped dense bucket grid: live-xbucket frame (~2k rows)
        # crossed with the live-ybucket frame — both bounded by the
        # data-independent monotone bucket range:
        "kendall_tau_continuous",
        # 1-row exact-quantile cutoff frame broadcast onto the token
        # stream / type table (the time_split pattern), and the two
        # 1-row V/N aggregates crossed for the regression input:
        "heaps_law",
        # 1-row kept-basket-count frame replicated to the bounded pair
        # table (the pmi_bigrams corpus-total pattern):
        "assoc_rules",
        # two 1-row total/null-count frames crossed onto the 1-row
        # histogram aggregate (the check_constraints pattern):
        "join_cardinality",
        # 1-row corpus-total then 1-row normalizer frames replicated to
        # the bounded per-source frame (the bm25/ab_test pattern):
        "sampling_weights",
        # r9: the ann_bruteforce broadcast-probe exemption for its
        # forced-path A/B twins and the label-filtered variant:
        "ann_topk_salted", "ann_topk_single", "hard_negatives",
        # 1-row (n, mean) × 1-row CI-bounds frames (bootstrap_ci shape):
        "bootstrap_ci_explode",
        # 5-row bounded probe frame crossed with the distinct-groups
        # frame before the left counter join (cms_query contract):
        "cms_counts",
    }
    for name in entry_mod.queries():
        plan = _plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        if name not in nlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned writes must enable partition pruning: a
    filter on the partition column reaches the scan as a PartitionFilter
    and non-matching directories are never read."""
    from hashquery_spark import Connection, Model, attr

    conn = Connection(spark)
    conn.register_records(
        "pp_src",
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        schema="id long, part string, v double",
    )
    out = str(tmp_path / "pp")
    Model(conn, "pp_src").write(out, partition_by=["part"])
    back = spark.read.parquet(out).where("part = 'a'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "isnotnull(part" in plan, plan
    # the filter must appear as a PartitionFilter (directory pruning),
    # not just a post-scan Filter
    assert "(part#" in plan.split("PartitionFilters")[1][:120], plan
    assert back.count() == 10


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    """Sampling is a pure narrow filter: no exchange anywhere, and only
    the projected columns are read."""
    plan = _physical(entry_mod.q_stratified_sample(spark, sf_dir))
    assert "Exchange" not in plan
    scan_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" not in scan_schema  # never reads the document bodies


def test_global_shuffle_head_is_take_ordered(spark, sf_dir):
    """A bounded head of the shuffled order must not materialize a global
    sort (no range-partitioning sampling job)."""
    plan = _physical(entry_mod.q_global_shuffle(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    """The corpus side must never shuffle on gram: the benchmark gram set
    broadcasts, and the only exchange is the per-doc rollup."""
    plan = _physical(entry_mod.q_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_windows_per_document(spark, sf_dir):
    """The rank window must be partitioned by document — a global window
    (single partition) would be a scale cliff."""
    plan = _physical(entry_mod.q_tfidf(spark, sf_dir))
    import re
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^,]+),", plan):
        assert "doc_id" in spec


def test_curation_pipeline_single_scan_single_shuffle(spark, sf_dir):
    """The fused curation pipeline reads the corpus ONCE (five separate
    ops would scan five times) and shuffles ONCE (the exact-dedup keep)."""
    import re

    plan = _physical(entry_mod.q_curation_pipeline(spark, sf_dir))
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert len(re.findall(r"Exchange", plan)) == 1


def test_chunk_documents_is_one_codegen_stage(spark, sf_dir):
    """chunking: pruned 2-column scan with IsNotNull pushed, generate +
    project in ONE WholeStageCodegen span, zero exchanges."""
    import __spark_entry__ as entry

    df = entry.queries()["chunk_documents"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "PushedFilters: [IsNotNull(text)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_histogram_range_filter_reaches_scan(spark, sf_dir):
    """histogram with explicit range: the range predicate is pushed to the
    parquet scan, and the only exchange is the tiny groupBy(bin)."""
    import __spark_entry__ as entry

    df = entry.queries()["histogram"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(l_extendedprice,0.0)" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_join_many_preaggregates_before_join(spark, sf_dir):
    """join_many: the orders side aggregates per custkey BEFORE joining
    customer (fan-out-proof), with map-side partial aggregation."""
    import __spark_entry__ as entry

    df = entry.queries()["join_many_rollup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_pos = plan.find("Join")
    agg_pos = plan.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    assert "partial_count" in plan  # map-side partials on the many side


def test_dsir_weights_single_corpus_scan(spark, sf_dir):
    """DSIR scans the corpus parquet ONCE: per-(doc,bucket) counts are
    localCheckpointed and feed both the global bucket table and the
    per-doc scoring join — the only parquet scan left in the final plan
    is the (small) target sample (round-4 verdict item: the previous
    form tokenized the corpus twice — two full crawl passes at 100 TB)."""
    plan = _plan_of(spark, sf_dir, "dsir_weights")
    assert plan.count("Scan parquet") == 1  # target only; corpus is checkpointed
    assert "Checkpoint" in plan or "Scan ExistingRDD" in plan


def test_gap_fill_is_single_scan(spark, sf_dir):
    """The spine is generated from the aggregated frame itself (lead +
    sequence + one explode) — NOT via a spine join, which would scan the
    raw table twice."""
    plan = _plan_of(spark, sf_dir, "gap_fill")
    assert plan.count("FileScan") == 1
    assert "Generate explode" in plan
    assert "Join" not in plan


def test_mix_corpora_corpus_never_shuffles(spark, sf_dir):
    """Rates broadcast back to the corpus (BroadcastHashJoin on source);
    the only exchanges belong to the tiny totals frame, and the totals
    scan is column-pruned to (source, text)."""
    plan = _plan_of(spark, sf_dir, "mix_corpora")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(set(s.split(",")) >= {"doc_id:bigint"} for s in schemas)
    pruned = [s for s in schemas if "doc_id" not in s]
    assert pruned and all("lang" not in s for s in pruned)


def test_new_timeseries_ops_are_single_scan(spark, sf_dir):
    """time_weighted_avg / counter_delta / trailing_agg / script_profile /
    dedup_keep_best each read their table exactly once; shuffles stay at
    the documented budget (window or rollup only)."""
    budgets = {  # name -> (max scans, max exchanges)
        "time_weighted_avg": (1, 1),
        "counter_delta": (1, 1),
        "trailing_agg": (1, 2),
        "script_profile": (1, 0),
        "dedup_keep_best": (1, 1),
    }
    for name, (max_scans, max_ex) in budgets.items():
        plan = _plan_of(spark, sf_dir, name)
        assert plan.count("Scan parquet") <= max_scans, name
        assert plan.count("Exchange ") <= max_ex, name
        assert "SortMergeJoin" not in plan, name


def test_classifier_score_single_scan_broadcast_weights(spark, sf_dir):
    """classifier_score reads the corpus once, broadcasts the weight
    table (never a sort-merge join), and shuffles only for the per-doc
    rollup — the corpus text itself stays in its scan partitions."""
    plan = _plan_of(spark, sf_dir, "classifier_score")
    assert plan.count("Scan parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_against_fuzzy_verify_plan_shape(spark, sf_dir):
    """The verify/anti phase (everything after the checkpointed candidate
    pairs): candidate-id semi-joins and the final anti join are broadcast
    (O(pairs) frames, no arrays); the two verify joins on array-bearing
    candidate-filtered frames stay shuffle joins in the static plan — the
    scale-safe default, AQE converts them to broadcast when small. No
    cartesian products anywhere."""
    plan = _plan_of(spark, sf_dir, "dedup_against_fuzzy")
    assert plan.count("SortMergeJoin") <= 2
    assert "LeftAnti, BuildRight" in plan  # anti join broadcasts matched ids
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_sorted_write_produces_ordered_row_groups(spark, sf_dir, tmp_path):
    """Model.write(sort_by=...) sorts within each output task so parquet
    min/max stats are selective; verified by checking every written file
    is internally sorted on the sort column."""
    import glob

    from hashquery_spark import Model
    from hashquery_spark.connection import connection_for_dir

    conn = connection_for_dir(sf_dir, spark)
    out = str(tmp_path / "sorted_orders")
    Model(conn, "orders").write(out, sort_by=["o_totalprice"])
    files = glob.glob(f"{out}/*.parquet")
    assert files
    for f in files:
        vals = [
            r["o_totalprice"]
            for r in spark.read.parquet(f).select("o_totalprice").collect()
        ]
        assert vals == sorted(vals), f


def test_scale_report_flags_each_smell(spark, sf_dir):
    """plan_lint detects every smell class it documents, and a clean
    aggregate reports no warnings."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hashquery_spark import Model
    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.plan_lint import plan_report

    conn = connection_for_dir(sf_dir, spark)
    orders = conn.table("orders")
    nation = conn.table("nation")

    # clean: filtered aggregate
    clean = Model(conn, "orders").aggregate(
        groups=[], measures=[]
    )  # empty aggregate still plans
    rep = Model(conn, "orders").scale_report()
    assert rep["warnings"] == [] and rep["scans"] == 1

    # cartesian product (crossJoin of two real tables, no key)
    cart = plan_report(orders.crossJoin(nation.select(F.col("n_name"))))
    assert cart["cartesian_products"] >= 1 or cart["broadcast_nested_loop_joins"] >= 1
    assert cart["warnings"]

    # unpartitioned window over the whole table
    w = Window.orderBy("o_totalprice")
    unp = plan_report(orders.withColumn("rn", F.row_number().over(w)))
    assert unp["unpartitioned_windows"] >= 1
    assert any("unpartitioned" in s for s in unp["warnings"])

    # redundant scans: one frame consumed three ways with different pruning
    a = orders.groupBy("o_orderstatus").count()
    b = orders.groupBy("o_orderpriority").count()
    c = orders.groupBy("o_custkey").count().groupBy().count()
    tri = plan_report(a.crossJoin(b).crossJoin(c))
    assert tri["scans"] == 3
    assert any("separate file scans" in s for s in tri["warnings"])


def test_percentiles_default_to_gk_sketch(spark, sf_dir):
    """winsorize/mad_outliers default (exact=None) must NOT plan an exact
    ``percentile(`` buffer aggregate — grouped OR ungrouped (a
    low-cardinality skewed group key buffers a giant group on one reducer
    just like the ungrouped call; the perplexity_buckets lesson).
    exact=True routes through grid_percentiles' GK-bracketed exact
    refinement, which also plans no buffer aggregate (its
    percentile_approx is the bounded bracket pre-pass, not the result);
    a hand-built F.percentile is what plan_lint flags."""
    from pyspark.sql import functions as F

    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.ops import mad_outliers, winsorize
    from hashquery_spark.plan_lint import plan_report

    conn = connection_for_dir(sf_dir, spark)
    orders = conn.table("orders")

    for frame in (
        winsorize(orders, "o_totalprice"),
        mad_outliers(orders, "o_totalprice", threshold=3.0),
        winsorize(orders, "o_totalprice", by="o_orderstatus"),
        mad_outliers(orders, "o_totalprice", "o_orderpriority"),
    ):
        rep = plan_report(frame)
        assert rep["unpartitioned_exact_percentiles"] == 0, rep
        assert rep["grouped_exact_percentiles"] == 0, rep
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "percentile_approx" in plan

    # exact=True = GK-bracketed exact refinement: still no buffer agg
    # (percentile_approx appears only as the bounded bracket pre-pass)
    for frame in (
        winsorize(orders, "o_totalprice", exact=True),
        winsorize(orders, "o_totalprice", by="o_orderstatus", exact=True),
    ):
        rep = plan_report(frame)
        assert rep["unpartitioned_exact_percentiles"] == 0, rep
        assert rep["grouped_exact_percentiles"] == 0, rep

    # the raw buffer aggregates are what plan_lint exists to flag
    ungrouped = orders.agg(F.percentile(F.col("o_totalprice"), F.lit(0.5)))
    rep = plan_report(ungrouped)
    assert rep["unpartitioned_exact_percentiles"] >= 1
    assert any("EXACT percentile" in s for s in rep["warnings"])
    grouped = orders.groupBy("o_orderstatus").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5))
    )
    grep = plan_report(grouped)
    assert grep["grouped_exact_percentiles"] >= 1
    assert any("grouped EXACT percentile" in s for s in grep["warnings"])


def test_perplexity_buckets_plans_no_percentile_buffer(spark, sf_dir):
    """perplexity_buckets' default path must compute its per-language
    terciles via grid_percentiles (GK-bracketed exact refinement) — no
    exact ``percentile(`` buffer aggregate anywhere; the terciles stay
    exact (the percentile_approx in the plan is only the bracket
    pre-pass, whose bounds never reach the output)."""
    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.ops import perplexity_buckets
    from hashquery_spark.plan_lint import plan_report

    docs = connection_for_dir(sf_dir, spark).table("documents")
    frame = perplexity_buckets(docs, "text", "doc_id")
    rep = plan_report(frame)
    assert rep["unpartitioned_exact_percentiles"] == 0, rep
    assert rep["grouped_exact_percentiles"] == 0, rep
    plan = frame._jdf.queryExecution().executedPlan().toString()
    # the GK bracket pre-pass: since r9 the bounded bracket frame is
    # eagerly checkpointed (the full-data GK pass ran 2-3x through the
    # differently-pruned joined consumers), so the final plan shows its
    # __blo_/__bhi_ bound columns as a LogicalRDD rather than an inline
    # percentile_approx aggregate
    assert "percentile_approx" in plan or "__blo_" in plan


def test_ivf_search_reuses_cached_index(spark, sf_dir):
    """ivf_index(cache=True) pays its centroid collect ONCE: constructing a
    further ivf_search plan against the cached index launches ZERO driver
    jobs (the collect lives in ivf_index only), and the persisted cell
    assignment is read from the InMemory relation, not re-derived."""
    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.ops import ivf_index, ivf_search

    conn = connection_for_dir(sf_dir, spark)
    emb = conn.table("embeddings")
    probes = emb.where("vec_id < 5")

    tracker = spark.sparkContext.statusTracker()
    jobs_before_index = len(tracker.getJobIdsForGroup())
    index = ivf_index(emb, "embedding", "vec_id", n_centroids=8, cache=True)
    assert len(tracker.getJobIdsForGroup()) > jobs_before_index  # the collect

    first = ivf_search(index, probes, k=10, n_probe=2)
    n_first = first.count()
    assert n_first > 0

    jobs_before_search = len(tracker.getJobIdsForGroup())
    second = ivf_search(index, probes, k=10, n_probe=2)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert len(tracker.getJobIdsForGroup()) == jobs_before_search
    assert "InMemoryTableScan" in plan  # assignment reused, not re-scanned
    # the SEARCH-READY (flattened) projection is what's cached: the second
    # search reads the corpus side straight from the InMemory relation, so
    # the plan TREE's only file-scan leaf is the probe side. (String greps
    # are contaminated here — an InMemoryRelation prints its cached child
    # plan, scans and all — so walk the actual leaves.)
    kinds = []

    def walk(n):
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(n.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(n.plan())
            return
        ch = n.children()
        if ch.size() == 0:
            kinds.append(n.nodeName())
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(second._jdf.queryExecution().executedPlan())
    assert sum("Scan parquet" in k or "FileScan" in k for k in kinds) == 1, kinds
    assert any("InMemoryTableScan" in k for k in kinds), kinds
    assert index.flat_assigned() is index.flat_assigned()  # memoized
    assert second.count() == n_first
    index.unpersist()


def test_zorder_write_skips_on_every_dimension(spark, sf_dir, tmp_path):
    """Model.write(zorder_by=[a, b]) must leave row-group min/max stats
    selective on BOTH columns: for a point-ish predicate on each
    dimension alone, most row groups' [min, max] must exclude the probe.
    A plain single-column sort achieves this only for its leading key."""
    import glob

    import pyarrow.parquet as pq

    from hashquery_spark import Model
    from hashquery_spark.connection import connection_for_dir

    conn = connection_for_dir(sf_dir, spark)
    zout = str(tmp_path / "z_orders")
    sout = str(tmp_path / "s_orders")
    Model(conn, "orders").write(
        zout, zorder_by=["o_custkey", "o_totalprice"], zorder_bits=4,
        zorder_partitions=16,
    )
    # comparison layout: globally ordered on custkey only (16 range files)
    Model(conn, "orders").to_df().repartitionByRange(
        16, "o_custkey"
    ).sortWithinPartitions("o_custkey").write.mode("overwrite").parquet(sout)

    def coverage(path, col, probe):
        touching = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                total += 1
                if st.min <= probe <= st.max:
                    touching += 1
        assert total >= 8, f"need several row groups, got {total}"
        return touching / total

    med_cust = Model(conn, "orders").to_df().selectExpr(
        "percentile_approx(o_custkey, 0.5D) AS m"
    ).collect()[0]["m"]
    med_price = Model(conn, "orders").to_df().selectExpr(
        "percentile_approx(o_totalprice, 0.5D) AS m"
    ).collect()[0]["m"]
    # z-order: BOTH dimensions skip most row groups
    assert coverage(zout, "o_custkey", med_cust) <= 0.6
    assert coverage(zout, "o_totalprice", med_price) <= 0.6
    # single-key sort: the non-sort dimension cannot skip
    assert coverage(sout, "o_totalprice", med_price) >= 0.8

    # round-trip: no rows lost or duplicated
    n_src = Model(conn, "orders").to_df().count()
    assert spark.read.parquet(zout).count() == n_src


def test_run_metrics_measures_shuffle_and_scan(spark, sf_dir):
    """Model.run_metrics(): executed-plan SQL metrics surface real
    numbers — scan rows equal the table, the aggregate shuffles a
    bounded record count, and nothing spills at this scale."""
    from hashquery_spark import Model, attr, func
    from hashquery_spark.connection import connection_for_dir

    conn = connection_for_dir(sf_dir, spark)
    m = Model(conn, "orders").aggregate(
        groups=[attr.o_orderstatus], measures=[func.count().named("n")]
    )
    rep = m.run_metrics()
    t = rep["totals"]
    n_orders = Model(conn, "orders").to_df().count()
    assert t["scan_output_rows"] == n_orders
    assert 0 < t["shuffle_records_written"] <= 3 * 32  # partials per task
    assert t["spill_bytes_memory"] == 0 and t["spill_bytes_disk"] == 0
    assert t["files_read"] >= 1
    assert any(n == "HashAggregate" for n, _, _ in rep["nodes"])


def test_round4_window2_scan_and_shuffle_budgets(spark, sf_dir):
    """Plan-shape pins for the round-4 window-2 operators: each reads
    its table within the documented scan budget and never falls back to
    a sort-merge join (bounded sides broadcast)."""
    budgets = {  # name -> (max parquet scans, sort_merge_ok)
        "anova_f": (1, False),
        # r5: histogram prefix sums are two-phase (two differently-pruned
        # consumers of the bucketed histogram -> the pruned scan+agg runs
        # twice, wide and map-side-combined — the price of never sorting
        # a whole group in one task)
        "mann_whitney": (2, False),
        "corr_matrix": (1, False),
        # bucket agg + join-back are two differently-pruned consumers
        "seasonal_baseline": (2, False),
        "benford_test": (2, False),  # digit census + 1-row total
        "hhi": (1, False),
        "brier_score": (1, False),
        "log_loss": (1, False),
        "period_over_period": (1, False),
        "cusum_changepoints": (1, False),
        "ewma": (1, False),
        "quantile_normalize": (4, False),
        "kaplan_meier": (1, False),  # checkpointed bounded histogram
        "win_rate": (2, False),  # winner/loser union branches
        # conf table is checkpointed (0 scans in the final plan); the
        # full-outer label/pred merge runs on the BOUNDED class table,
        # where a sort-merge join is harmless by construction
        "classification_report": (1, True),
        "t_closeness": (1, False),
        "krippendorff_alpha": (1, False),
        # two corpora halves -> two scans per side is the contract
        "vocab_drift": (2, False),
        "vocab_top_movers": (2, False),
        # full + truncated ANN pass over corpus and probes
        "matryoshka_eval": (4, False),
    }
    for name, (max_scans, smj_ok) in budgets.items():
        plan = _plan_of(spark, sf_dir, name)
        assert plan.count("Scan parquet") <= max_scans, (
            f"{name}: {plan.count('Scan parquet')} scans"
        )
        if not smj_ok:
            assert "SortMergeJoin" not in plan, name


def test_ivf_index_persistence_round_trip(spark, sf_dir, tmp_path):
    """r4 verdict #6: a WRITTEN index amortizes the centroid-collect +
    assignment build across SESSIONS. Loading pays exactly the bounded
    centroid-file read; constructing a search plan against the loaded
    index launches ZERO further driver jobs, and results are identical
    to searching the in-memory index."""
    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.ops import ivf_index, ivf_search, load_ivf_index

    conn = connection_for_dir(sf_dir, spark)
    emb = conn.table("embeddings")
    probes = emb.where("vec_id < 5")

    built = ivf_index(emb, "embedding", "vec_id", n_centroids=8)
    expected = sorted(
        (r.probe_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_search(built, probes, k=10, n_probe=2).collect()
    )
    path = str(tmp_path / "ivf")
    built.write(path)

    loaded = load_ivf_index(spark, path)
    assert loaded.cents == built.cents
    assert loaded.id_col == "vec_id" and loaded.vec_col == "embedding"

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup())
    search_plan = ivf_search(loaded, probes, k=10, n_probe=2)
    # plan CONSTRUCTION against a loaded index is job-free (the centroid
    # literals came from the load; nothing collects)
    assert len(tracker.getJobIdsForGroup()) == jobs_before
    got = sorted(
        (r.probe_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in search_plan.collect()
    )
    assert got == expected and len(got) > 0


def test_round4_window1_scan_and_shuffle_budgets(spark, sf_dir):
    """Plan-shape pins for the round-4 window-1 operators (r4 verdict
    #8 — these got values-parity in r4 but no scan-count/no-SMJ pins):
    each reads its table within the documented scan budget and, unless
    noted, never falls back to a sort-merge join."""
    budgets = {  # name -> (max parquet scans, sort_merge_ok)
        "average_precision": (3, False),  # r5 two-phase prefix sums
        # per-rank-column two-phase prefix sum: the bucketed histogram
        # feeds the windowed cumsum AND the bucket-total agg (x2 columns)
        # + the row join-back — 5 pruned scans, every one map-side agg'd
        # (the r5 fix: the old per-group ordered window buffered the
        # whole near-continuous histogram in ONE task at sf1)
        "spearman": (5, False),
        "cramers_v": (2, False),  # pair census + 1-row total
        "v_measure": (1, False),  # one entropy cube
        "bootstrap_ci": (2, False),  # replicate explode + stats pass
        # planted-dup union doubles the corpus branch; 4 pruned scans
        "phash_near_dup": (4, False),
        # PPJoin prefix join: both gram sides are corpus-sized by
        # construction — a sort-merge join IS the right plan there
        "containment_join": (2, True),
        "fleiss_kappa": (1, False),
        "mutual_information": (1, False),  # one cube, no join-back
        "ks_test": (4, False),  # two ECDF prefix passes per side
        "rouge_l": (2, False),
        "retrieval_metrics": (1, False),
        "zipf_fit": (1, False),
        "interarrival_stats": (1, False),
        "chi_square_drift": (2, False),
        "embedding_quantize": (1, False),
        "bloom_contamination": (4, False),  # k word-probe branches
        "fairness_report": (1, False),
    }
    for name, (max_scans, smj_ok) in budgets.items():
        plan = _plan_of(spark, sf_dir, name)
        assert plan.count("Scan parquet") <= max_scans, (
            f"{name}: {plan.count('Scan parquet')} scans"
        )
        if not smj_ok:
            assert "SortMergeJoin" not in plan, name


def test_round5_and_r6_scan_and_shuffle_budgets(spark, sf_dir):
    """Plan-shape pins for the round-5 ops (r5 verdict #6: they rode the
    global cartesian/NLJ sweep but lacked per-op budgets) plus the r6
    rewrites. Scan budgets are per the documented design; SMJ allowed
    only where both sides are corpus-scale by construction."""
    budgets = {  # name -> (max parquet scans, sort_merge_ok)
        # cells + tx + ty + nrow + pair self-join — 5 pruned scans of
        # the bounded joint-grid contingency lineage
        "kendall_tau": (5, False),
        # stats frame is checkpointed (0 parquet scans in the plan);
        # its 1-row broadcast cross is the allowlisted NLJ
        "acf": (1, False),
        "pack_stats": (2, False),
        # two sides x (segment keys + short-string keys + verify) —
        # all blocking-based, every scan pruned
        "edit_distance_join": (6, False),
        "corr_matrix_fast": (1, False),
        # narrow (keys, x, y, buckets) projection is eagerly
        # checkpointed (0 parquet scans in the final plan) — nine
        # differently-pruned consumers otherwise rescan the raw table
        "kendall_tau_continuous": (1, False),
        # token-stream branch (id, text) + distinct-vocab branch (text
        # only): deliberately two PRUNED scans — the one-scan forms
        # either materialize the exploded token stream or collect every
        # stopword occurrence into one row (unbounded skew)
        "unigram_tokenize": (2, False),
        # assignment is a lazily-checkpointed built artifact (0 parquet
        # scans in the search plan); the in-cell pair self-join has
        # corpus-scale sides by construction — SMJ is the right plan
        "semantic_dedup_auto": (1, True),
    }
    for name, (max_scans, smj_ok) in budgets.items():
        plan = _plan_of(spark, sf_dir, name)
        assert plan.count("Scan parquet") <= max_scans, (
            f"{name}: {plan.count('Scan parquet')} scans"
        )
        if not smj_ok:
            assert "SortMergeJoin" not in plan, name


def test_verify_repartitions_are_not_aqe_coalescable(spark, sf_dir):
    """r10 (measured): a bare .repartition(col) before the shingle HOF is
    AQE-COALESCABLE — on a small-at-this-scale frame AQE collapsed it to
    ~1 partition and the interpreted gram build ran single-core (9.2 s vs
    1.4 s on identical sf0.1 data). Every verify-path repartition must be
    the explicit-count form (REPARTITION_BY_NUM in the plan), which AQE
    preserves."""
    for name in (
        "containment_join",
        "fuzzy_join",
        "dedup_against_fuzzy",
        "leakage_report",
        "leakage_index",
        "dedup_jaccard" if "dedup_jaccard" in entry_mod.queries() else
        "dedup_minhash",
    ):
        plan = _plan_of(spark, sf_dir, name)
        assert "REPARTITION_BY_COL" not in plan, (
            f"{name}: AQE-coalescable repartition before an expensive "
            "projection — use ops.dedup.repartition_for_projection"
        )


def test_dedup_clusters_one_job_per_round(spark):
    """r10 (r9 verdict #3): the CC loop runs ONE job per round — the
    lazy per-round localCheckpoint is materialized by the convergence
    count itself, with no separate probe action — plus one init job
    that materializes edges + seed labels together. AQE is disabled for
    the measurement so one action == one job (with AQE on, each
    exchange materializes as its own stage-job and the count is
    environment-dependent); the path graph 1-2-3-4-5 converges in
    exactly 5 rounds (the min label travels one hop per round, plus the
    confirming no-change round)."""
    from hashquery_spark.ops import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc = spark.sparkContext
    try:
        # count jobs via an EXPLICIT job group: the default-group id list
        # is capped by spark.ui.retainedJobs, so a bare len() delta goes
        # negative after thousands of prior suite jobs (measured — this
        # test read -94 in the full suite and 6 in isolation)
        sc.setJobGroup("r10_cc_jobcount", "dedup_clusters job-count pin")
        labels = dedup_clusters(pairs)
        jobs = len(sc.statusTracker().getJobIdsForGroup("r10_cc_jobcount"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert jobs == 6, f"expected 1 init + 5 round jobs, saw {jobs}"
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_dedup_clusters_frees_intermediate_checkpoints(spark):
    """r10 (r9 ADVICE): the CC loop unpersists each superseded round's
    checkpointed labels (and edges after the loop) instead of leaving up
    to max_iterations frames in executor storage until driver GC — live
    frames stay bounded. Only the RETURNED frame's RDD (plus anything
    other tests persisted) may remain."""
    from hashquery_spark.ops import dedup_clusters

    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    before_ids = {int(k) for k in jmap.keySet().toArray()}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    labels = dedup_clusters(pairs)
    assert labels.count() == 5
    jmap = sc._jsc.getPersistentRDDs()
    new_ids = {int(k) for k in jmap.keySet().toArray()} - before_ids
    # 5 rounds ran: without cleanup this loop leaves 1 edges + 1 seed +
    # 5 round frames persisted; with cleanup only the final round's
    # frame survives
    assert len(new_ids) <= 1, (
        f"{len(new_ids)} persisted RDDs leaked from the CC loop"
    )


def test_pagerank_one_job_per_iteration_and_bounded_storage(spark):
    """r10: pagerank's damped-dangling-mass share rides the plan as a
    broadcast 1-row aggregate over the deg-carrying rank CHECKPOINT
    instead of a per-iteration driver collect — the old collect
    re-evaluated a full ranks-joins-topo per iteration; the broadcast
    build now reads persisted blocks only, and topo is joined once per
    iteration instead of twice. Jobs: 3 init (node count, topo ckpt,
    seed ckpt) + 2 per iteration (share broadcast build over cached
    blocks + the eager rank checkpoint). Superseded per-iteration
    checkpoints and topo are unpersisted — live persisted RDDs stay
    bounded instead of growing with iters."""
    from hashquery_spark.ops import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    sc = spark.sparkContext
    before_ids = {
        int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("r10_pr_jobcount", "pagerank job-count pin")
        ranks = pagerank(edges, "src", "dst", iters=4)
        jobs = len(sc.statusTracker().getJobIdsForGroup("r10_pr_jobcount"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert jobs == 3 + 2 * 4, (
        f"expected 3 init + 2 jobs per iteration, saw {jobs}"
    )
    new_ids = {
        int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    } - before_ids
    assert len(new_ids) <= 1, (
        f"{len(new_ids)} persisted RDDs leaked from the pagerank loop"
    )
    # returned frame still collectable (final checkpoint alive), sums ~1
    total = sum(r["pagerank"] for r in ranks.collect())
    assert abs(total - 1.0) < 1e-6


def test_label_propagation_bounded_storage(spark):
    """r10 storage hygiene: label_propagation unpersists superseded
    per-round label checkpoints and the bidirectional edge frame."""
    from hashquery_spark.ops import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    sc = spark.sparkContext
    before_ids = {
        int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    out = label_propagation(edges, "src", "dst", iters=4)
    rows = out.collect()  # returned frame collectable after cleanup
    assert {r["node"] for r in rows} == {"a", "b", "c", "d", "e"}
    # the d-e component can never see an a/b/c label
    assert {r["community"] for r in rows if r["node"] in ("d", "e")} <= {
        "d", "e",
    }
    new_ids = {
        int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    } - before_ids
    assert len(new_ids) <= 1, (
        f"{len(new_ids)} persisted RDDs leaked from the LPA loop"
    )


def test_pq_search_with_memoized_build_runs_zero_build_jobs(spark, sf_dir):
    """r10 (r9 verdict #8): pq_search/ivf_pq_search against a memoized
    build (codebooks + candidates bound, or a cached IvfIndex) must
    CONSTRUCT without launching any job — the codebook collect and the
    two-phase-auto count are index-build work, paid once, like
    test_ivf_search_reuses_cached_index pins for ann_ivf."""
    from hashquery_spark.connection import connection_for_dir
    from hashquery_spark.ops import ivf_index, ivf_pq_search, pq_search
    from hashquery_spark.ops.similarity import _pq_codebooks

    conn = connection_for_dir(sf_dir, spark)
    emb = conn.table("embeddings")
    probes = emb.where("vec_id < 5")
    tracker = spark.sparkContext.statusTracker()

    books = _pq_codebooks(emb, "embedding", "vec_id", 4, 16)
    n = emb.count()
    index = ivf_index(emb, "embedding", "vec_id", n_centroids=8, cache=True)
    first = ivf_pq_search(
        emb, probes, "embedding", "vec_id", n_probe=2, m=4, k=16, top=10,
        index=index,
    )
    assert first.count() > 0  # warm: build_pq + cell_stats memoize

    jobs_before = len(tracker.getJobIdsForGroup())
    pq_search(
        emb, probes, "embedding", "vec_id", m=4, k=16, top=10,
        codebooks=books, candidates=n,
    )
    ivf_pq_search(
        emb, probes, "embedding", "vec_id", n_probe=2, m=4, k=16, top=10,
        index=index,
    )
    assert len(tracker.getJobIdsForGroup()) == jobs_before, (
        "repeat-search construction launched build jobs"
    )


# the bi_semantic benchmark workload's ten Model queries
_BI_QUERIES = (
    "scan_filter_sort_limit", "join_one_left", "in_subquery", "funnel",
    "match_steps_detail", "tpch_q1", "tpch_q8", "timeseries_rollup",
    "retention_curve", "scd2_build",
)


def test_repeated_queries_reuse_generated_code(spark, sf_dir):
    """default_session sizes the whole-stage-codegen cache to the query
    working set. At Spark's default cap of 100 classes, one round of these
    ten queries needs ~150, so the LRU evicts each class before its query
    comes round again and every repeat recompiles every stage in Janino
    (measured 154 / 150 / 150 compiles per round; 153 / 0 / 0 with the
    cap). AQE replanning can add a few stray compiles to a repeat, so the
    pin is a fraction, not zero. Counts Janino compiles, not wall time. The
    cache is cleared first so round 1 is cold whatever earlier tests in
    this session compiled."""
    from hashquery_spark import RunResults

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    cache_field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    cache_field.setAccessible(True)
    cache_field.get(None).invalidateAll()

    queries = entry_mod.queries()
    per_round = []
    for _ in range(3):
        before = compiles.getCount()
        for name in _BI_QUERIES:
            assert len(RunResults(queries[name](spark, sf_dir)).df) > 0, name
        per_round.append(compiles.getCount() - before)
    cold, *warm = per_round
    assert cold > 4 * len(_BI_QUERIES), per_round
    assert all(n < 0.25 * cold for n in warm), per_round
