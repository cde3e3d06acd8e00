"""Plan-shape regression tests: the 100 TB posture as assertions.

If a refactor drops a broadcast hint, un-pushes a filter, or widens a
scan, these fail before any benchmark notices.
"""

from __future__ import annotations

from data_integration_case_study_spark.plans import analytics, relational


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_flagship_plan_broadcasts_and_prunes(spark, sf_dir):
    # customer carries NO broadcast hint (it is SF-scaled); at this SF the
    # planner must still choose broadcast joins from its size estimates
    plan = _formatted_plan(analytics.flagship_revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan            # small sides broadcast
    assert "SortMergeJoin" not in plan            # nothing falls back at this SF
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in plan
    # column pruning: the lineitem scan must read exactly 3 columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_no_forced_broadcast_on_sf_scaled_tables(spark, sf_dir):
    # 100 TB posture: only fixed-size nation/region (and tiny derived
    # aggregates) may carry explicit broadcast hints — a hint on
    # customer/supplier/part/orders overrides AQE sizing and OOMs at scale.
    # The logical plans here join every SF-scaled table; each must still
    # broadcast at this SF (statically or via AQE), proving the hint was
    # unnecessary locally and harmful only at scale.
    for q in (
        relational.q5_region_revenue,
        relational.q18_large_orders,
        relational.q16_supplier_parts,
        relational.rollup_revenue,
    ):
        df = q(spark, sf_dir)
        logical = df._jdf.queryExecution().analyzed().toString()
        # hints survive analysis as ResolvedHint nodes; count only allows
        # the fixed-size dims (nation and/or region)
        assert logical.count("ResolvedHint") <= 2, q.__name__
        plan = _formatted_plan(df)
        assert "BroadcastHashJoin" in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_q6_predicates_pushed_to_scan(spark, sf_dir):
    plan = _formatted_plan(relational.q6_forecast_revenue(spark, sf_dir))
    assert "GreaterThanOrEqual(l_discount,0.03)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," in plan


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = _formatted_plan(relational.topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_pipeline_queries_shuffle_budget(spark, sf_dir):
    # the training-pipeline stages declare their shuffle budgets: chunking
    # and PII scrub are map-only; the splits/samples add at most the one
    # count aggregation; packing = chunking + one window + one agg
    from data_integration_case_study_spark.plans import pipeline_queries as pq

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert exchanges(pq.doc_chunking(spark, sf_dir)) == 0
    assert exchanges(pq.pii_redaction(spark, sf_dir)) == 0
    assert exchanges(pq.stratified_sample(spark, sf_dir)) == 0
    assert exchanges(pq.train_val_test_split(spark, sf_dir)) <= 1
    assert exchanges(pq.bigram_counts(spark, sf_dir)) <= 1
    assert exchanges(pq.pack_sequences(spark, sf_dir)) <= 2


def test_round3_batch_shuffle_budget(spark, sf_dir):
    # the late-round-3 additions declare their shuffle budgets too:
    # random_projection is map-only; the rest are bounded small constants
    # (window/agg/join stages over compact summaries)
    from data_integration_case_study_spark.plans import (
        corpus_queries as cq,
        events_queries as eq,
        vector_queries as vq,
    )

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    # the single Exchange is the scan spread (repartition-up before the
    # sha256-heavy projection) — a no-op on inputs that already meet the
    # cluster parallelism (test_spread_never_coalesces)
    assert exchanges(vq.random_projection(spark, sf_dir)) <= 1
    assert exchanges(cq.paragraph_dedup(spark, sf_dir)) <= 4
    assert exchanges(cq.quality_classifier(spark, sf_dir)) <= 6
    assert exchanges(eq.heavy_hitter_users(spark, sf_dir)) <= 4
    assert exchanges(eq.event_type_markov(spark, sf_dir)) <= 6


def test_spread_never_coalesces(spark, sf_dir):
    # _spread parallelizes narrow scans but must be a no-op on inputs that
    # already meet the cluster parallelism (no accidental coalesce at scale)
    from data_integration_case_study_spark.plans.pipeline_queries import _spread
    from data_integration_case_study_spark.sources.readers import read_parquet_table

    par = spark.sparkContext.defaultParallelism
    narrow = read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert _spread(narrow).rdd.getNumPartitions() == par
    wide = narrow.repartition(par * 2)
    assert _spread(wide).rdd.getNumPartitions() == par * 2


def test_dynamic_partition_pruning(spark, sf_dir):
    # partition-pruned fact scan driven by a dim-side filter the planner
    # cannot resolve statically: DPP must inject the runtime subquery
    # filter into the scan's PartitionFilters (at 100 TB this is the
    # difference between scanning one date partition and all of them)
    import tempfile

    from data_integration_case_study_spark.sources.readers import read_parquet_table

    d = tempfile.mkdtemp(prefix="orders_part_")
    read_parquet_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], "st string, descr string"
    )
    joined = fact.join(dim.filter("descr = 'open'"), fact.o_orderstatus == dim.st)
    plan = _formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan


def test_no_python_row_udfs_or_cartesian_in_catalog(spark, sf_dir):
    # engine policy (SURVEY §2.8): BatchEvalPython (row UDFs) never appears
    # — ArrowEvalPython/mapInPandas are the only sanctioned Python stages —
    # and no query's physical plan contains an un-broadcast cartesian
    # product (1-row broadcast cross joins compile to BroadcastNestedLoop,
    # which is fine; CartesianProduct at 100 TB is a job that never ends)
    import __spark_entry__ as m

    for name, fn in m.queries().items():
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        assert "BatchEvalPython" not in qe.optimizedPlan().toString(), name
        assert "CartesianProduct" not in qe.executedPlan().toString(), name


def test_neardup_agreement_does_not_replicate_detector_subtrees(spark, sf_dir):
    # Round-6 lesson: unioning N selects over the same 1-row fold
    # replicates the WHOLE upstream subtree per union branch in the
    # logical plan, and exchange reuse only partially deduplicates it
    # (the three dedup detectors executed ~twice: 32s vs 15s at sf0.1).
    # The unpivot must EXPLODE an array built from one fold instead.
    # Fused, the three detectors scan documents 8 times total (their
    # internal shingle/truth passes); the self-union form doubles that.
    # Cache must be empty first: an earlier test's persisted detector
    # fragment substitutes InMemoryRelation for the parquet scans and
    # zeroes the count (order-dependence caught in the full suite).
    # Self-calibrating since round 8 (the bounded ngram plan persists its
    # rank/token frames, and InMemoryRelation PRINTS its cached lineage,
    # so a fixed substring budget now over-counts scans that execute
    # once): the agreement plan embeds each detector exactly once, so its
    # scan-reference count must not exceed the three detectors built
    # standalone — the union-of-selects regression doubles it.
    import __spark_entry__ as m

    def scans(df):
        return (
            df._jdf.queryExecution().optimizedPlan().toString()
        ).count("documents.parquet")

    from data_integration_case_study_spark.operators import cache

    spark.catalog.clearCache()
    try:
        budget = 0
        for det in (
            "minhash_lsh_neardups", "ngram_jaccard_neardups",
            "simhash_neardups",
        ):
            budget += scans(m.queries()[det](spark, sf_dir))
        n_scans = scans(m.queries()["neardup_method_agreement"](spark, sf_dir))
        assert 0 < n_scans <= budget, (
            f"documents scan references {n_scans}x > detector budget {budget} "
            "— the unpivot is replicating the detector subtrees again (use "
            "explode over one fold, not a union of selects)"
        )
    finally:
        # the bounded detectors call cache.track() at CONSTRUCTION time;
        # a later test's plan assertions would otherwise see
        # InMemoryRelation substituted for these subtrees (the exact
        # order-dependence the clearCache above guards against)
        cache.release_tracked()
        spark.catalog.clearCache()


def test_range_join_ship_weeks_feeds_day_grain(spark, sf_dir):
    # Round-6 lesson: the range predicate only reads l_shipdate, so the
    # probe side must collapse to (day, count) BEFORE the bucketed range
    # join — the raw-row feed materializes ~170M pairs at sf0.1 (75s) for
    # the same 5-row answer. Pin: an Aggregate keyed on l_shipdate sits
    # below the range join in the optimized plan.
    import __spark_entry__ as m

    import re

    qe = m.queries()["range_join_ship_weeks"](spark, sf_dir)
    op = qe._jdf.queryExecution().optimizedPlan().toString()
    # Loose on SPELLING only (round-6 advice): a Spark version bump can
    # qualify or ID-suffix the grouping expression (`l_shipdate#12`,
    # `spark_catalog.x.l_shipdate`), so allow those — but the first
    # grouping key must still BE l_shipdate itself, not merely an
    # expression containing it: a post-join weekly rollup groups by
    # `date_trunc(week, l_shipdate#12)` and an anywhere-in-list
    # substring match would false-pass on exactly the row-grain-feed
    # regression this test pins.
    assert re.search(r"Aggregate \[(?:[\w$.]+\.)?l_shipdate(?:#\d+)?[,\]\s]", op), (
        "lineitem is feeding the range join at row grain — pre-aggregate "
        "to (day, count) first:\n" + op[:2000]
    )


def test_null_safe_join_counts_pre_aggregates(spark, sf_dir):
    # Round-7 sf1 audit: the answer is per-key counts, so each side must
    # collapse to (k, cnt) BEFORE the null-safe self-join — the row-grain
    # form materializes |k-group|^2 pairs (2.75e9 at sf1, 87.8x wall on
    # 10x data) for the same ~41-row answer. Pin: the optimized plan's
    # ROOT region is the join (tree prints root first), with the
    # Aggregates BELOW it as join children — the regressed form has an
    # Aggregate ABOVE the join instead.
    import __spark_entry__ as m

    qe = m.queries()["null_safe_join_counts"](spark, sf_dir)
    op = qe._jdf.queryExecution().optimizedPlan().toString()
    i_join = op.find("Join")
    i_agg = op.find("Aggregate")
    assert i_join != -1 and i_agg != -1, op[:2000]
    assert i_join < i_agg, (
        "an Aggregate sits above the null-safe join — the self-join is "
        "back at row grain:\n" + op[:2000]
    )


def test_spatial_grid_join_salts_the_cell_join(spark, sf_dir):
    # Round-7 verdict ask #5: a dense metro cell must fan out over
    # _GEO_SALT_N reducer tasks, not become one straggler. Pin: the cell
    # equi-join carries the salt column in its keys (physical-only — the
    # 9x-exploded probe holds one deterministic salt, the un-exploded
    # target replicates over all of them, so the pair answer is
    # unchanged and the oracle untouched).
    from data_integration_case_study_spark.plans import advanced

    import re

    df = advanced.spatial_grid_join(spark, sf_dir)
    op = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"__salt#\d+ = __salt#\d+", op), (
        "salt equality gone from the spatial join condition:\n" + op[:2000]
    )


def test_spatial_knn_join_prunes_phase2_targets(spark, sf_dir):
    # Round 8 review fix: phase 2 must not build the 8x salt-replicated
    # target side from ALL points — targets semi-join against the
    # broadcast set of coarse cells an unfinished probe actually rings,
    # so the dense regime (phase-1 takeover ~100%) prunes the whole
    # phase-2 target shuffle. Pin: a broadcast LEFT-SEMI join exists in
    # the optimized plan, and the salted cell join still carries the
    # salt key (the spatial_grid_join pin, inherited).
    import re

    from data_integration_case_study_spark.plans import advanced

    df = advanced.spatial_knn_join(spark, sf_dir)
    op = df._jdf.queryExecution().optimizedPlan().toString()
    semi = re.search(r"Join LeftSemi.*cy#\d+ = cy#\d+.*cx#\d+ = cx#\d+.*", op)
    assert semi, "phase-2 target cell semi-join gone:\n" + op[:2000]
    # broadcast evidence: accept the logical hint text (engine-version
    # formatting) OR the physical BroadcastHashJoin LeftSemi node — a
    # real plan regression loses both; a formatting change loses only one
    phys = df._jdf.queryExecution().sparkPlan().toString()
    logical_hint = "strategy=broadcast" in semi.group(0)
    physical_bhj = re.search(r"BroadcastHashJoin.*LeftSemi", phys)
    assert logical_hint or physical_bhj, (
        "cells_needed broadcast gone from the semi-join (no logical hint "
        "and no physical BroadcastHashJoin LeftSemi):\n" + semi.group(0)
        + "\n--- physical ---\n" + phys[:2000]
    )
    assert re.search(r"__salt#\d+ = __salt#\d+", op), (
        "salt equality gone from the phase-2 cell join:\n" + op[:2000]
    )


def test_blocked_rank_matches_window_rank(spark, sf_dir):
    # The two-phase distributed rank (operators/dedup.blocked_rank) must
    # equal row_number() OVER (PARTITION BY block ORDER BY id) exactly —
    # it feeds the successor-bounded near-dup joins, where a rank skew
    # silently changes which pairs are compared.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.operators.dedup import blocked_rank
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    from data_integration_case_study_spark.operators import cache

    c = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("block"),
    )
    try:
        two_phase = blocked_rank(c, "block", "id")
        window = c.withColumn(
            "__w",
            F.row_number().over(Window.partitionBy("block").orderBy("id")),
        )
        diff = (
            two_phase.join(window, ["id", "block"])
            .filter(F.col("__r") != F.col("__w"))
            .count()
        )
        assert diff == 0
    finally:
        # blocked_rank persists its ranked frame via the tracked cache;
        # release it so later plan-shape tests see no InMemoryRelation
        cache.release_tracked()
        spark.catalog.clearCache()


def _node_counts(df):
    """Executed-plan node counts (the AQE initial plan, cached subplans
    included): Exchange (shuffle + broadcast), SortMergeJoin and
    BroadcastHashJoin."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    names = Counter(
        re.findall(r"^[\s:|+\-]*(?:\*\(\d+\) )?(\w+)", plan, re.MULTILINE)
    )
    return {
        "Exchange": names["Exchange"] + names["BroadcastExchange"],
        "SortMergeJoin": names["SortMergeJoin"],
        "BroadcastHashJoin": names["BroadcastHashJoin"],
    }


def _walk(node):
    """Physical plan nodes below ``node`` through children only — a
    cached relation's own plan is not a child of its scan."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


def test_corpus_curation_operators_plan_shape(spark, sf_dir):
    # The four pair/top-k operators the corpus_curation benchmark runs
    # keep their exchange and join counts through refactors: a helper
    # that adds a shuffle or turns a broadcast into a sort-merge join
    # fails here before any benchmark notices.
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.operators import (
        cache,
        dedup,
        similarity,
    )
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    expected = {
        "minhash_candidate_pairs": (
            lambda: dedup.minhash_candidate_pairs(
                docs, "doc_id", "text", n=3, num_hashes=32, bands=8,
                threshold=0.5,
            ),
            {"Exchange": 8, "SortMergeJoin": 0, "BroadcastHashJoin": 3},
        ),
        "simhash_near_pairs": (
            lambda: dedup.simhash_near_pairs(docs, "doc_id", "text", 3),
            {"Exchange": 3, "SortMergeJoin": 0, "BroadcastHashJoin": 1},
        ),
        "cosine_topk_bruteforce": (
            lambda: similarity.cosine_topk_bruteforce(emb, queries, k=10),
            {"Exchange": 7, "SortMergeJoin": 0, "BroadcastHashJoin": 3},
        ),
        "ann_lsh_topk": (
            lambda: similarity.ann_lsh_topk(emb, queries, k=10, n_planes=4),
            {"Exchange": 2, "SortMergeJoin": 0, "BroadcastHashJoin": 1},
        ),
    }
    got = {}
    for name, (build, _) in expected.items():
        spark.catalog.clearCache()
        try:
            got[name] = _node_counts(build())
        finally:
            cache.release_tracked()
            spark.catalog.clearCache()
    assert got == {name: counts for name, (_, counts) in expected.items()}


def test_lsh_pair_join_has_one_bucket_keyed_exchange(spark, sf_dir):
    # embedding_neardup_pairs_lsh and knn_graph join the persisted
    # (id, bucket, vector, norm) base to itself on the bucket: each such
    # join has exactly one exchange below it (the other side scans the
    # cache), so vectors cross the network once per pair join. knn_graph
    # mirrors its scored pairs through a union, so its plan holds the
    # same join twice.
    from data_integration_case_study_spark.operators import cache, similarity
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")

    def bucket_join_exchanges(df):
        root = df._jdf.queryExecution().executedPlan().initialPlan()
        return [
            sum(1 for m in _walk(j) if m.nodeName().endswith("Exchange"))
            for j in _walk(root)
            if j.nodeName().endswith("Join")
            and j.leftKeys().toString().startswith("List(block#")
        ]

    for build, expected in (
        (lambda: similarity.embedding_neardup_pairs_lsh(emb, threshold=0.99), [1]),
        (lambda: similarity.knn_graph(emb, k=3), [1, 1]),
    ):
        spark.catalog.clearCache()
        try:
            assert bucket_join_exchanges(build()) == expected
        finally:
            cache.release_tracked()
            spark.catalog.clearCache()
