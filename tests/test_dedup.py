

def test_engine_cache_registry_releases_tracked_persists(spark, sf_dir):
    """ADVICE item: library callers need a bound on engine-owned cache
    growth without nuking their own persists — operators.cache tracks
    every engine persist() and release_tracked() frees exactly those."""
    from data_integration_case_study_spark.operators import cache, dedup
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    spark.catalog.clearCache()
    # localCheckpoint blocks from earlier tests in the session (iterative
    # graph queries) are NOT SQL-cache entries; drop them so the storage
    # counts below are order-independent
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    d = read_parquet_table(spark, sf_dir, "documents").limit(100)
    mine = d.select("doc_id").persist()  # caller-owned: must survive
    mine.count()
    pairs = dedup.minhash_candidate_pairs(d, "doc_id", "text")
    pairs.count()  # materializes the tracked per-doc summary

    jsc = spark.sparkContext._jsc.sc()
    assert len(jsc.getRDDStorageInfo()) >= 2  # engine cache + caller's

    released = cache.release_tracked(blocking=True)
    assert released >= 1
    remaining = len(jsc.getRDDStorageInfo())
    assert remaining == 1  # only the caller-owned persist survives
    # double release is a safe no-op
    assert cache.release_tracked() == 0
    mine.unpersist(True)
