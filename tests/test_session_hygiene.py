"""Long-lived-session cache audit (round-6 brief item 6).

The engine keeps bounded session caches: the minhash candidate cache
and the survivors drop-list checkpoints (CC round checkpoints are
released inside the loop). A long-lived
session (a notebook, a streaming driver, a multi-tenant Thrift server)
must be able to run the WHOLE battery repeatedly without executor
storage creeping: after each full pass + the documented release calls,
the persistent-RDD set must return to its pre-pass baseline.
"""

SF_DIR = "/root/testdata/sf0.001"


def _release_all(spark):
    from geeflow_spark.operators import dedup
    dedup.release_candidate_caches()
    dedup.release_survivors_state()
    dedup.release_component_labels()
    spark.catalog.clearCache()


def test_full_battery_twice_no_storage_creep(spark):
    import __spark_entry__ as entrymod
    from geeflow_spark.operators import dedup

    qs = entrymod.queries()
    _release_all(spark)
    sc = spark.sparkContext
    base = dedup._persistent_rdd_ids(sc)

    import time

    for pass_no in (1, 2):
        for name, fn in qs.items():
            fn(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
        _release_all(spark)
        # bounded settle-poll: unpersist(blocking=False) calls issued
        # by the release sweep drain asynchronously through the block
        # manager, and under full-suite load a single 3 s grace was
        # observed to flake. The property under test is "no PERMANENT
        # leak", so poll until the ids drain (a real leak - an id no
        # release function covers - still fails after the deadline).
        leaked = dedup._persistent_rdd_ids(sc) - base
        deadline = time.monotonic() + 30
        while leaked and time.monotonic() < deadline:
            time.sleep(1.5)
            leaked = dedup._persistent_rdd_ids(sc) - base
        assert not leaked, (pass_no, leaked)
