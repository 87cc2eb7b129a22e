"""Long-lived-session cache audit.

Operators that `.cache()` an intermediate (kNN's candidate rings) must
not leave executor storage creeping in a long-lived session (a notebook,
a streaming driver, a multi-tenant Thrift server): after each full pass
of the battery and `spark.catalog.clearCache()`, the persistent-RDD set
must return to its pre-pass baseline.
"""

import time

SF_DIR = "/root/testdata/sf0.001"


def _persistent_rdd_ids(sc) -> set:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def test_full_battery_twice_no_storage_creep(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark.catalog.clearCache()
    sc = spark.sparkContext
    base = _persistent_rdd_ids(sc)

    for pass_no in (1, 2):
        for name, fn in qs.items():
            fn(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
        spark.catalog.clearCache()
        # bounded settle-poll: unpersist(blocking=False) calls drain
        # asynchronously through the block manager, and under full-suite
        # load a single 3 s grace was observed to flake. The property
        # under test is "no PERMANENT leak", so poll until the ids drain
        # (a real leak - an id clearCache does not release - still fails
        # after the deadline).
        leaked = _persistent_rdd_ids(sc) - base
        deadline = time.monotonic() + 30
        while leaked and time.monotonic() < deadline:
            time.sleep(1.5)
            leaked = _persistent_rdd_ids(sc) - base
        assert not leaked, (pass_no, leaked)
