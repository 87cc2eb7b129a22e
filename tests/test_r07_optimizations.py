"""Round-7 optimization pin: the quality-survivor winner of
dedup_survivors partial-aggregates (no Window colocating a giant
duplicate cluster in one task)."""

from pyspark.sql import functions as F

from geeflow_spark.operators import dedup


def test_survivors_quality_winner_is_partial_aggregated(spark):
    """The quality-survivor winner must not use
    Window.partitionBy(component): a giant duplicate cluster (the
    boilerplate template with billions of members at web scale) would
    colocate in ONE window task. The r7 shape is two
    partial-aggregated groupBys (max quality, then min id among the
    max-quality members) + AQE-splittable join-backs. Correctness
    pinned on a planted giant cluster with a unique best member."""
    import pandas as pd

    n = 2000
    rows = []
    for i in range(n):
        if i % 2 == 0:  # one giant near-dup cluster (same text)
            text = "alpha beta gamma delta epsilon zeta eta theta"
            if i == 500:  # the best copy: longest
                text += " extra"
        else:  # unique fillers
            text = f"unique{i} filler{i} words{i} tail{i}"
        rows.append({"doc_id": i, "text": text})
    docs = (spark.createDataFrame(pd.DataFrame(rows))
            .withColumn("_len", F.length("text")))
    pairs = dedup.minhash_duplicate_pairs(
        docs, num_perm=64, bands=16, verify_jaccard=0.6, spread=8)
    out = dedup.dedup_survivors(docs, pairs, quality_col="_len")
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # the longest member wins the giant cluster; all unique docs stay
    assert 500 in kept
    assert not any(i in kept for i in range(0, n, 2) if i != 500)
    assert all(i in kept for i in range(1, n, 2))
    # plan shape: no Window in the drop-list derivation. Asserted on
    # _quality_drop directly - inside dedup_survivors the drop list
    # materializes behind a checkpoint, so the RETURNED frame's plan
    # no longer contains these stages.
    members = spark.createDataFrame(
        pd.DataFrame({"_l": [0, 0, 0, 1], "_n": [0, 2, 4, 1],
                      "_q": [5, 9, 9, 3]}))
    dd = dedup._quality_drop(members, "doc_id")
    plan = dd._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    assert "windowexec" not in plan.lower().replace(
        "windowgrouplimit", "")
    assert plan.lower().count("hashaggregate") >= 2
    # winner of component 0 = id 2 (max quality 9, min id); drop 0, 4
    assert sorted(r.doc_id for r in dd.collect()) == [0, 4]
