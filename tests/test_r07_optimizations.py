"""Round-7 optimization pins.

Two families:
  1. substring/containment skew safety: the corpus-wide count stage is
     a partial-aggregated groupBy (map-side combine), so a planted
     boilerplate window occurring in most docs must NOT funnel its
     occurrence rows through one task before the cap applies
     (r6 verdict item 2).
  2. linear token rebuild: cutting |rm| ~ T positions from a T-token
     doc is O(T), not O(T^2) (r6 verdict item 6).
"""

import random
import string
import time

from pyspark.sql import functions as F

from geeflow_spark.operators import dedup


# ---------------------------------------------------------------------------
# 1. substring/containment skew safety (r6 verdict item 2)
# ---------------------------------------------------------------------------

def _planted_boilerplate_docs(spark, n_docs=4000, hot_frac=0.5):
    """hot_frac of docs share one exact 8-token boilerplate window."""
    boiler = "all rights reserved by the original content owner"
    rows = []
    rng = random.Random(5)
    for i in range(n_docs):
        uniq = " ".join("w%d%s" % (i, string.ascii_lowercase[j % 26])
                        for j in range(8))
        if i % int(1 / hot_frac) == 0:
            rows.append((i, boiler + " " + uniq))
        else:
            rows.append((i, uniq + " tail%d" % rng.randint(0, 10**9)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_count_stage_is_partial_aggregated(spark):
    """The corpus-wide occurrence count must partial-aggregate (no
    Window colocating every occurrence of the hot fingerprint in one
    task). Asserts on the physical plan: no Window node between the
    occurrence explode and the count aggregation, and the aggregation
    is a two-phase HashAggregate (map-side combine)."""
    docs = _planted_boilerplate_docs(spark, n_docs=800)
    out = dedup.substring_dedup(docs, window=8, spread=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the old shape had Window.partitionBy(_f) for _cnt/_rn; the new
    # shape must carry the count through HashAggregate partial/final
    assert "row_number" not in plan.lower()
    assert "windowexec" not in plan.lower().replace("windowgrouplimit", "")
    assert plan.lower().count("hashaggregate") >= 2


def test_substring_hot_window_correct_under_skew(spark):
    docs = _planted_boilerplate_docs(spark, n_docs=1000, hot_frac=0.5)
    out = dedup.substring_dedup(docs, window=8, spread=8)
    rows = out.select("doc_id", "ss_n_removed").collect()
    removed = {r.doc_id: r.ss_n_removed for r in rows}
    hot = [i for i in range(1000) if i % 2 == 0]
    # first hot doc keeps its boilerplate window, every later one
    # loses exactly the 8 boilerplate tokens (the unique tail windows
    # occur once and survive)
    assert removed[hot[0]] == 0
    assert all(removed[i] == 8 for i in hot[1:])
    assert all(removed[i] == 0 for i in range(1000) if i % 2 == 1)
    assert len(rows) == 1000


def test_containment_cap_drops_hot_posting_before_buckets(spark):
    # the boilerplate fingerprint exceeds max_postings and must be
    # dropped by the partial-aggregated gate, leaving no pairs from it
    docs = _planted_boilerplate_docs(spark, n_docs=600, hot_frac=0.5)
    pairs = dedup.containment_pairs(docs, threshold=0.9, window=8,
                                    max_postings=64, spread=8)
    assert pairs.count() == 0  # hot window capped; tails are unique
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "windowexec" not in plan.lower().replace("windowgrouplimit", "")


# ---------------------------------------------------------------------------
# 2. linear token rebuild (r6 verdict item 6)
# ---------------------------------------------------------------------------

def test_token_rebuild_not_quadratic(spark):
    """Worst case |rm| ~ T ~ 10k: one doc that is 1250 repeats of the
    same 8-token window. The r6 per-element array_contains rebuild was
    O(T * |rm|) ~ 10^8 comparisons for this doc; the array_except form
    is O(T). Wall-bound generously - the point is it finishes fast."""
    T = 10_000
    text = " ".join("tok%d" % (i % 8) for i in range(T))
    docs = spark.createDataFrame(
        [(0, text), (1, "unique words only here")],
        "doc_id long, text string")
    t0 = time.monotonic()
    out = dedup.substring_dedup(docs, window=8).collect()
    wall = time.monotonic() - t0
    got = {r.doc_id: r for r in out}
    # every window after the first occurrence is cut: tokens 8..T-1 go
    assert got[0].ss_n_tokens == T
    assert got[0].ss_n_removed == T - 8
    assert got[0].text == " ".join("tok%d" % (i % 8) for i in range(8))
    assert got[1].ss_n_removed == 0
    assert wall < 60, f"rebuild took {wall:.1f}s - quadratic path?"


def test_span_rebuild_order_preserved_large_drop(spark):
    """span_dedup's array_except rebuild keeps surviving spans in
    original order when most spans of a doc are dropped."""
    from geeflow_spark.sources import derived
    # two identical docs: doc 1's text spans are all dropped
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "a b c d e f g h")],
        "doc_id long, text string")
    sd = dedup.span_dedup(derived.with_spans(docs))
    got = {r.doc_id: [s["kind"] for s in r.spans]
           for r in sd.collect()}
    assert got[0] == ["text", "media", "text", "media"]
    assert got[1] == ["media", "media"]  # text spans deduped, order kept


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
