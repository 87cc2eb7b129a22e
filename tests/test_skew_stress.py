"""Skew stress: the north rule calls out coastal/urban cell skew.

The flagship's one-pass topology has NO shuffle on the document side,
so a pathological distribution (every document inside ONE hot S2 cell
and ONE region) cannot create a hot reducer in the join itself - the
per-task work stays proportional to the task's input rows. This pins
that property: 200k single-cell docs complete with exact counts and
bounded wall.
"""

import time

import pandas as pd
from pyspark.sql import functions as F

from geeflow_spark.plans import generate


def test_flagship_single_hot_cell(spark):
    n = 200_000
    # all docs within a ~0.2-degree box -> one level-8 cell neighborhood
    docs = (spark.range(0, n, 1, 16)
            .select(F.col("id").alias("doc_id"),
                    (F.lit(47.30) + (F.col("id") % 997) / 997.0 * 0.2)
                    .alias("lat"),
                    (F.lit(8.40) + (F.col("id") % 991) / 991.0 * 0.2)
                    .alias("lon")))
    regions = pd.DataFrame([{
        "region_id": 1,
        "ring": [8.0, 47.0, 9.0, 47.0, 9.0, 48.0, 8.0, 48.0],
    }])
    t0 = time.monotonic()
    ex = generate.generate_examples(docs, regions, cell_level=8)
    total = ex.count()
    wall = time.monotonic() - t0
    assert total == n  # every doc inside the one region, exactly once
    assert wall < 120, f"hot-cell flagship took {wall:.0f}s"
