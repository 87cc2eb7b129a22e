"""Document chunking: split long documents into bounded token windows.

The standard preprocessing step in front of context-limited consumers
(embedding models, training sequence assembly): each document becomes
ceil((n_tokens - overlap) / (max_tokens - overlap)) chunks of at most
`max_tokens` whitespace tokens, consecutive chunks sharing `overlap`
tokens so no boundary context is lost.

Scale shape: entirely row-local and JVM-side (split / explode / slice
/ concat_ws inside whole-stage codegen - no UDF, no shuffle; the plan
is scan -> project -> generate -> project). The token array is
materialized ONCE per document: the chunk-index explode runs on a row
that already carries the split array, so per-chunk slicing references
a bound column, not a re-evaluated split expression (the interpreted
re-evaluation trap measured 10x on rolling fingerprints - see
dedup.shingle_hashes_col).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(df: DataFrame, max_tokens: int, overlap: int = 0,
                    text_col: str = "text", id_col: str = "doc_id",
                    carry_cols: tuple = ()) -> DataFrame:
    """(id, chunk_id, chunk_text, chunk_tokens): `text_col` split on
    whitespace into windows of at most `max_tokens` tokens, chunk i
    starting at token i * (max_tokens - overlap). Every document
    yields at least one chunk (shorter docs pass through whole; empty
    or NULL text yields one empty chunk - no rows are silently
    dropped, and chunk_tokens never goes negative: size(NULL) is -1
    under non-ANSI Spark, so NULL text is coalesced to '' first).
    chunk_id is 0-based and dense per document; chunk order reproduces
    the original token order. `carry_cols` names extra input columns
    to keep on every chunk row (e.g. the mix epoch tag - without it,
    epoch copies of a doc would collapse to identical (id, chunk_id)
    rows downstream).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}")
    stride = max_tokens - overlap
    ws = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.size("_ws")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    start = F.col("_ci") * stride + 1  # slice() is 1-based
    carry = [F.col(c) for c in carry_cols]
    return (df
            .select(F.col(id_col), *carry, ws.alias("_ws"))
            .select(id_col, *carry, "_ws",
                    F.explode(F.sequence(F.lit(0), (n_chunks - 1)
                                         .cast("int"))).alias("_ci"))
            .select(id_col, *carry,
                    F.col("_ci").cast("long").alias("chunk_id"),
                    F.concat_ws(" ", F.slice("_ws", start, max_tokens))
                    .alias("chunk_text"),
                    F.least(F.lit(max_tokens),
                            F.size("_ws") - F.col("_ci") * stride)
                    .cast("long").alias("chunk_tokens")))


def pack_sequences(df: DataFrame, budget: int, order_col: str,
                   tokens_col: str = "chunk_tokens",
                   bucket_size: int = 1 << 20) -> DataFrame:
    """Sequence packing, concatenate-and-cut style: rows are laid out
    in increasing `order_col` (an integer total order - typically
    sampling.shuffle_rank output) and cut into packs of exactly
    `budget` tokens; each row gets the exclusive prefix token count
    (`prefix_tokens`), its pack (`pack_id` = prefix div budget) and
    position (`pack_offset` = prefix mod budget). A row may straddle
    two packs (offset + tokens > budget) - the standard pretraining
    concatenation, where the cut falls mid-document; consumers that
    forbid straddling filter or re-chunk those rows.

    The global running sum is computed WITHOUT a single-partition
    window: `order_col` is cut into fixed `bucket_size` ranges
    (contiguous in the order), per-bucket prefix sums run under a
    distributed window, and each bucket's global token offset is a
    cumulative sum over the per-bucket totals - at most
    n_rows / bucket_size aggregated rows, broadcast back (the
    shuffle_rank recipe applied to a SUM instead of a COUNT).

    Composition note: the offsets aggregate is a SECOND evaluation of
    the input plan (a 1-column scan when the input is a table). When
    chaining unmaterialized stages (chunk -> shuffle_rank -> pack),
    each stage's aggregate re-derives the whole upstream pipeline -
    persist or checkpoint the input frame between stages (the staged
    parquet write production pipelines do anyway) to keep it one scan
    per stage.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from geeflow_spark.operators.sampling import bucket_offsets
    d = df.withColumn("_b", F.expr(f"{order_col} div {bucket_size}"))
    # NOTE (r7): see sampling.shuffle_rank - the shared-exchange
    # variant was measured and rejected (AQE serializes the broadcast
    # totals stage behind the payload exchange).
    totals = d.groupBy("_b").agg(F.sum(tokens_col).alias("_t"))
    offsets = bucket_offsets(totals, "_b", "_t")
    lw = (Window.partitionBy("_b").orderBy(order_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    return (d.withColumn("_lp", F.coalesce(F.sum(tokens_col).over(lw),
                                           F.lit(0)))
            .join(F.broadcast(offsets), "_b")
            .withColumn("prefix_tokens",
                        (F.col("_off") + F.col("_lp")).cast("long"))
            .withColumn("pack_id",
                        F.expr(f"prefix_tokens div {budget}"))
            .withColumn("pack_offset",
                        F.pmod("prefix_tokens", F.lit(budget))
                        .cast("long"))
            .drop("_b", "_lp", "_off"))
