"""Per-document repetition metrics for web-corpus quality filtering.

The repetition family of quality signals (duplicate-word and
duplicate-n-gram fractions, most-frequent-term share) is the standard
web-pipeline filter for machine-generated / boilerplate pages whose
length and punctuation look fine but whose content loops. These are
DataFrame-level operators (they need a per-(doc, term) aggregation).

Not in the reference (an LLM-data-pipeline extension); the closest
reference analog is the corpus-level counter statistics
(utils/stats.py CounterAccumulator), which count values per COLUMN,
not terms per DOCUMENT.

Scale design (100 TB lens): everything is JVM-side.

- Array-shape metrics (word count, distinct-word fraction,
  duplicate-bigram fraction) are computed per ROW with higher-order
  array functions - zero shuffle, whole-stage codegen.
- The most-frequent-word share needs per-(doc, word) counts: one
  explode feeding a two-stage aggregation - groupBy(doc, word) then
  groupBy(doc) - both with map-side partial aggregation, so the wide
  shuffle carries (doc_id, word-hash-partitioned) count rows, not
  text. The final assembly joins on doc_id where the aggregated side
  is already hash-partitioned by doc_id (no extra exchange on that
  side under AQE).

Determinism: every metric is a ratio of integer counts (never a
float-sum over reorderable partials), so results are bit-stable across
partitionings and replayable exactly in ANSI SQL - ties in the
most-frequent word don't matter because the metric uses the count,
not the word.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id_col, n_words, distinct_word_frac, top_word_frac,
    dup_bigram_frac) per document, all ratios rounded to 6 places.

    - n_words: whitespace tokens of the lowercased, trimmed text.
    - distinct_word_frac: |distinct words| / n_words (1.0 = no
      repetition; Gopher-style filters drop docs far below ~0.5).
    - top_word_frac: occurrences of the most frequent word / n_words.
    - dup_bigram_frac: 1 - |distinct word bigrams| / (n_words - 1);
      0.0 when the doc has fewer than 2 words.

    Rows whose text is NULL or whitespace-only are dropped (no tokens
    -> no defined ratios); upstream length filters remove them anyway.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (df.filter(F.col(text_col).isNotNull()
                      & (F.length(F.trim(F.col(text_col))) > 0))
            .select(id_col, words.alias("_w")))
    # Bigrams via index arithmetic (arr[i] is 0-based in Spark SQL);
    # sequence() runs DESCENDING when start > stop, so the n < 2 case
    # must be gated, not left to an "empty" sequence.
    bigrams = F.when(
        F.size("_w") >= 2,
        F.expr("transform(sequence(1, size(_w) - 1), "
               "i -> concat(_w[i-1], ' ', _w[i]))")
    ).otherwise(F.array().cast("array<string>"))
    # Bind the bigram array once (r7): it feeds two consumers (size +
    # array_distinct), and without the alias each evaluated the whole
    # interpreted transform independently per row.
    shape = base.select(
        id_col, "_w", bigrams.alias("_bg")
    ).select(
        id_col,
        F.size("_w").alias("_n"),
        F.size(F.array_distinct("_w")).alias("_nd"),
        F.size("_bg").alias("_nb"),
        F.size(F.array_distinct("_bg")).alias("_nbd"))
    top = (base.select(id_col, F.explode("_w").alias("_word"))
           .groupBy(id_col, "_word").agg(F.count("*").alias("_c"))
           .groupBy(id_col).agg(F.max("_c").alias("_top")))
    return (shape.join(top, id_col)
            .select(id_col,
                    F.col("_n").cast("long").alias("n_words"),
                    F.round(F.col("_nd") / F.col("_n"), 6)
                    .alias("distinct_word_frac"),
                    F.round(F.col("_top") / F.col("_n"), 6)
                    .alias("top_word_frac"),
                    F.round(F.when(F.col("_nb") > 0,
                                   1.0 - F.col("_nbd") / F.col("_nb"))
                            .otherwise(F.lit(0.0)), 6)
                    .alias("dup_bigram_frac")))


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def _gopher_scalars(text_col: str | None = None, stopwords=None,
                    t: Column | None = None) -> dict:
    """The nine integer/scalar rule inputs, each as ONE Column
    expression (shared by the flags frame and the let-bound filter
    predicate). Pass either `text_col` (trim applied here) or a
    pre-trimmed `t` Column (the let-bound lambda variable)."""
    import re as _re
    if t is None:
        t = F.trim(F.col(text_col))
    # r7: every rule is a single-pass scalar regex/replace expression -
    # no array columns, no interpreted higher-order lambdas. The old
    # array forms cost ~7.8 s at sf1.0 as the corpus 'quality' FILTER
    # because predicate pushdown inlines aliases into the condition
    # (bound columns cannot help a filter), and each rule's reference
    # to the words array re-ran the split. Exact equivalences:
    #   - split(t, \s+) yields (#separator matches + 1) fields
    #     (limit -1 keeps leading/trailing empties), so
    #     nw == regexp_count(t, \s+) + 1 for nonempty t - including
    #     the phantom empty field when t starts with a non-space
    #     whitespace char (trim strips spaces only).
    #   - total word chars == len(t) - #whitespace chars.
    #   - a field containing [a-z] is a \S-run containing [a-z]: one
    #     non-overlapping match of [^\s]*[a-z][^\s]* per such run.
    #   - line rules ((?dm): ^/$ anchor on \n exactly, the same
    #     boundaries split(t, \n) produces): a kept line has a
    #     non-space char; a bullet line's first non-space char is
    #     - or *; an ellipsis line ends ... + optional spaces
    #     (trim strips spaces only, so \t stays - the patterns
    #     replicate that).
    #   - stopword_ok needs the DISTINCT-presence count: one bounded-
    #     token presence test per stopword ((^|\s)w(\s|$)).
    nw = F.when(F.length(t) == 0, F.lit(0)) \
        .otherwise(F.regexp_count(t, F.lit(r"\s+")) + 1)
    total_chars = F.length(F.regexp_replace(t, r"\s", ""))
    mwl = F.when(nw > 0, total_chars.cast("double") / nw) \
        .otherwise(F.lit(0.0))
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipses = (F.length(t)
                - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    sym_ratio = F.when(nw > 0, (hashes + ellipses).cast("double") / nw) \
        .otherwise(F.lit(0.0))
    nl = F.regexp_count(t, F.lit(r"(?dm)^[^\n]*?[^ \n]"))
    bullet = F.regexp_count(t, F.lit(r"(?dm)^ *[-*]"))
    ell_end = F.regexp_count(t, F.lit(r"(?dm)\.\.\. *$"))
    alpha = F.regexp_count(F.lower(t), F.lit(r"[^\s]*[a-z][^\s]*"))
    sw_hits_terms = [
        F.when(F.lower(t).rlike(
            f"(^|\\s){_re.escape(w)}(\\s|$)"), 1).otherwise(0)
        for w in (stopwords or GOPHER_STOPWORDS)]
    sw_hits = sum(sw_hits_terms[1:], sw_hits_terms[0])
    return {"nw": nw, "total_chars": total_chars, "hashes": hashes,
            "ellipses": ellipses, "nl": nl, "bullet": bullet,
            "ell_end": ell_end, "alpha": alpha, "sw_hits": sw_hits}


def _gopher_rules(s, min_words: int, max_words: int) -> dict:
    """Rule booleans from the scalar inputs. `s` maps a scalar name to
    a Column - either the expression itself (flags frame: the Project
    gets codegen subexpression elimination, so repeated references are
    computed once) or a struct-field accessor (gopher_pass: see the
    let-binding note there)."""
    nw = s("nw")
    mwl = F.when(nw > 0, s("total_chars").cast("double") / nw) \
        .otherwise(F.lit(0.0))
    sym_ratio = F.when(nw > 0, (s("hashes") + s("ellipses"))
                       .cast("double") / nw).otherwise(F.lit(0.0))
    nl = s("nl")
    wc_ok = (nw >= min_words) & (nw <= max_words)
    mwl_ok = (mwl >= 3.0) & (mwl <= 10.0)
    symbol_ok = sym_ratio <= 0.1
    bullet_ok = (nl == 0) | (s("bullet").cast("double") / nl < 0.9)
    ellipsis_ok = (nl == 0) | (s("ell_end").cast("double") / nl < 0.3)
    alpha_ok = (nw > 0) & (s("alpha").cast("double") / nw >= 0.8)
    stopword_ok = s("sw_hits") >= 2
    return {"n_words": nw.cast("long"), "wc_ok": wc_ok,
            "mwl_ok": mwl_ok, "symbol_ok": symbol_ok,
            "bullet_ok": bullet_ok, "ellipsis_ok": ellipsis_ok,
            "alpha_ok": alpha_ok, "stopword_ok": stopword_ok,
            "gopher_pass": (wc_ok & mwl_ok & symbol_ok & bullet_ok
                            & ellipsis_ok & alpha_ok & stopword_ok)}


def _gopher_cols(text_col: str, min_words: int,
                 max_words: int, stopwords=None) -> dict:
    """The rule Columns, keyed by output name (flags frame)."""
    scalars = _gopher_scalars(text_col, stopwords)
    return _gopher_rules(lambda n: scalars[n], min_words, max_words)


def gopher_pass(text_col: str = "text", min_words: int = 50,
                max_words: int = 100_000, stopwords=None):
    """The Gopher conjunction as a row-local boolean Column - for
    filtering in place (df.filter(gopher_pass())) with no join and no
    extra pass; same rule semantics as gopher_quality_flags.
    `stopwords` overrides the English Gopher set (domain corpora need
    their own function-word list - the rule checks document
    naturalness, not English membership).

    Shape (r7): the scalar inputs are LET-BOUND via a single-element
    array-of-struct and the conjunction runs inside `exists`, so each
    scalar evaluates ONCE per row. A naive conjunction references nw
    ~10 times and FilterExec predicates get no codegen subexpression
    elimination (unlike Project), so the direct form re-ran ~20 regex
    passes per row - measured 8 s vs sub-second at sf1.0 for the
    corpus quality step. Binding through a projected column cannot
    work for a filter: predicate pushdown re-inlines the alias into
    the condition (verified on the pushed DataFilters). NULL text
    yields a NULL conjunction either way - rows drop in both forms."""
    def inner(raw):
        scalars = _gopher_scalars(stopwords=stopwords,
                                  t=F.trim(raw))
        packed = F.array(F.struct(*[c.alias(n)
                                    for n, c in scalars.items()]))
        return F.exists(
            packed,
            lambda s: _gopher_rules(
                lambda n: s[n], min_words, max_words)["gopher_pass"])

    # Outer binding: the text column itself. When the quality filter
    # sits above a derived text (the corpus clean step's chained
    # regexp_replace), predicate pushdown substitutes that whole
    # expression into every reference - the outer array binds it to
    # ONE evaluation (measured 22 s -> ~2 s on the cleaned corpus at
    # sf1.0); the inner binding then evaluates each scalar once.
    return F.exists(F.array(F.col(text_col)), inner)


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         min_words: int = 50, max_words: int = 100_000,
                         stopwords=None) -> DataFrame:
    """Per-document Gopher quality rules (Rae et al. 2021, the
    published web-filter rule set), one boolean per rule plus the
    conjunction:

      - wc_ok:       word count in [min_words, max_words]
      - mwl_ok:      mean word length in [3, 10]
      - symbol_ok:   (# + ellipsis occurrences) / words <= 0.1
      - bullet_ok:   < 90% of lines start with a bullet ('-' or '*')
      - ellipsis_ok: < 30% of lines end with '...'
      - alpha_ok:    >= 80% of words contain an alphabetic character
      - stopword_ok: >= 2 distinct stopwords of the Gopher set occur
      - gopher_pass: all of the above

    Entirely row-local JVM expressions (no UDF, no shuffle; one
    codegen span over the scan). Every ratio is an integer-count
    division, so thresholds replay bit-identically in SQL. Empty /
    whitespace-only docs fail wc_ok (and pass the line rules
    vacuously: zero lines).
    """
    cols = _gopher_cols(text_col, min_words, max_words, stopwords)
    return df.select(id_col,
                     *[c.alias(name) for name, c in cols.items()])


# Conservative ASCII patterns, valid and identical under BOTH regex
# engines the repo targets (Java in Spark codegen, RE2 in the DuckDB
# oracle): no lookaround, no backreferences, \b is the ASCII word
# boundary in both. Order matters (counts and replacements run
# sequentially, each on the PREVIOUS stage's output) and is part of
# the operator's contract - the oracle replays the same order.
DEFAULT_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_redact(df: DataFrame, text_col: str = "text",
               patterns=DEFAULT_PII_PATTERNS,
               counts: bool = True) -> DataFrame:
    """PII masking - the pre-release scrub every public web corpus
    runs (C4 and Dolma both ship with email/IP/phone masking):
    replaces every match of each pattern with its mask token,
    IN PLACE on `text_col`, preserving all other columns. With
    `counts=True` adds one `pii_<name>` long column per pattern - the
    number of matches that pattern saw (counted on the text AS THAT
    STAGE SAW IT, i.e. after the previous patterns' replacements - so
    overlapping pattern families never double-count one span).

    Scale design: pure JVM regexp_count/regexp_replace inside one
    whole-stage-codegen span - zero shuffle, zero Python, linear
    scan per row. Patterns must be RE2-compatible (no lookaround) so
    the driver oracle can replay them verbatim in DuckDB.
    """
    out = df
    for name, pat, repl in patterns:
        if counts:
            out = out.withColumn(
                f"pii_{name}",
                F.regexp_count(F.col(text_col), F.lit(pat))
                .cast("long"))
        out = out.withColumn(
            text_col, F.regexp_replace(F.col(text_col), pat, repl))
    return out


def c4_line_clean(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", min_line_words: int = 3,
                  min_lines: int = 1,
                  require_terminal_punct: bool = True) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020): per
    document, keep only lines that end in terminal punctuation
    (. ! ? or a closing quote; `require_terminal_punct=False` skips
    the check), have at least `min_line_words` words, and do not
    mention 'javascript' (the boilerplate tell); rebuild the text
    from the kept lines. Page-level flag `c4_keep`: at least
    `min_lines` lines survived AND the original text contains neither
    'lorem ipsum' nor a curly brace (the code/placeholder tells).

    Output: (id, clean_text, n_lines_kept, n_lines_dropped, c4_keep).
    Entirely row-local JVM array expressions - no UDF, no shuffle,
    one codegen span; every count is an integer, so the flags replay
    bit-identically in SQL.
    """
    def _ok(x):
        cond = (F.size(F.split(x, r"\s+")) >= min_line_words) & \
            (~F.lower(x).contains("javascript"))
        if require_terminal_punct:
            cond = cond & x.rlike('[.!?"]$')
        return cond

    # Bind trimmed text, lines and kept lines once each (r7): kept
    # feeds three consumers (join + two sizes) and lines two; without
    # the aliases every consumer re-ran the interpreted split/filter
    # chain per row.
    base = (df.select(id_col, F.trim(F.col(text_col)).alias("_t"))
            .select(id_col, "_t",
                    F.filter(F.transform(F.split(F.col("_t"), r"\n"),
                                         lambda x: F.trim(x)),
                             lambda x: F.length(x) > 0).alias("_ln"))
            .select(id_col, "_t", "_ln",
                    F.filter(F.col("_ln"), _ok).alias("_kp")))
    nk = F.size("_kp")
    page_ok = (nk >= min_lines) \
        & (~F.lower(F.col("_t")).contains("lorem ipsum")) \
        & (~F.col("_t").contains("{")) & (~F.col("_t").contains("}"))
    return base.select(
        id_col,
        F.array_join(F.col("_kp"), "\n").alias("clean_text"),
        nk.cast("long").alias("n_lines_kept"),
        (F.size("_ln") - nk).cast("long").alias("n_lines_dropped"),
        page_ok.alias("c4_keep"))
