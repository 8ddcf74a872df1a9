"""Tokenize-once shingle builders.

Referencing ``F.split(text, ' ')`` as a plain Column expression inside a
``transform`` lambda re-evaluates the split PER ELEMENT — Catalyst
inlines the expression into every ``element_at`` call, making word
shingling O(tokens^2) per document. Measured at sf0.01 (500 docs): the
inline form's shingle stream runs 0.59 s warm vs 0.26 s with the token
array projected once (2.8 s vs 0.43 s cold), and the effect grows with
document length — at 100 TB the quadratic term dominates the whole
dedup scan stage.

The fix is structural, not an optimizer hint: project the token array
as a NAMED column in its own ``select`` first, then build per-token
expressions over ``F.col(tok_col)``. Catalyst's CollapseProject leaves
the hoist alone because the alias is non-cheap and referenced more than
once (verified by plan inspection: ``split`` appears once in the
projection, once in the pushed size-filter, never per element).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.catalog import scan_parallel


def tokenized(
    df: DataFrame,
    *keep: str,
    text_col: str = "text",
    tok_col: str = "toks",
    min_tokens: int | None = None,
) -> DataFrame:
    """Project ``split(text_col, ' ')`` ONCE as ``tok_col`` next to the
    ``keep`` columns, optionally filtering rows with fewer than
    ``min_tokens`` tokens. Every downstream per-token expression must
    reference ``F.col(tok_col)`` — never re-derive the split."""
    out = df.select(*keep, F.split(text_col, " ").alias(tok_col))
    if min_tokens is not None:
        out = out.filter(F.size(tok_col) >= min_tokens)
    return out


def doc_terms(df: DataFrame) -> DataFrame:
    """``(doc_id, term, tf)``: each document's non-empty space-separated
    terms with their in-document counts — the term frame every tf-idf
    family query (tf-idf, BM25, hybrid retrieval) weights. The split
    feeds only the explode, so it runs once per row."""
    terms = F.filter(F.split("text", " "), lambda t: t != "")
    return (
        df.select("doc_id", F.explode(terms).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def postings(
    df: DataFrame, width: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id_col, shingle)``: one row per distinct word ``width``-gram of
    each document with at least ``width`` tokens — the inverted-index
    posting stream every shingle-set operator (n-gram Jaccard,
    containment, prefix filtering, contamination, novelty) joins or
    groups. ``scan_parallel`` spreads the CPU-heavy explode over the
    session's cores when the scan is a single split; the short-doc
    filter matches the oracles' ``LEN(...) >= width``."""
    return tokenized(
        scan_parallel(df, df.sparkSession, key=id_col),
        id_col,
        text_col=text_col,
        min_tokens=width,
    ).select(id_col, F.explode(word_shingles(width)).alias("shingle"))


def overlap_pairs(postings: DataFrame, directed: bool) -> DataFrame:
    """``(doc_a, doc_b, n_inter, na, nb)`` over a ``(id, shingle)``
    posting frame (first column the document id): every pair of
    documents sharing at least one shingle, with their intersection
    size and both set sizes. Undirected pairs have ``doc_a < doc_b``;
    ``directed=True`` also emits each pair mirrored, ``(doc_b, doc_a,
    n_inter, nb, na)``, so an asymmetric measure such as containment
    needs only the half-sized ``<`` join.

    The postings are repartitioned by shingle once; both self-join
    sides and the set-size aggregate read that one exchange
    (``ReusedExchange``), so the explode runs once and no checkpoint is
    needed. The sizes come from that aggregate and are joined to the
    pair table, which AQE plans from runtime sizes. They are not
    carried as ``size(shingles)`` next to ``explode(shingles)``: that
    was measured 13x slower (0.56 s -> 7.6 s for the posting build at
    sf0.1), because InferFiltersFromGenerate derives ``size(<generator
    child>) > 0`` over the whole shingle expression, pushdown
    substitutes it through the token projection, and every
    ``element_at(toks, i)`` degrades to ``element_at(split(text), i)``
    — the O(tokens^2)-per-doc trap this module's docstring describes."""
    id_col = postings.columns[0]
    shared = postings.repartition("shingle")
    # merge: unhinted, AQE broadcasts the corpus-sized posting stream as
    # the build side (measured 14-25% slower at sf0.1 on the pair queries)
    side = shared.hint("merge")
    a, b = side.alias("a"), side.alias("b")
    on = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    inter = (
        a.join(b, on)
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = shared.groupBy(id_col).agg(F.count("*").alias("n"))
    pairs = (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", "n_inter", "na", "nb")
    )
    if not directed:
        return pairs
    mirrored = F.struct(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        "n_inter",
        F.col("nb").alias("na"),
        F.col("na").alias("nb"),
    )
    return pairs.select(F.inline(F.array(F.struct(*pairs.columns), mirrored)))


def bigrams(df: DataFrame, *keep: str, text_col: str = "text") -> DataFrame:
    """``(*keep, w1, w2)``: one row per adjacent pair of non-empty
    space-separated tokens; documents with fewer than two tokens yield
    none. The token array is hoisted into its own projection and the
    pair array is guarded like :func:`word_shingles`: for a sub-2-token
    doc ``sequence(1, size - 1)`` descends and ``element_at`` would
    throw under ANSI, and Generate pushdown may evaluate the expression
    before any filter."""
    toks = F.col("toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"), F.element_at(toks, i + 1).alias("w2")
        ),
    )
    return (
        df.select(*keep, F.filter(F.split(text_col, " "), lambda t: t != "").alias("toks"))
        .select(
            *keep,
            F.explode(
                F.when(F.size(toks) >= 2, pairs).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>")
                )
            ).alias("b"),
        )
        .select(*keep, "b.w1", "b.w2")
    )


def word_shingles(width: int, tok_col: str = "toks") -> Column:
    """array<string> of distinct space-joined word ``width``-grams over
    the hoisted token column; typed-empty for sub-width docs.

    The CASE guard makes the expression TOTAL (r14 optimization round):
    without it, sequence(0, size - width) DESCENDS for sub-width docs
    and element_at throws under ANSI. Callers always pair this with a
    ``min_tokens >= width`` filter, but the guard cannot live only in
    the filter: Generate (explode) pushdown infers a ``size(...) > 0``
    predicate containing this whole expression, and codegen's
    subexpression elimination evaluates it BEFORE the filter's
    short-circuiting AND — measured on the adversarial fixture, a
    1-token doc reached element_at(toks, 2) despite the width filter
    sitting left of it in the same Filter node."""
    toks = F.col(tok_col)
    idx = F.sequence(F.lit(0), F.size(toks) - width)
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(width)]
            ),
        )
    )
    # the typed-empty branch declares non-null elements like the grams
    # (concat_ws never yields null), so an exploded shingle column is
    # non-nullable and joins on it infer no isnotnull filter that would
    # keep a join side from reusing another consumer's exchange
    return F.when(F.size(toks) >= width, grams).otherwise(
        F.array().cast(T.ArrayType(T.StringType(), containsNull=False))
    )


def hashed_word_shingles(width: int, tok_col: str = "toks") -> Column:
    """array<bigint> of distinct xxhash64'd word ``width``-grams — the
    8-byte shingle representation the MinHash family consumes
    (operators/minhash.py). Hash BEFORE array_distinct so the dedup
    compares longs, not strings. Same totality guard as
    :func:`word_shingles`."""
    toks = F.col(tok_col)
    idx = F.sequence(F.lit(0), F.size(toks) - width)
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + k + 1) for k in range(width)]
                )
            ),
        )
    )
    return F.when(F.size(toks) >= width, grams).otherwise(
        F.array().cast("array<bigint>")
    )
