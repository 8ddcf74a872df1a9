"""Public library API — the operator surface as plain functions over YOUR
DataFrames (the query registry binds the same operators to the shared
fixture tables; this module is what a user imports to run them on their
own data).

    from etl_pipeline_spark import api

    kept      = api.dedupe_exact(docs, text_col="text", id_col="doc_id")
    pairs     = api.jaccard_near_dup_pairs(docs, threshold=0.8)
    clusters  = api.cluster_near_dups(docs, pairs)
    feats     = api.text_quality_features(docs)
    topk      = api.knn_cosine_topk(embeddings, n_queries=10, k=5)
    profiles  = api.quantize_int8_stats(embeddings)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Dedup family (X1/X2)
# ---------------------------------------------------------------------------


def normalized_fingerprint(text_col: Column) -> Column:
    """md5 of whitespace-normalized, lowercased text (exact-dedup key)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " ")))


def dedupe_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint
    (deterministic dropDuplicates). Rows with NULL text pass through
    unchanged — md5(NULL) is NULL and window partitioning groups NULL
    keys together, so deduping them would silently delete every
    NULL-text document but one (r9 review)."""
    w = W.partitionBy(normalized_fingerprint(F.col(text_col))).orderBy(id_col)
    deduped = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.unionByName(df.filter(F.col(text_col).isNull()))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-gram pairs — the posting stream of
    functions/shingles.py, with the id column renamed."""
    from etl_pipeline_spark.functions.shingles import postings

    return postings(df, width, id_col, text_col).select(F.col(id_col).alias("id"), "shingle")


def jaccard_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_width: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via inverted-index
    self-join; ``df_cap`` drops stop-shingles (document frequency above
    the cap) to bound posting-list blowup at scale. The cap is a window
    count over the posting stream: a doc-frequency table joined back was
    broadcast whole (the vocabulary) off the compressed-scan estimate at
    sf10."""
    from etl_pipeline_spark.functions.shingles import overlap_pairs, postings

    sh = postings(df, shingle_width, id_col, text_col)
    if df_cap is not None:
        sh = (
            sh.withColumn("_df", F.count("*").over(W.partitionBy("shingle")))
            .filter(F.col("_df") <= df_cap)
            .select(id_col, "shingle")
        )
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        overlap_pairs(sh, directed=False)
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def cluster_near_dups(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id,
    is_keeper)."""
    from etl_pipeline_spark.operators.cluster import connected_components

    nodes = df.select(F.col(id_col).alias("node"))
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(nodes, edges.localCheckpoint(eager=True), max_iter)
    return comp.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# Text analysis (X4)
# ---------------------------------------------------------------------------

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds token counts, punctuation/stopword ratios and a pass flag."""
    t = F.col(text_col)
    n = F.length(t)
    n_tok = F.size(F.split(F.trim(t), r"\s+"))
    n_punct = F.size(F.regexp_extract_all(text_col, F.lit(r"[^A-Za-z0-9\s]"), 0))
    n_stop = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"\b(the|a|and|of|to)\b"))
    )
    punct_ratio = n_punct.cast("double") / F.greatest(n, F.lit(1))
    return df.select(
        "*",
        F.size(F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0)).alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 4).alias(
            "stopword_ratio"
        ),
        (n_tok.between(10, 1000) & (punct_ratio < 0.2)).alias("passes_quality"),
    )


def hash_sample(df: DataFrame, id_col: str, fraction_16ths: int = 8) -> DataFrame:
    """Deterministic sampling: keep rows whose md5(id) first nibble <
    fraction_16ths (8 -> 50%). Survives repartitioning and reruns."""
    nibble = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10)
    return df.filter(nibble.cast("int") < fraction_16ths)


# ---------------------------------------------------------------------------
# Similarity (X3)
# ---------------------------------------------------------------------------


def knn_cosine_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k (query set = lowest n ids).

    The query set really is the n LOWEST ids (r9 review: the old
    ``id < n_queries`` filter returned an EMPTY query set on any table
    whose ids are not dense 0-based — e.g. ids 1000..1999 — silently
    producing zero results)."""
    emb = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    lowest = df.select(id_col).orderBy(id_col).limit(n_queries)
    q = df.join(F.broadcast(lowest), id_col, "left_semi").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
    )
    cos = dot(emb("q_emb"), emb(vec_col)) / (
        F.sqrt(dot(emb("q_emb"), emb("q_emb"))) * F.sqrt(dot(emb(vec_col), emb(vec_col)))
    )
    scored = (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("neighbor_id"), F.round(cos, 4).alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def quantize_int8_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scale and reconstruction MSE (ppm)."""
    emb_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb_d, lambda x: F.abs(x))) / 127.0
    with_scale = df.select(F.col(id_col), emb_d.alias("_e"), scale.alias("int8_scale"))
    sq = F.aggregate(
        F.transform(
            F.col("_e"),
            lambda x: F.pow(x - F.floor(x / F.col("int8_scale") + 0.5) * F.col("int8_scale"), F.lit(2)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return with_scale.select(
        id_col,
        F.round("int8_scale", 6).alias("int8_scale"),
        F.round(sq / F.size("_e") * 1e6, 4).alias("mse_ppm"),
    )


# ---------------------------------------------------------------------------
# Corpus-build operators (round 2): contamination, PII scrub, mixing,
# packing, repetition, incremental dedup
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def contamination_report(
    train: DataFrame,
    evals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_width: int = 5,
) -> DataFrame:
    """Per eval-document n-gram collision report against the training
    corpus: (eval_doc_id, n_shared_ngrams, n_contaminating_docs). The
    eval shingle set broadcasts — it is small by construction."""
    t = shingles(train, text_col, id_col, ngram_width)
    e = shingles(evals, text_col, id_col, ngram_width)
    hits = t.alias("t").join(F.broadcast(e.alias("e")), F.col("t.shingle") == F.col("e.shingle"))
    return hits.groupBy(F.col("e.id").alias("eval_doc_id")).agg(
        F.countDistinct("t.shingle").alias("n_shared_ngrams"),
        F.countDistinct("t.id").alias("n_contaminating_docs"),
    )


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phones to placeholder tokens; adds redaction counts
    per row so the caller can audit-aggregate them."""
    t = F.col(text_col)
    return df.withColumn(
        "_n_emails", F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0))
    ).withColumn(
        "_n_phones", F.size(F.regexp_extract_all(text_col, F.lit(PHONE_RE), 0))
    ).withColumn(
        text_col,
        F.regexp_replace(F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"),
    )


def stratified_hash_sample(
    df: DataFrame, id_col: str, strata_col: str, rates_16ths: dict[str, int], default_16ths: int = 0
) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates_16ths`` maps a stratum
    value to how many md5 nibbles (of 16) to keep — the data-mixing
    primitive (reproducible across runs/engines, unlike sampleBy)."""
    rate = F.lit(default_16ths)
    for value, r in rates_16ths.items():
        rate = F.when(F.col(strata_col) == value, F.lit(r)).otherwise(rate)
    nibble = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10).cast("int")
    return df.filter(nibble < rate)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str = "doc_id",
    partition_col: str | None = None,
    budget: int = 256,
) -> DataFrame:
    """Greedy stream packing: assign each row the chunk its running token
    offset falls in (rows stay contiguous; a boundary row overflows its
    chunk rather than splitting). Adds a ``chunk_id`` column.
    ``partition_col`` packs independent streams per value (pass "lang"
    for per-language packing); the default is ONE stream — a general
    frame need not have a lang column (r9 review: the old "lang"
    default crashed any frame without one)."""
    w = (
        (W.partitionBy(partition_col) if partition_col else W.partitionBy())
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offset = F.sum(token_col).over(w) - F.col(token_col)
    return df.withColumn("chunk_id", F.floor(offset / budget))


def repetition_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``repetition`` = 1 - distinct_words/total_words (the
    boilerplate/spam quality signal)."""
    toks = F.split(text_col, " ")
    rep = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    return df.withColumn("repetition", F.round(rep, 4))


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top2_max: float = 0.20,
    dup5_max: float = 0.15,
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, Table A1) over any
    (id, text) frame: per-doc character fraction covered by the most
    frequent word 2-gram and by duplicate word 5-grams, plus the keep
    decision at the paper's thresholds. Returns
    ``(id_col, n_words, top2_char_frac, dup5_char_frac, keep)``."""
    from etl_pipeline_spark.queries.text import gopher_repetition as _impl

    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return _impl(d, top2_max, dup5_max).withColumnRenamed("doc_id", id_col)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023) over explicit frames: score
    ``raw`` docs by hashed-ngram log p_target/p_raw against the
    ``target`` set and return the ``k`` most target-like as
    ``(id_col, n_feats, dsir_micro_nats)``. Integer micro-nat scores,
    deterministic top-k (ties break to the lowest id)."""
    from etl_pipeline_spark.queries.llm_ops import dsir_topk

    def shaped(df: DataFrame, is_tgt: bool) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.lit(is_tgt).alias("is_tgt"),
            F.col(text_col).alias("text"),
        )

    docs = shaped(target, True).unionAll(shaped(raw, False))
    return dsir_topk(docs, k).withColumnRenamed("doc_id", id_col)


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budget: int,
    epoch_cap: int = 2,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023) over any
    frame: sum ``token_col`` per ``strata_col``, then waterfill
    ``budget`` tokens as uniformly as possible with no stratum repeated
    beyond ``epoch_cap`` epochs. Returns per-stratum
    ``(strata_col, corpus_tokens, cap_tokens, alloc_tokens, epochs,
    capped)``; all integer arithmetic."""
    from etl_pipeline_spark.queries.llm_ops import unimax_waterfill

    counts = (
        df.select(
            F.coalesce(F.col(strata_col).cast("string"), F.lit("und")).alias("lang"),
            F.col(token_col).alias("n"),
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("c"))
    )
    return unimax_waterfill(counts, budget, epoch_cap).withColumnRenamed(
        "lang", strata_col
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Delete-free soft deduplication over any (id, text) frame: near-dup
    pairs above the Jaccard ``threshold`` cluster by connected
    components, and every row keeps sampling weight 1/|cluster|
    (singletons 1.0). Returns ``(id_col, cluster_id, cluster_size,
    weight, is_dup)``."""
    pairs = jaccard_near_dup_pairs(df, text_col=text_col, id_col=id_col,
                                   threshold=threshold)
    clusters = cluster_near_dups(df, pairs, id_col=id_col)
    sized = clusters.withColumn(
        "cluster_size", F.count("*").over(W.partitionBy("cluster_id"))
    )
    return sized.select(
        F.col(id_col),
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.round(F.lit(1.0) / F.col("cluster_size"), 4).alias("weight"),
        (F.col("cluster_size") > 1).alias("is_dup"),
    )


def dedupe_incremental(
    batch: DataFrame, corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Incremental corpus build: split an incoming batch into (fresh,
    dups) against the EXISTING corpus by normalized fingerprint — the
    anti-join form of exact dedup that a continuously-ingesting pipeline
    runs per batch. Returns (fresh, dups) with CONSERVATION: every batch
    row lands in exactly one side (r9 review — intra-batch extra copies
    previously vanished from both, under-counting any dup audit). fresh
    is exact-deduped within the batch (keep-lowest-id) and unseen by the
    corpus; dups is everything else — corpus matches AND later
    intra-batch copies."""
    fp = normalized_fingerprint(F.col(text_col))
    seen = corpus.select(fp.alias("_fp")).distinct()
    keyed = dedupe_exact(batch, text_col, id_col).withColumn("_fp", fp)
    fresh = keyed.join(seen, "_fp", "left_anti").drop("_fp")
    dups = batch.join(fresh.select(id_col), id_col, "left_anti")
    return fresh, dups


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 128,
    stride: int = 112,
) -> DataFrame:
    """Sliding-window chunking: one row per (doc, chunk) with
    ``chunk_id``, ``start_tok``, ``len_tok`` over whitespace tokens;
    windows are ``size`` tokens spaced ``stride`` apart (``size-stride``
    overlap), final window truncated. Shuffle-free (explode of a
    per-row sequence)."""
    if not 0 < stride <= size:
        raise ValueError(f"need 0 < stride <= size, got size={size} stride={stride}")
    n_tok = F.size(F.split(text_col, " ")).cast("long")
    last_chunk = F.ceil(F.greatest(F.col("_n_tok") - size, F.lit(0)) / stride)
    return (
        df.select(id_col, n_tok.alias("_n_tok"))
        .select(
            id_col,
            "_n_tok",
            F.explode(F.sequence(F.lit(0).cast("long"), last_chunk)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.least(F.lit(size).cast("long"), F.col("_n_tok") - F.col("chunk_id") * stride).alias(
                "len_tok"
            ),
        )
    )


def token_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram token entropy (nats) — the cheap perplexity
    proxy for quality gating. Returns (id, n_tok, distinct_tok,
    entropy_nats)."""
    counts = (
        df.select(id_col, F.explode(F.split(text_col, " ")).alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count("*").alias("_c"))
    )
    n = F.sum("_c").over(W.partitionBy(id_col)).cast("double")
    p = F.col("_c") / n
    return (
        counts.withColumn("_plogp", p * F.log(p))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tok"),
            F.count("*").alias("distinct_tok"),
            F.round(-F.sum("_plogp"), 4).alias("entropy_nats"),
        )
    )


def mixture_weights(
    df: DataFrame, strata_col: str = "lang", token_col: str | None = None, text_col: str = "text"
) -> DataFrame:
    """Per-stratum sampling weights that equalize token mass across
    strata (uniform target): weight = (1/n_strata) / actual_share.
    ``token_col`` may name a precomputed token-count column; otherwise
    tokens are counted by whitespace split of ``text_col``."""
    n_tok = (
        F.col(token_col).cast("long")
        if token_col
        else F.size(F.split(text_col, " ")).cast("long")
    )
    per = df.groupBy(strata_col).agg(
        F.count("*").alias("n_rows"), F.sum(n_tok).alias("sum_tokens")
    )
    total = F.sum("sum_tokens").over(W.partitionBy()).cast("double")
    n_strata = F.count("*").over(W.partitionBy())
    actual = F.col("sum_tokens") / total
    return per.select(
        strata_col,
        "n_rows",
        "sum_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round((F.lit(1.0) / n_strata) / actual, 4).alias("sample_weight"),
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", strata_col: str = "lang", coverage: float = 0.9
) -> DataFrame:
    """Smallest frequency-ranked vocabulary (ties broken lexically) whose
    cumulative token mass reaches ``coverage`` of each stratum's corpus —
    tokenizer sizing / OOV-rate estimation. Returns (stratum,
    total_tokens, distinct_tokens, vocab_size)."""
    counts = (
        df.select(strata_col, F.explode(F.split(text_col, " ")).alias("_tok"))
        .groupBy(strata_col, "_tok")
        .agg(F.count("*").alias("_c"))
    )
    w_ord = W.partitionBy(strata_col).orderBy(F.col("_c").desc(), F.col("_tok"))
    w_all = W.partitionBy(strata_col)
    ranked = counts.select(
        strata_col,
        F.sum("_c").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("_cum"),
        F.row_number().over(w_ord).alias("_rk"),
        F.sum("_c").over(w_all).alias("_total"),
        F.count("*").over(w_all).alias("_n_distinct"),
    )
    return (
        ranked.filter(F.col("_cum") >= F.lit(coverage) * F.col("_total"))
        .groupBy(strata_col)
        .agg(
            F.max("_total").alias("total_tokens"),
            F.max("_n_distinct").alias("distinct_tokens"),
            F.min("_rk").alias("vocab_size"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    tie_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change stream (one row
    per change event) into validity intervals — adds ``valid_from`` (the
    row's own timestamp), ``valid_to`` (the key's next change, open/NULL
    for the current row), and ``is_current``. ``tie_col`` breaks
    same-timestamp ordering deterministically.

    Scale: one shuffle on the key; partitions are change-stream sized."""
    order = [F.col(ts_col).asc()] + ([F.col(tie_col).asc()] if tie_col else [])
    w = W.partitionBy(key_col).orderBy(*order)
    nxt = F.lead(ts_col).over(w)
    return (
        df.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull())
    )


# ---------------------------------------------------------------------------
# Round-4 additions: weighted sampling, screening, containment, LM scoring
# ---------------------------------------------------------------------------


def priority_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling): top-k rows by weight/u with u drawn reproducibly from
    md5(id). Same sample on every engine, run, and partitioning. With
    ``stratum_col``, k rows are kept per stratum (partial top-k runs
    below the shuffle via WindowGroupLimit)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    keyed = df.withColumn("__priority", F.col(weight_col).cast("double") / u)
    if stratum_col is None:
        # global top-k: sort+limit compiles to TakeOrderedAndProject (heap
        # selection per partition), never a single-partition window sort
        return (
            keyed.orderBy(F.desc("__priority"), F.asc(id_col)).limit(k).drop("__priority")
        )
    w = W.partitionBy(stratum_col).orderBy(F.desc("__priority"), F.asc(id_col))
    return (
        keyed.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__priority", "__rank")
    )


def bloom_screen(
    df: DataFrame,
    probe_col: str,
    filter_df: DataFrame,
    filter_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Flag rows of ``df`` whose ``probe_col`` value may be present in
    ``filter_df[filter_col]`` using a DataFrame-native Bloom filter: the
    filter side folds to at most ``n_bits`` distinct md5-derived bit
    positions (broadcast), the probe side checks its k positions map-side.
    Adds a boolean ``bloom_hit`` column — no false negatives; false
    positives bounded by the m/k/n choice. Size n_bits to the filter-side
    cardinality (fill ratio <~ 0.1 keeps doc-level FP low)."""

    def positions(col):
        return F.array(*[
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit("#"), F.lit(str(i)))), 1, 8), 16, 10
            ).cast("long") % n_bits
            for i in range(n_hashes)
        ])

    bits = (
        filter_df.select(F.col(filter_col).alias("__v")).distinct()
        .select(F.explode(positions(F.col("__v"))).alias("pos"))
        .distinct()
    )
    probe_vals = df.select(F.col(probe_col).alias("__v")).distinct()
    hits = (
        probe_vals.select("__v", F.explode(positions(F.col("__v"))).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("__v")
        .agg(F.count("*").alias("__n_hit"))
        .filter(F.col("__n_hit") == n_hashes)
        .select("__v", F.lit(True).alias("bloom_hit"))
    )
    return (
        df.join(hits, df[probe_col] == hits["__v"], "left")
        .drop("__v")
        .withColumn("bloom_hit", F.coalesce(F.col("bloom_hit"), F.lit(False)))
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 3,
) -> DataFrame:
    """Directed shingle-containment pairs |S(a) ∩ S(b)| / |S(a)| >=
    threshold — catches a short document embedded in a longer one, which
    symmetric Jaccard misses. Columns: contained_doc, container_doc,
    n_inter, containment."""
    from etl_pipeline_spark.functions.shingles import overlap_pairs, postings

    c = F.col("n_inter") / F.col("na")
    return (
        overlap_pairs(postings(df, width, id_col, text_col), directed=True)
        .filter(c >= threshold)
        .select(
            F.col("doc_a").alias("contained_doc"),
            F.col("doc_b").alias("container_doc"),
            "n_inter",
            F.round(c, 4).alias("containment"),
        )
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str | Sequence[str] = "doc_id"
) -> DataFrame:
    """Corpus-trained add-one-smoothed bigram-LM scores per document:
    (*id, n_bigrams, nll_bits, ppl), where ``id_col`` names one key
    column or several (e.g. ``("doc_id", "lang")``). Each bigram scores
    -log2((c(w1,w2)+1)/(c(w1)+V)), V the corpus vocabulary size;
    nll_bits is a document's average and ppl = 2^nll_bits. High
    perplexity = boilerplate/garbage candidates; very low = degenerate
    repeats.

    The score is a pure function of the DISTINCT bigram, so it is
    computed on the distinct-bigram count table (c(w1) is a window sum
    of c(w1,w2) over w1) and the corpus-sized bigram stream joins it
    once on (w1, w2), then aggregates per document. No join strategy is
    forced: the scored table grows with the corpus."""
    from etl_pipeline_spark.functions.shingles import bigrams

    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    bg = bigrams(df, *keys, text_col=text_col)
    vocab = df.select(
        F.explode(F.filter(F.split(text_col, " "), lambda t: t != "")).alias("t")
    ).agg(F.countDistinct("t").alias("v"))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = F.sum("c12").over(W.partitionBy("w1"))
    scored = c12.crossJoin(F.broadcast(vocab)).select(
        "w1", "w2", (-F.log2((F.col("c12") + 1.0) / (c1 + F.col("v")))).alias("nll")
    )
    return (
        bg.join(scored, ["w1", "w2"])
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("nll_bits"),
            F.round(F.pow(F.lit(2.0), F.avg("nll")), 2).alias("ppl"),
        )
    )


def ewma(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    order_cols: list[str],
    window: int = 16,
) -> DataFrame:
    """Truncated exponentially-weighted moving average (alpha=0.5) of
    ``value_col`` over the last ``window`` rows per partition, appended
    as an ``ewma`` column. Weights are powers of two and the fold order
    is pinned, so the smoothing is deterministic on any engine or
    partitioning (see queries/advanced.py:q_ewma_smoothing)."""
    w = (
        W.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), W.currentRow)
    )
    framed = df.withColumn("__frame", F.collect_list(value_col).over(w))
    n = F.size("__frame")
    num = F.aggregate(
        F.transform("__frame", lambda x, i: x * F.pow(F.lit(0.5), n - 1 - i)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    den = F.lit(2.0) - F.pow(F.lit(0.5), n - 1)
    return framed.withColumn("ewma", num / den).drop("__frame")


def cms_topk_report(df: DataFrame, item_col: str, k: int = 20) -> DataFrame:
    """Count-min-sketch heavy-hitter report over any item column: the
    top-k items by exact count with their sketch estimates and
    overestimates (operators/cms.py holds the mergeable counter
    primitives for the sketch-only 100 TB form)."""
    from etl_pipeline_spark.operators.cms import cms_estimate, cms_increments

    counts = df.groupBy(F.col(item_col).alias("word")).agg(F.count("*").alias("exact_cnt"))
    counters = cms_increments(
        df.select(F.col(item_col).alias("word")), "word"
    )
    # lazy checkpoint: `top` feeds both the join's left side and the
    # sketch's probe set — without it the exact count + TakeOrdered scan
    # over the full corpus executes twice (r9 review)
    top = (
        counts.orderBy(F.col("exact_cnt").desc(), F.col("word").asc())
        .limit(k)
        .localCheckpoint(eager=False)
    )
    return (
        top.join(cms_estimate(counters, top.select("word"), "word"), "word")
        .select(
            F.col("word").alias(item_col),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overest"),
        )
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    tau: float = 0.25,
) -> DataFrame:
    """Semantic dedup over an (id, float-vector) table: cluster by
    argmax-cosine against deterministic seed centroids, then within each
    cluster drop the centroid-closer member of every pair with cosine >=
    tau. Returns the SURVIVING rows with their cluster and centroid
    cosine (operators/semdedup.py documents the determinism contract)."""
    from etl_pipeline_spark.operators.semdedup import (
        semdedup_assign,
        semdedup_pairs,
        semdedup_pruned,
    )

    emb = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    assign = semdedup_assign(emb, k)
    pruned = semdedup_pruned(semdedup_pairs(assign), tau).select(
        F.col("pruned").alias("vec_id")
    )
    return (
        assign.join(pruned, "vec_id", "left_anti")
        .select(F.col("vec_id").alias(id_col), "cluster", "cosc")
    )


def target_encode(
    df: DataFrame,
    category_col: str,
    target_cents_col: str,
    smooth: int = 10,
) -> DataFrame:
    """Leave-one-out smoothed target encoding over any DataFrame with an
    integer target column: appends ``enc_cents`` — the category mean
    EXCLUDING the row itself, shrunk toward the global prior with
    ``smooth`` pseudo-observations. All-integer ``div`` arithmetic
    (queries/analytics_ml.py q_target_encoding is the oracle-checked
    instance). One category-keyed window shuffle + a broadcast prior."""
    g = df.agg(
        F.expr(
            f"CAST(sum({target_cents_col}) AS BIGINT) div count(*)"
        ).alias("_prior")
    )
    wn = W.partitionBy(category_col)
    return (
        df.withColumn("_s", F.sum(target_cents_col).over(wn))
        .withColumn("_n", F.count("*").over(wn))
        .crossJoin(F.broadcast(g))
        .withColumn(
            "enc_cents",
            # a singleton category with smooth=0 has no LOO evidence at
            # all — fall back to the global prior instead of dividing by 0
            F.expr(
                f"CAST(CASE WHEN _n - 1 + {smooth} = 0 THEN _prior"
                f" ELSE (_s - {target_cents_col} + {smooth} * _prior)"
                f" div (_n - 1 + {smooth}) END AS BIGINT)"
            ),
        )
        .drop("_s", "_n", "_prior")
    )


def gaps_islands(df: DataFrame, key_col: str, seq_col: str) -> DataFrame:
    """Per-key consecutive-run profile of an integer sequence column
    (q_gaps_islands over caller data): n_active, n_islands,
    longest_streak, longest_start. One key-partitioned window shuffle."""
    days = df.select(key_col, seq_col).distinct()
    w = W.partitionBy(key_col).orderBy(seq_col)
    isl = days.withColumn("_grp", F.col(seq_col) - F.row_number().over(w))
    islands = isl.groupBy(key_col, "_grp").agg(
        F.min(seq_col).alias("_start"), F.count("*").alias("_len")
    )
    marked = islands.withColumn("_mx", F.max("_len").over(W.partitionBy(key_col)))
    return marked.groupBy(key_col).agg(
        F.sum("_len").alias("n_active"),
        F.count("*").alias("n_islands"),
        F.max("_len").alias("longest_streak"),
        F.min(F.when(F.col("_len") == F.col("_mx"), F.col("_start"))).alias(
            "longest_start"
        ),
    )


def clamped_running_balance(
    df: DataFrame, key_col: str, order_cols: list[str], delta_col: str
) -> DataFrame:
    """Clamp-at-zero running balance per key via the Lindley closed form
    b_t = S_t - min(0, running-min S_t) — two stacked windows sharing one
    key-partitioned sort, no sequential scan (q_clamped_running_balance
    is the oracle-checked instance). Returns per-key n_tx / final /
    peak / n_clamps."""
    wo = W.partitionBy(key_col).orderBy(*order_cols)
    wprev = wo.rowsBetween(W.unboundedPreceding, -1)
    wlast = W.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    s = df.withColumn("_s", F.sum(delta_col).over(wo))
    m = s.select(
        key_col,
        "_s",
        F.least(F.lit(0), F.min("_s").over(wo)).alias("_m"),
        F.least(F.lit(0), F.coalesce(F.min("_s").over(wprev), F.lit(0))).alias(
            "_mp"
        ),
        F.row_number().over(wlast).alias("_rl"),
    )
    bal = m.select(
        key_col,
        (F.col("_s") - F.col("_m")).alias("_bal"),
        F.when(F.col("_s") < F.col("_mp"), 1).otherwise(0).alias("_cl"),
        "_rl",
    )
    return bal.groupBy(key_col).agg(
        F.count("*").alias("n_tx"),
        F.min(F.when(F.col("_rl") == 1, F.col("_bal"))).alias("final_balance"),
        F.max("_bal").alias("peak_balance"),
        F.sum("_cl").alias("n_clamps"),
    )


def weighted_median(
    df: DataFrame, key_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Exact lower weighted median per key (q_weighted_median over
    caller data): collapse to distinct values, one cumulative window
    bounded by value cardinality."""
    v = df.groupBy(key_col, value_col).agg(F.sum(weight_col).alias("_w"))
    wcum = W.partitionBy(key_col).orderBy(value_col)
    wall = W.partitionBy(key_col)
    c = v.select(
        key_col,
        value_col,
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wall).alias("_tot"),
    )
    return c.groupBy(key_col).agg(
        F.min(F.when(2 * F.col("_cum") >= F.col("_tot"), F.col(value_col))).alias(
            "weighted_median"
        ),
        F.min("_tot").alias("total_weight"),
    )


def wordpiece_tokens(df: DataFrame, word_col: str = "word") -> DataFrame:
    """Greedy WordPiece split of a word column through the Arrow-batched
    tokenizer (operators/wordpiece.py): appends ``pieces``
    (array<string>) and ``n_pieces``. Call on the DISTINCT word table
    and join corpus weights back — never tokenize per corpus token."""
    from etl_pipeline_spark.operators.wordpiece import wordpiece_udf

    return df.withColumn("pieces", wordpiece_udf()(F.col(word_col))).withColumn(
        "n_pieces", F.size("pieces")
    )


# Re-exported operator surfaces (same contract: plain functions over
# caller DataFrames; see each module's docstring for the scale notes).
from etl_pipeline_spark.operators.cms import (  # noqa: E402,F401
    cms_estimate,
    cms_increments,
)
from etl_pipeline_spark.operators.skew import (  # noqa: E402,F401
    hybrid_skew_join,
    salted_aggregate,
    salted_join,
)
from etl_pipeline_spark.operators.zorder import (  # noqa: E402,F401
    read_box,
    write_zordered,
    zorder_key,
)
from etl_pipeline_spark.queries.analytics_ml import (  # noqa: E402,F401
    dbscan_classify,
)
from etl_pipeline_spark.queries.graph_sampling import (  # noqa: E402,F401
    oriented_wedge_mass,
    sampled_triangles,
)
