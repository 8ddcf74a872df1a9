"""LLM training-data pipeline operators beyond the X1-X5 core — the
operations a 100 TB corpus build runs between dedup and tokenization:
eval-set contamination checking, PII scrubbing, stratified (per-language)
hash sampling for data mixing, fixed-token-budget sequence packing, and
repetition scoring. All pure Column expressions (JVM-side, no UDFs), each
oracle-checked against DuckDB on the shared fixture tables.

Scale notes per operator are on the docstrings; the common theme: every
shuffle key here is either a shingle/fingerprint (uniform by
construction) or a low-cardinality (lang, source) pair whose group sizes
are bounded by the corpus mix, never by a hot join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables
from etl_pipeline_spark.functions.shingles import postings
from etl_pipeline_spark.queries.base import query
from etl_pipeline_spark.queries.text import TOKEN_RE

CONTAM_NGRAM = 5  # word n-gram width for contamination fingerprints
EVAL_MOD = 10  # doc_id % EVAL_MOD == EVAL_REMAINDER -> held-out eval doc
EVAL_REMAINDER = 9
PACK_BUDGET = 256  # tokens per packed sequence

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"


def _ngram_sql(width: int, who: str) -> str:
    """DuckDB word-n-gram shingle extraction for the train/eval split."""
    terms = " || ' ' || ".join(f"STRING_SPLIT(text, ' ')[i+{k}]" for k in range(width))
    cond = (
        f"doc_id % {EVAL_MOD} = {EVAL_REMAINDER}"
        if who == "eval"
        else f"doc_id % {EVAL_MOD} <> {EVAL_REMAINDER}"
    )
    return f"""
        SELECT doc_id, shingle FROM (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {width - 1}),
                       i -> {terms}
                   ))) AS shingle
            FROM documents
            WHERE {cond} AND LEN(STRING_SPLIT(text, ' ')) >= {width}
        ) s
    """


@query(
    "q_contamination_check",
    oracle=f"""
    WITH train AS ({_ngram_sql(CONTAM_NGRAM, "train")}),
    eval_s AS ({_ngram_sql(CONTAM_NGRAM, "eval")}),
    hits AS (
        SELECT e.doc_id AS eval_doc_id, e.shingle, t.doc_id AS train_doc_id
        FROM eval_s e JOIN train t ON e.shingle = t.shingle
    )
    SELECT eval_doc_id,
           COUNT(DISTINCT shingle)      AS n_shared_ngrams,
           COUNT(DISTINCT train_doc_id) AS n_contaminating_docs
    FROM hits
    GROUP BY eval_doc_id
    """,
    tags=("llm", "contamination", "X4"),
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check — the pre-training hygiene step: for
    every held-out eval document (doc_id % 10 == 9), how many of its word
    5-grams also appear in the training split, and in how many distinct
    training documents. Nonzero rows are the contamination report a real
    pipeline would act on (drop the train docs or re-draw the eval set).

    Scale: the join key is the n-gram itself — an inverted-index join like
    the Jaccard dedup, but one side (eval set) is tiny by construction, so
    Spark broadcast-joins it; at 100 TB the eval shingle set (millions of
    rows, not billions) still broadcasts or bucket-joins cheaply. No
    all-pairs product anywhere.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    train = postings(d.filter(F.col("doc_id") % EVAL_MOD != EVAL_REMAINDER), CONTAM_NGRAM)
    evals = postings(d.filter(F.col("doc_id") % EVAL_MOD == EVAL_REMAINDER), CONTAM_NGRAM)
    hits = train.alias("t").join(
        F.broadcast(evals.alias("e")), F.col("t.shingle") == F.col("e.shingle")
    )
    return (
        hits.groupBy(F.col("e.doc_id").alias("eval_doc_id"))
        .agg(
            F.countDistinct("t.shingle").alias("n_shared_ngrams"),
            F.countDistinct("t.doc_id").alias("n_contaminating_docs"),
        )
    )


@query(
    "q_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || doc_id ||
                         '@example.com or 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, lang,
               LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}'))  AS n_emails,
               LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_RE}'))  AS n_phones,
               REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM seeded
    )
    SELECT lang,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(CASE WHEN REGEXP_MATCHES(clean, '{_EMAIL_RE}')
                          OR REGEXP_MATCHES(clean, '{_PHONE_RE}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii_docs
    FROM scrubbed
    GROUP BY lang
    """,
    tags=("llm", "pii", "X4"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with audit counts: redact emails and phone numbers
    to placeholder tokens and report per-language how many were removed —
    plus a residual check proving the scrub left none behind (the fixture
    has no natural PII, so a deterministic seeding step plants one email
    and one phone in every 7th document on BOTH engines).

    Scale: a narrow regexp_replace map — no shuffle except the final
    per-lang aggregate; at 100 TB this pipelines with the quality gate in
    one pass over the corpus.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    seeded = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    scrubbed = seeded.select(
        "lang",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        clean.alias("clean"),
    )
    residual = (
        F.regexp_extract("clean", _EMAIL_RE, 0) != ""
    ) | (F.regexp_extract("clean", _PHONE_RE, 0) != "")
    return scrubbed.groupBy("lang").agg(
        F.sum("n_emails").alias("emails_redacted"),
        F.sum("n_phones").alias("phones_redacted"),
        F.sum(residual.cast("long")).alias("residual_pii_docs"),
    )


@query(
    "q_stratified_sample",
    # rate via CASE, not a rates-table join: a NULL lang must fall into
    # the default stratum (Spark's otherwise(3)), and an equi-join on
    # lang would silently DROP null-lang rows instead
    oracle="""
    WITH kept AS (
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INTEGER)
              < CASE WHEN lang = 'en' THEN 8 ELSE 3 END
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM kept
    GROUP BY lang
    """,
    tags=("llm", "sample", "mixing"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — the data-mixing primitive: keep
    8/16 of English documents and 3/16 of every other language, selected
    by the first md5 nibble of doc_id (reproducible across engines, runs,
    and re-partitioning — unlike sampleBy's RNG streams). Reports the
    per-language kept counts and character mass the mixture produces.

    Scale: a per-row hash filter (no shuffle) plus one bounded aggregate;
    the rates table is a broadcast of one row per language.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    keep_16ths = F.when(F.col("lang") == "en", F.lit(8)).otherwise(F.lit(3))
    nibble = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    return (
        d.filter(nibble < keep_16ths)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
    )


@query(
    "q_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, n_tok,
               CAST(FLOOR(
                   (SUM(n_tok) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tok) / {PACK_BUDGET}
               ) AS BIGINT) AS chunk_id
        FROM toks
    )
    SELECT lang, chunk_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM packed
    GROUP BY lang, chunk_id
    """,
    tags=("llm", "packing", "X4"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: stream documents (per language, in doc_id order)
    into fixed token-budget chunks — each doc joins the chunk its running
    token offset falls in (greedy stream packing; a doc landing on a
    boundary overflows its chunk rather than splitting, the standard
    approximation when documents must stay contiguous). Emits per-chunk
    document counts and token mass — the shape a packed-pretraining
    dataloader consumes.

    Scale: one shuffle on lang for the running sum, one aggregate on
    (lang, chunk_id). For petabyte corpora the partition key becomes
    (lang, shard) so each window stays executor-sized; chunk ids then
    offset by shard.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_tok = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).cast("long")
    toks = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    offset = F.sum("n_tok").over(w) - F.col("n_tok")
    packed = toks.withColumn("chunk_id", F.floor(offset / PACK_BUDGET))
    return packed.groupBy("lang", "chunk_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tokens")
    )


@query(
    "q_repetition_score",
    oracle="""
    WITH scored AS (
        SELECT lang, source,
               1.0 - CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1) AS rep
        FROM documents
    )
    SELECT lang, source,
           ROUND(AVG(rep), 4) AS avg_repetition,
           ROUND(MAX(rep), 4) AS max_repetition
    FROM scored
    GROUP BY lang, source
    """,
    tags=("llm", "quality", "X4"),
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring — the boilerplate/spam quality signal: fraction
    of repeated words per document (1 - distinct/total), aggregated per
    (lang, source) so a pipeline can drop or down-weight sources whose
    repetition is pathological.

    Scale: per-row array math + one bounded aggregate on the
    low-cardinality (lang, source) key.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split("text", " ")
    rep = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    return (
        d.select("lang", "source", rep.alias("rep"))
        .groupBy("lang", "source")
        .agg(
            F.round(F.avg("rep"), 4).alias("avg_repetition"),
            F.round(F.max("rep"), 4).alias("max_repetition"),
        )
    )


CHUNK_SIZE = 128  # tokens per chunk
CHUNK_STRIDE = 112  # chunk start spacing (CHUNK_SIZE - CHUNK_STRIDE = 16 overlap)


@query(
    "q_doc_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tok FROM documents
    )
    SELECT doc_id, chunk_id,
           chunk_id * {CHUNK_STRIDE} AS start_tok,
           LEAST({CHUNK_SIZE}, n_tok - chunk_id * {CHUNK_STRIDE}) AS len_tok
    FROM (
        SELECT doc_id, n_tok,
               UNNEST(GENERATE_SERIES(
                   0,
                   CAST(CEIL(GREATEST(n_tok - {CHUNK_SIZE}, 0) / {CHUNK_STRIDE}.0) AS BIGINT)
               )) AS chunk_id
        FROM toks
    ) c
    """,
    tags=("llm", "chunking", "X4"),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the long-context prep step:
    each document yields overlapping CHUNK_SIZE-token windows spaced
    CHUNK_STRIDE apart (16-token overlap so no boundary context is lost),
    the final window truncated to the document end. Emits one row per
    (doc, chunk) with its token offset and length — the unit a
    tokenizer/packer consumes downstream.

    Scale: explode(sequence(...)) is a narrow per-row op — no shuffle at
    all; output size is sum(ceil(n_tok/stride)) rows, linear in corpus
    token count. The chunk arithmetic never materializes the token array
    beyond the already-needed split.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_tok = F.size(F.split("text", " ")).cast("long")
    toks = d.select("doc_id", n_tok.alias("n_tok"))
    last_chunk = F.ceil(F.greatest(F.col("n_tok") - CHUNK_SIZE, F.lit(0)) / CHUNK_STRIDE)
    chunked = toks.select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0).cast("long"), last_chunk)).alias("chunk_id"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE).alias("start_tok"),
        F.least(
            F.lit(CHUNK_SIZE).cast("long"), F.col("n_tok") - F.col("chunk_id") * CHUNK_STRIDE
        ).alias("len_tok"),
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    counts AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    with_n AS (
        SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM counts
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT)   AS n_tok,
           COUNT(*)                 AS distinct_tok,
           ROUND(-SUM((c / CAST(n AS DOUBLE)) * LN(c / CAST(n AS DOUBLE))), 4)
                                    AS entropy_nats
    FROM with_n
    GROUP BY doc_id
    """,
    tags=("llm", "quality", "entropy", "X4"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document — the cheap perplexity proxy a
    quality gate uses before any model-based scoring: low-entropy docs
    are repetitive/boilerplate, suspiciously-high-entropy docs are noise.
    H = -sum p ln p over whitespace tokens, in nats.

    Scale: one shuffle on (doc_id, token) for the counts, one on doc_id
    for the entropy fold — both uniform keys (doc_id is unique, tokens
    are spread across docs). The window-over-groupBy form computes n and
    the entropy in the same aggregation pass.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").over(W.partitionBy("doc_id")).cast("double")
    p = F.col("c") / n
    return (
        counts.withColumn("plogp", p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count("*").alias("distinct_tok"),
            F.round(-F.sum("plogp"), 4).alias("entropy_nats"),
        )
    )


@query(
    "q_mix_weights",
    oracle=f"""
    SELECT lang,
           COUNT(*)                                   AS n_docs,
           CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}'))) AS BIGINT) AS sum_tokens,
           ROUND(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}')))
                 / CAST(SUM(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}')))) OVER () AS DOUBLE),
                 6)                                   AS actual_share,
           ROUND((1.0 / COUNT(*) OVER ())
                 / (SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}')))
                    / CAST(SUM(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}')))) OVER () AS DOUBLE)),
                 4)                                   AS sample_weight
    FROM documents
    GROUP BY lang
    """,
    tags=("llm", "mixing", "X4"),
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting — compute per-language sampling weights
    that would equalize token mass across languages (uniform target
    mixture): weight = target_share / actual_share. Weights > 1 mean
    upsample (epochs over that slice), < 1 mean downsample — the number a
    mixture-aware dataloader consumes.

    Scale: one aggregate on lang plus window totals over the 5-row
    aggregate output — the expensive pass (token counting) happens once,
    map-side combined.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_tok = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).cast("long")
    per_lang = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(n_tok).alias("sum_tokens")
    )
    total = F.sum("sum_tokens").over(W.partitionBy()).cast("double")
    n_langs = F.count("*").over(W.partitionBy())
    actual = F.col("sum_tokens") / total
    return per_lang.select(
        "lang",
        "n_docs",
        "sum_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round((F.lit(1.0) / n_langs) / actual, 4).alias("sample_weight"),
    )


VOCAB_COVERAGE = 0.9  # corpus token-mass fraction the head vocabulary must cover


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT lang, tok, COUNT(*) AS c
        FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
        GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, c,
               SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk,
               SUM(c) OVER (PARTITION BY lang) AS total,
               COUNT(*) OVER (PARTITION BY lang) AS n_distinct
        FROM counts
    )
    SELECT lang,
           CAST(MAX(total) AS BIGINT)  AS total_tokens,
           MAX(n_distinct)             AS distinct_tokens,
           MIN(rk)                     AS vocab_{int(VOCAB_COVERAGE * 100)}
    FROM ranked
    WHERE cum >= {VOCAB_COVERAGE} * total
    GROUP BY lang
    """,
    tags=("llm", "vocab", "X4"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head-coverage per language: the smallest
    frequency-ranked vocabulary (ties broken lexically) whose cumulative
    token mass reaches 90% of the corpus — the tokenizer-sizing /
    OOV-rate question asked before training a BPE model.

    Scale: token counting shuffles on (lang, token) — uniform by
    construction; the ranked cumulative sum partitions by lang over the
    *aggregated* counts (vocabulary-sized, not corpus-sized). At 100 TB
    the per-lang vocabulary still fits a partition (vocab grows ~log of
    corpus); if a mega-lang vocabulary didn't, the rank window would
    shard by count-bucket first.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    w_ord = W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok"))
    w_all = W.partitionBy("lang")
    ranked = counts.select(
        "lang",
        F.sum("c").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
        F.row_number().over(w_ord).alias("rk"),
        F.sum("c").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n_distinct"),
    )
    return (
        ranked.filter(F.col("cum") >= F.lit(VOCAB_COVERAGE) * F.col("total"))
        .groupBy("lang")
        .agg(
            F.max("total").alias("total_tokens"),
            F.max("n_distinct").alias("distinct_tokens"),
            F.min("rk").alias(f"vocab_{int(VOCAB_COVERAGE * 100)}"),
        )
    )


DOMAIN_CAP = 10  # max docs kept per source domain


@query(
    "q_corpus_domain_cap",
    oracle=f"""
    SELECT source, doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) t
    WHERE rn <= {DOMAIN_CAP}
    """,
    tags=("llm-ops", "sampling", "domain-cap"),
)
def q_corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the anti-overrepresentation step of a
    corpus build (no single source domain may contribute more than
    DOMAIN_CAP docs). Selection within a domain is by md5(doc_id) order:
    a deterministic pseudo-random draw both engines compute identically,
    deliberately NOT quality-ordered — capping is a diversity control,
    and ordering by length/quality here would bias the kept subset
    (quality pruning is its own upstream gate).

    Scale: one window partitioned by source. Domain cardinality is huge
    in a real corpus (millions of hosts) so partitions are small; a hot
    mega-domain is exactly what the cap truncates, and rank-then-filter
    short-circuits via the window's running row_number."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= DOMAIN_CAP)
        .drop("rn")
    )


NOVELTY_NGRAM = 3  # word n-gram width for the novelty index


@query(
    "q_shingle_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {NOVELTY_NGRAM - 1}),
                       i -> STRING_SPLIT(text, ' ')[i] || ' ' ||
                            STRING_SPLIT(text, ' ')[i+1] || ' ' ||
                            STRING_SPLIT(text, ' ')[i+2]
                   ))) AS shingle
            FROM documents
            WHERE LEN(STRING_SPLIT(text, ' ')) >= {NOVELTY_NGRAM}
        ) s
    ),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
    FROM sh JOIN first_seen f ON sh.shingle = f.shingle
    GROUP BY sh.doc_id
    """,
    tags=("llm", "novelty", "X4"),
)
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty scoring — the curriculum/freshness signal of a
    streaming corpus build: for each document (doc_id as ingest order),
    the fraction of its word 3-grams that no earlier document contains.
    Low-novelty docs are recombinations of already-seen text (drop or
    down-weight); the per-doc score also tracks corpus saturation over
    time.

    Scale: the same inverted index the Jaccard dedup builds — one
    shuffle on the shingle to find each shingle's first occurrence
    (min(doc_id), map-side combinable), one join back, one per-doc
    aggregate. In an incremental build first_seen is the persistent
    index and each batch anti-joins against it.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = postings(d, NOVELTY_NGRAM)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(first_seen, "shingle")
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(novel).alias("n_novel"),
        F.round(F.sum(novel) / F.count("*").cast("double"), 4).alias("novelty"),
    )


@query(
    "q_lm_bigram_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang, toks[i] AS w1, toks[i+1] AS w2
        FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS g(i)
        WHERE LEN(toks) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1  AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    v   AS (SELECT COUNT(DISTINCT t) AS v
            FROM (SELECT UNNEST(toks) AS t FROM toks)),
    scored AS (
        SELECT b.doc_id, b.lang,
               -LOG2((c12.c12 + 1.0) / (c1.c1 + v.v)) AS nll
        FROM bg b
        JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        JOIN c1  ON b.w1 = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id, lang,
           COUNT(*)           AS n_bigrams,
           ROUND(AVG(nll), 4) AS nll_bits,
           ROUND(POW(2.0, AVG(nll)), 2) AS ppl
    FROM scored
    GROUP BY doc_id, lang
    """,
    tags=("llm", "quality", "language-model"),
)
def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM quality score — the CCNet/KenLM-style
    perplexity filter, self-trained: count all corpus bigrams and contexts,
    then score every document with its add-one-smoothed average negative
    log2 probability, -avg log2((c(w1,w2)+1)/(c(w1)+V)), and the implied
    per-token perplexity 2^nll. Documents whose ppl is far above the corpus
    norm are the boilerplate/garbage a pre-training build drops; far below
    are the degenerate repeats. Reference parity: additive — the reference
    pipeline has no model-based quality pass.

    Scale: api.bigram_lm_scores keyed on (doc_id, lang). The corpus-
    sized bigram stream crosses at most two exchanges — (w1, w2) for the
    one score join and doc_id for the final aggregate. The count table
    is map-side combined on the bigram, c(w1) is a window over w1 on it,
    and V is a 1-row broadcast. No join strategy is forced: the scored
    table is distinct-bigram-sized, unbounded at 100 TB, so AQE picks
    broadcast or shuffle from runtime sizes
    (plans/r14/q_lm_bigram_score_{before,after}.txt record the r13
    two-join form this replaced).
    """
    from etl_pipeline_spark.api import bigram_lm_scores

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return bigram_lm_scores(d, id_col=("doc_id", "lang"))


SAMPLE_TOPK = 3  # docs kept per source stratum by the weighted sampler

# 32-bit integer from the first 8 hex chars of md5(doc_id) — digit-sum
# wording identical in both engines (same idiom as operators/simhash.py).
_U32_SQL = "(" + " + ".join(
    f"(INSTR('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
    f" * CAST({16 ** (8 - 1 - i)} AS BIGINT)"
    for i in range(8)
) + ")"


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               CAST(n_chars AS DOUBLE) /
               (({_U32_SQL} + 1) / 4294967296.0) AS priority
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, priority,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY priority DESC, doc_id
               ) AS rank
        FROM keyed
    )
    SELECT source, doc_id, n_chars, ROUND(priority, 4) AS priority, rank
    FROM ranked
    WHERE rank <= {SAMPLE_TOPK}
    """,
    tags=("llm", "sampling", "mixing"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling without replacement, deterministic — the
    priority-sampling scheme (Duffield-Lund-Thorup): each document draws a
    reproducible uniform u from md5(doc_id), gets priority w/u with weight
    w = n_chars, and the top-k priorities per source stratum are the
    sample. Long documents are proportionally more likely to be kept,
    every engine/run/partitioning draws the SAME sample (unlike
    df.sample's RNG streams), and the u construction (integer hash -> one
    IEEE divide -> one IEEE divide) is bit-identical across engines, so
    even the rank ORDER is oracle-checkable. This is how a data-mixing
    build takes a weighted sub-corpus per source without a shuffle-heavy
    sort of the full corpus.

    Scale: priorities are a per-row map (no shuffle); the per-stratum
    top-k is one shuffle keyed on source. A hot stratum is bounded by
    rank<=k pushdown (Spark plans WindowGroupLimit: each map task keeps
    only its local top-k before the exchange).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    keyed = d.select(
        "source",
        "doc_id",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    w = W.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SAMPLE_TOPK)
        .select("source", "doc_id", "n_chars", F.round("priority", 4).alias("priority"), "rank")
    )


BLOOM_BITS = 65536  # m: sized so a handful of false positives occur and are counted
BLOOM_K = 3  # hash functions


def _hex32_sql(md5_arg: str) -> str:
    """32-bit integer from the first 8 hex chars of MD5(md5_arg) — the
    digit-sum wording shared with operators/simhash.py, parameterized on
    the hashed expression."""
    return "(" + " + ".join(
        f"(INSTR('0123456789abcdef', SUBSTR(MD5({md5_arg}), {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (8 - 1 - i)} AS BIGINT)"
        for i in range(8)
    ) + ")"


@query(
    "q_bloom_decontaminate",
    oracle=f"""
    WITH train AS ({_ngram_sql(CONTAM_NGRAM, "train")}),
    eval_s AS ({_ngram_sql(CONTAM_NGRAM, "eval")}),
    seeds AS (SELECT UNNEST(GENERATE_SERIES(0, {BLOOM_K - 1})) AS i),
    bits AS (
        SELECT DISTINCT
               {_hex32_sql("shingle || '#' || CAST(i AS VARCHAR)")} % {BLOOM_BITS} AS pos
        FROM (SELECT DISTINCT shingle FROM eval_s), seeds
    ),
    tr_sh AS (SELECT DISTINCT shingle FROM train),
    tr_hits AS (
        SELECT shingle, COUNT(*) AS n_hit
        FROM (
            SELECT t.shingle,
                   {_hex32_sql("t.shingle || '#' || CAST(i AS VARCHAR)")} % {BLOOM_BITS} AS pos
            FROM tr_sh t, seeds
        ) p
        WHERE pos IN (SELECT pos FROM bits)
        GROUP BY shingle
    ),
    bloom_sh AS (SELECT shingle FROM tr_hits WHERE n_hit = {BLOOM_K}),
    exact_sh AS (SELECT DISTINCT t.shingle FROM tr_sh t
                 WHERE t.shingle IN (SELECT shingle FROM eval_s)),
    per_doc AS (
        SELECT tr.doc_id,
               MAX(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS bloom_flag,
               MAX(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS exact_flag
        FROM train tr
        LEFT JOIN bloom_sh b ON tr.shingle = b.shingle
        LEFT JOIN exact_sh e ON tr.shingle = e.shingle
        GROUP BY tr.doc_id
    )
    SELECT d.lang,
           COUNT(*)            AS n_train_docs,
           CAST(SUM(p.bloom_flag) AS BIGINT) AS n_bloom_flagged,
           CAST(SUM(p.exact_flag) AS BIGINT) AS n_exact_contaminated,
           CAST(SUM(CASE WHEN p.bloom_flag = 1 AND p.exact_flag = 0 THEN 1 ELSE 0 END)
                AS BIGINT)       AS n_false_positives
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.lang
    """,
    tags=("llm", "contamination", "bloom", "approx-exactly-checked"),
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB form of the eval-overlap
    check: instead of joining the full training shingle stream against the
    eval set, the eval shingles are folded into an m-bit Bloom filter
    (k md5-derived bit positions each) that travels as a broadcast, and
    each training shingle is flagged when all k of its positions are set.
    The report compares the Bloom verdict against the exact semi-join per
    language: flagged counts, true contamination, and the false positives
    the chosen m/k admit (m is deliberately small here so the FP column is
    exercised). The filter is built from md5 bit positions, not an opaque
    sketch, so the WHOLE approximate pipeline is bit-reproducible and
    exact-oracled — both engines agree on every false positive.

    Scale: the bit table is m bits (= at most m rows, deduped) regardless
    of corpus size — it broadcasts at any scale, turning decontamination
    into a map-side filter over the training stream with NO shuffle of
    training data (the per-doc aggregate shuffles only doc_ids). This is
    the same runtime-filter idea Spark uses for dynamic partition pruning,
    expressed as data.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    train = postings(d.filter(F.col("doc_id") % EVAL_MOD != EVAL_REMAINDER), CONTAM_NGRAM)
    evals = postings(d.filter(F.col("doc_id") % EVAL_MOD == EVAL_REMAINDER), CONTAM_NGRAM)

    def positions(col):  # k bit positions of one shingle column
        return F.array(*[
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit("#"), F.lit(str(i)))), 1, 8),
                16, 10,
            ).cast("long") % BLOOM_BITS
            for i in range(BLOOM_K)
        ])

    bits = (
        evals.select("shingle").distinct()
        .select(F.explode(positions(F.col("shingle"))).alias("pos"))
        .distinct()
    )
    tr_sh = train.select("shingle").distinct().localCheckpoint(eager=False)
    tr_pos = tr_sh.select("shingle", F.explode(positions(F.col("shingle"))).alias("pos"))
    bloom_sh = (
        tr_pos.join(F.broadcast(bits), "pos")
        .groupBy("shingle")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
        .select("shingle", F.lit(1).alias("bloom_hit"))
    )
    exact_sh = (
        tr_sh.join(F.broadcast(evals.select("shingle").distinct()), "shingle", "left_semi")
        .select("shingle", F.lit(1).alias("exact_hit"))
    )
    per_doc = (
        train.join(bloom_sh, "shingle", "left")
        .join(exact_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.max(F.coalesce(F.col("bloom_hit"), F.lit(0))).alias("bloom_flag"),
            F.max(F.coalesce(F.col("exact_hit"), F.lit(0))).alias("exact_flag"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum("bloom_flag").alias("n_bloom_flagged"),
            F.sum("exact_flag").alias("n_exact_contaminated"),
            F.sum(
                F.when((F.col("bloom_flag") == 1) & (F.col("exact_flag") == 0), 1).otherwise(0)
            ).alias("n_false_positives"),
        )
    )


CURRICULUM_BUCKETS = 4


@query(
    "q_curriculum_buckets",
    # oracle filled at import bottom: nests the q_lm_bigram_score oracle as
    # a CTE so the difficulty signal is the exact same cross-checked score
    oracle="""
    WITH lm AS ({lm_oracle}),
    assigned AS (
        SELECT l.doc_id, l.nll_bits, l.ppl, d.n_chars,
               NTILE({n_buckets}) OVER (ORDER BY l.nll_bits, l.doc_id) AS bucket
        FROM lm l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(ppl), 2) AS avg_ppl,
           ROUND(MIN(nll_bits), 4) AS min_nll,
           ROUND(MAX(nll_bits), 4) AS max_nll,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY bucket
    """,
    tags=("llm", "curriculum", "composite"),
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: quartile-bucket the corpus by the bigram-LM
    difficulty score (low-perplexity = easy/formulaic first, high =
    hard/diverse last) and report each bucket's size and character mass —
    the schedule table a curriculum-ordered training run consumes.
    Composes q_lm_bigram_score unchanged; NTILE on the rounded score with
    doc_id tie-break is deterministic across engines.

    Scale: the global NTILE is the textbook scale trap — a total sort. At
    100 TB the same buckets come from the two-pass form: exact quantile
    boundaries of nll_bits per partition-sample (tiny), broadcast, then a
    map-side bucket assignment; the operator keeps the declarative NTILE
    because bucket COUNTS (what this emits) are identical either way.
    """
    from etl_pipeline_spark.queries.base import REGISTRY

    lm = REGISTRY["q_lm_bigram_score"].fn(spark, sf_dir)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    assigned = (
        lm.join(d.select("doc_id", "n_chars"), "doc_id")
        .withColumn(
            "bucket",
            F.ntile(CURRICULUM_BUCKETS).over(
                W.orderBy(F.col("nll_bits"), F.col("doc_id"))
            ),
        )
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("ppl"), 2).alias("avg_ppl"),
        F.round(F.min("nll_bits"), 4).alias("min_nll"),
        F.round(F.max("nll_bits"), 4).alias("max_nll"),
        F.sum("n_chars").alias("total_chars"),
    )


def _fill_curriculum_oracle() -> None:
    from etl_pipeline_spark.queries.base import REGISTRY as _R

    spec = _R["q_curriculum_buckets"]
    spec.oracle = spec.oracle.format(
        lm_oracle=_R["q_lm_bigram_score"].oracle, n_buckets=CURRICULUM_BUCKETS
    )


_fill_curriculum_oracle()


SPAN_LEN = 3  # masked-span length in tokens (T5 mean-span-3 shape)


@query(
    "q_span_corruption_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i AS p, LEN(toks) AS n_tokens
        FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS g(i)
    ),
    marked AS (
        SELECT doc_id, p, n_tokens,
               (INSTR('0123456789abcdef',
                      SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 1)) - 1
               ) = 0 AS is_start,
               (INSTR('0123456789abcdef',
                      SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(p - 1 AS VARCHAR)), 1, 1)) - 1
               ) = 0 AND p - 1 >= 1 AS prev1,
               (INSTR('0123456789abcdef',
                      SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(p - 2 AS VARCHAR)), 1, 1)) - 1
               ) = 0 AND p - 2 >= 1 AS prev2
        FROM pos
    ),
    flags AS (
        SELECT doc_id, p, n_tokens,
               is_start,
               (is_start OR prev1 OR prev2) AS masked,
               -- run start: masked here, not masked at p-1 (a span "sentinel")
               (is_start OR prev1 OR prev2) AND NOT (
                   prev1 OR prev2 OR (
                       (INSTR('0123456789abcdef',
                              SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(p - 3 AS VARCHAR)), 1, 1)) - 1
                       ) = 0 AND p - 3 >= 1
                   )
               ) AS run_start
        FROM marked
    )
    SELECT doc_id,
           ANY_VALUE(n_tokens) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT) AS n_sentinels,
           ROUND(SUM(CASE WHEN masked THEN 1.0 ELSE 0.0 END) / ANY_VALUE(n_tokens), 4)
               AS mask_ratio
    FROM flags
    GROUP BY doc_id
    """,
    tags=("llm", "objective", "span-corruption"),
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask planning (the T5/BART denoising objective's
    data half): every token position draws a deterministic md5 coin
    (1/16) to START a 3-token masked span; overlapping spans merge. The
    report gives each document's masked-token count, sentinel count
    (number of contiguous masked runs — one sentinel token each in the
    corrupted encoding), and realized mask ratio (E[~17%] before merges).
    The mask decision at position p depends ONLY on (doc_id, p), so the
    whole schedule is a stateless per-row map both engines reproduce
    bit-identically — no sequential scan, no RNG state.

    Scale: posexplode then one doc-keyed aggregate — the same two-stage
    shape as token counting; the mask logic adds four md5 calls per
    token, all inside whole-stage codegen. Run detection needs NO window
    function because masked(p) is recomputable for p-1..p-3 inline.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    pos = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.size("toks").alias("n_tokens"), F.posexplode("toks"))
        .select("doc_id", "n_tokens", (F.col("pos") + 1).alias("p"))
    )

    def start_at(p_col):
        nib = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), p_col.cast("string"))),
                1, 1,
            ),
            16, 10,
        ).cast("int")
        return (nib == 0) & (p_col >= 1)

    is_start = start_at(F.col("p"))
    prev1 = start_at(F.col("p") - 1)
    prev2 = start_at(F.col("p") - 2)
    prev3 = start_at(F.col("p") - 3)
    masked = is_start | prev1 | prev2
    run_start = masked & ~(prev1 | prev2 | prev3)
    return (
        pos.select("doc_id", "n_tokens", masked.alias("masked"), run_start.alias("run_start"))
        .groupBy("doc_id")
        .agg(
            F.any_value("n_tokens").alias("n_tokens"),
            F.sum(F.col("masked").cast("long")).alias("n_masked"),
            F.sum(F.col("run_start").cast("long")).alias("n_sentinels"),
            F.round(
                F.sum(F.col("masked").cast("double")) / F.any_value("n_tokens"), 4
            ).alias("mask_ratio"),
        )
    )


MIX_ALPHA = 0.5  # temperature exponent for mixture rebalancing (mT5-style)
TOKEN_BUDGET = 1_000_000  # global training-token budget to allocate


@query(
    "q_token_budget_allocation",
    oracle=f"""
    WITH counts AS (
        SELECT source,
               CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    z AS (SELECT SUM(POW(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})) AS z FROM counts)
    SELECT c.source, c.n_tokens,
           ROUND(POW(CAST(c.n_tokens AS DOUBLE), {MIX_ALPHA}) / z.z, 6) AS mix_weight,
           CAST(TRUNC(POW(CAST(c.n_tokens AS DOUBLE), {MIX_ALPHA}) / z.z * {TOKEN_BUDGET})
                AS BIGINT) AS allocated_tokens,
           ROUND(POW(CAST(c.n_tokens AS DOUBLE), {MIX_ALPHA}) / z.z * {TOKEN_BUDGET}
                 / c.n_tokens, 4) AS epochs_implied
    FROM counts c CROSS JOIN z
    """,
    tags=("llm", "mixing", "temperature"),
)
def q_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture allocation (the mT5/XLM-R rule): each
    source's share of the global token budget is proportional to
    n_tokens^alpha with alpha=0.5 — upweighting small sources relative to
    their natural share without letting any source dominate. Emits the
    normalized weight, the allocated token budget, and the implied epoch
    count over each source (allocated/natural — >1 means the source
    repeats). Complements q_mix_weights (uniform-target form) with the
    standard temperature form.

    Scale: one aggregate over the corpus keyed on source (map-side
    combinable token sums), a 1-row normalizer broadcast — nothing else.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    counts = d.groupBy("source").agg(F.sum(F.size(toks)).alias("n_tokens"))
    z = counts.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))).alias("z")
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA)) / F.col("z")
    return counts.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(w, 6).alias("mix_weight"),
        F.floor(w * TOKEN_BUDGET).cast("long").alias("allocated_tokens"),
        F.round(w * TOKEN_BUDGET / F.col("n_tokens"), 4).alias("epochs_implied"),
    )


FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 85
FUNNEL_MAX_REPETITION = 0.55


@query(
    "q_filter_funnel",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang, text,
               LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS n_tok,
               1.0 - CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(text, ' ')), 1) AS rep,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    keeper AS (
        SELECT doc_id, lang, n_tok, rep,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM feat
    ),
    gates AS (
        SELECT lang,
               (n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}) AS g_len,
               (n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
                   AND rep <= {FUNNEL_MAX_REPETITION} AS g_rep,
               (n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
                   AND rep <= {FUNNEL_MAX_REPETITION} AND rn = 1 AS g_dedup
        FROM keeper
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT)   AS after_length,
           CAST(SUM(CASE WHEN g_rep THEN 1 ELSE 0 END) AS BIGINT)   AS after_repetition,
           CAST(SUM(CASE WHEN g_dedup THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup,
           ROUND(SUM(CASE WHEN g_dedup THEN 1.0 ELSE 0.0 END) / COUNT(*), 4) AS retention
    FROM gates
    GROUP BY lang
    """,
    tags=("llm", "quality", "funnel", "composite"),
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel attrition report — the accounting artifact every
    corpus build publishes: how many documents survive each successive
    gate (token-length band -> repetition cap -> exact-dup keeper), per
    language, with end-to-end retention. Sequential semantics (a doc must
    pass ALL earlier gates to count at a later one) so the columns read
    as a monotone funnel; thresholds sit at corpus-calibrated points so
    every stage shows real attrition on the fixtures.

    Scale: one pass computes all gate predicates per row (pure Column
    exprs), the dedup-keeper rank is the only shuffle (md5 fingerprint,
    uniform), and the per-lang rollup is bounded. This is the cheap
    always-on funnel; the expensive signals (LM perplexity, near-dup
    clusters) bolt on as further AND terms with their own documented
    plans.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks_all = F.split("text", " ")
    n_tok = F.size(F.filter(toks_all, lambda t: t != ""))
    rep = F.lit(1.0) - F.size(F.array_distinct(toks_all)).cast("double") / F.greatest(
        F.size(toks_all), F.lit(1)
    )
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    keeper = d.select(
        "doc_id", "lang", n_tok.alias("n_tok"), rep.alias("rep"), fp.alias("fp")
    ).withColumn("rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id")))
    g_len = F.col("n_tok").between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
    g_rep = g_len & (F.col("rep") <= FUNNEL_MAX_REPETITION)
    g_dedup = g_rep & (F.col("rn") == 1)
    return (
        keeper.select("lang", g_len.alias("g_len"), g_rep.alias("g_rep"), g_dedup.alias("g_dedup"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("g_len").cast("long")).alias("after_length"),
            F.sum(F.col("g_rep").cast("long")).alias("after_repetition"),
            F.sum(F.col("g_dedup").cast("long")).alias("after_dedup"),
            F.round(F.sum(F.col("g_dedup").cast("double")) / F.count("*"), 4).alias("retention"),
        )
    )


# --- Feature-hashed linear quality scorer ------------------------------------

FH_DIMS = 64  # hashed feature space
FH_SIGN_SALT = "#fhs"
FH_SLOT_SALT = "#fh"
FH_WEIGHT_SALT = "w#"


@query(
    "q_hashed_linear_score",
    # fastText-shaped quality scoring with the hashing trick: tokens hash
    # into FH_DIMS slots with a +/-1 sign hash; the "model" weights are
    # md5-derived pseudo-weights so the whole scorer is deterministic and
    # cross-engine-checkable (production swaps in trained weights; the
    # plan is identical). The per-doc dot product folds slot terms in
    # slot order, so the score is bit-reproducible pre-ROUND.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               {_hex32_sql("token || '" + FH_SLOT_SALT + "'")} % {FH_DIMS} AS slot,
               CASE WHEN {_hex32_sql("token || '" + FH_SIGN_SALT + "'")} % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM toks
    ),
    slots AS (
        SELECT doc_id, slot, CAST(SUM(sgn) AS BIGINT) AS net, COUNT(*) AS n
        FROM hashed GROUP BY doc_id, slot
    ),
    terms AS (
        SELECT doc_id, slot, n,
               net * (({_hex32_sql("'" + FH_WEIGHT_SALT + "' || CAST(slot AS VARCHAR)")} / 4294967296.0) * 2 - 1) AS term
        FROM slots
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           ROUND(list_reduce(LIST(term ORDER BY slot), (a, b) -> a + b) / SUM(n), 6)
               AS quality_score,
           CASE WHEN list_reduce(LIST(term ORDER BY slot), (a, b) -> a + b) > 0
                THEN 1 ELSE 0 END AS quality_pass
    FROM terms GROUP BY doc_id
    """,
    tags=("llm", "quality", "feature-hashing", "X4"),
)
def q_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring with the hashing trick: every
    token hashes to one of {D} feature slots with a sign hash (the
    collision-tolerant sparse vectorizer fastText and Vowpal Wabbit
    use), the doc's hashed feature vector dots a weight vector, and the
    normalized score plus a pass flag come back per document — the
    model-based quality gate that sits next to the heuristic one
    (q_text_quality_score) in a corpus funnel.

    Scale: tokens aggregate per (doc, slot) BEFORE any weights touch
    them (integer net signs — order-free), so the per-doc state is at
    most {D} slots regardless of document length, and the score fold is
    over the {D}-slot list in pinned slot order. One shuffle on doc_id;
    weights are an expression, not a table — nothing broadcasts, nothing
    collects. Swapping md5 pseudo-weights for a trained vector makes
    them a {D}-row broadcast join with the same plan.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]

    def h32(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    hashed = toks.select(
        "doc_id",
        (h32(F.concat("token", F.lit(FH_SLOT_SALT))) % FH_DIMS).alias("slot"),
        F.when(h32(F.concat("token", F.lit(FH_SIGN_SALT))) % 2 == 0, 1)
        .otherwise(-1)
        .alias("sgn"),
    )
    slots = hashed.groupBy("doc_id", "slot").agg(
        F.sum("sgn").alias("net"), F.count("*").alias("n")
    )
    weight = (
        h32(F.concat(F.lit(FH_WEIGHT_SALT), F.col("slot").cast("string")))
        / F.lit(4294967296.0)
    ) * 2 - 1
    terms = slots.select(
        "doc_id", "n", F.struct(F.col("slot"), (F.col("net") * weight).alias("term")).alias("st")
    )
    folded = (
        terms.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.aggregate(
                F.transform(F.array_sort(F.collect_list("st")), lambda s: s["term"]),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("dot") / F.col("n_tokens"), 6).alias("quality_score"),
        F.when(F.col("dot") > 0, 1).otherwise(0).alias("quality_pass"),
    )


q_hashed_linear_score.__doc__ = q_hashed_linear_score.__doc__.format(D=FH_DIMS)


# --- DSIR importance scoring (data selection) --------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (paper uses 10k; bounded
#                     here so the log-ratio table stays a tiny broadcast)
DSIR_SALT = "#dsir"
DSIR_TOPK = 50
DSIR_SCALE = 1_000_000  # micro-nats: per-feature log-ratios quantized to
#                         integers so per-doc sums are order-free exact


@query(
    "q_dsir_importance",
    # DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    # arXiv:2302.03169): score raw-pool documents by how target-like
    # their hashed n-gram distribution is, log p_target(f) - log p_raw(f)
    # summed over feature occurrences, and keep the top slice. The
    # target here is the corpus's English docs; production swaps in a
    # curated target set with the same plan. Deterministic top-k stands
    # in for the paper's Gumbel resampling (noise is not
    # cross-engine-reproducible); per-feature log-ratios quantize to
    # integer micro-nats BEFORE the per-doc sum so scores are
    # bit-identical across engines and partitionings.
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               COALESCE(lang, '') = 'en' AS is_tgt,
               COALESCE(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''), [])
                   AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, is_tgt,
               {_hex32_sql("g || '" + DSIR_SALT + "'")} % {DSIR_BUCKETS} AS f
        FROM (
            SELECT doc_id, is_tgt, UNNEST(t) AS g FROM base
            UNION ALL
            SELECT doc_id, is_tgt, t[i] || ' ' || t[i+1] AS g
            FROM base, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS s(i)
        ) g
    ),
    tgt AS (SELECT f, COUNT(*) AS ct FROM feats WHERE is_tgt GROUP BY f),
    raw AS (SELECT f, COUNT(*) AS cr FROM feats WHERE NOT is_tgt GROUP BY f),
    tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt,
                   (SELECT COALESCE(SUM(cr), 0) FROM raw) AS tr),
    ratio AS (
        SELECT r.f,
               CAST(ROUND({DSIR_SCALE}.0 * LN(
                   ((COALESCE(tg.ct, 0) + 1.0) * (tot.tr + {DSIR_BUCKETS}))
                   / ((r.cr + 1.0) * (tot.tt + {DSIR_BUCKETS}))
               )) AS BIGINT) AS t_micro
        FROM raw r LEFT JOIN tgt tg USING (f) CROSS JOIN tot
    ),
    docf AS (
        SELECT doc_id, f, COUNT(*) AS c FROM feats
        WHERE NOT is_tgt GROUP BY doc_id, f
    )
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT)              AS n_feats,
           CAST(SUM(d.c * r.t_micro) AS BIGINT)  AS dsir_micro_nats
    FROM docf d JOIN ratio r USING (f)
    GROUP BY d.doc_id
    ORDER BY dsir_micro_nats DESC, d.doc_id
    LIMIT {DSIR_TOPK}
    """,
    tags=("llm", "data-selection", "dsir", "X4"),
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): rank raw-pool
    documents by sum over hashed word uni+bigram occurrences of
    log p_target(f) - log p_raw(f) (Laplace-smoothed bag-of-hashed-
    ngrams), returning the {K} most target-like docs. Target = the
    corpus's English documents; raw pool = everything else (NULL lang
    included). Docs with no features (NULL/empty text) have no evidence
    and cannot be selected.

    Scale: features hash into {B} buckets at the map side, so both LM
    count tables and the log-ratio table are <= {B} rows — broadcast,
    never shuffled wide. The only corpus-sized shuffle keys are
    (doc_id, f) for per-doc feature counts and the final doc-keyed sum;
    the top-k plans as TakeOrderedAndProject. Per-feature log-ratios
    are quantized to integer micro-nats before summing, so the score is
    exact and partitioning-independent (the double log differs across
    engines only below the quantization step).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dsir_topk(
        d.select(
            "doc_id",
            (F.coalesce(F.col("lang"), F.lit("")) == "en").alias("is_tgt"),
            "text",
        )
    )


def dsir_topk(docs: DataFrame, k: int = DSIR_TOPK) -> DataFrame:
    """DSIR core over any (doc_id, is_tgt, text) frame: rows with
    ``is_tgt`` true define the target LM, the rest are the scored raw
    pool. Returns the ``k`` highest-scoring raw docs as
    ``(doc_id, n_feats, dsir_micro_nats)`` — see q_dsir_importance for
    semantics and scale notes."""

    def h32(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    base = docs.select(
        "doc_id",
        "is_tgt",
        F.coalesce(
            F.filter(F.split("text", " "), lambda x: x != ""), F.expr("array()")
        ).alias("t"),
    )
    unis = base.select("doc_id", "is_tgt", F.explode("t").alias("g"))
    bis = base.select(
        "doc_id",
        "is_tgt",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
                "i -> concat_ws(' ', slice(t, i, 2))) ELSE array() END"
            )
        ).alias("g"),
    )
    feats = unis.unionAll(bis).select(
        "doc_id",
        "is_tgt",
        (h32(F.concat("g", F.lit(DSIR_SALT))) % DSIR_BUCKETS).alias("f"),
    )
    tgt = feats.filter("is_tgt").groupBy("f").agg(F.count("*").alias("ct"))
    raw = feats.filter(~F.col("is_tgt")).groupBy("f").agg(F.count("*").alias("cr"))
    tot = (
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
        .crossJoin(raw.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr")))
    )
    ratio = (
        raw.join(tgt, "f", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.round(
                F.lit(float(DSIR_SCALE))
                * F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) * (F.col("tr") + DSIR_BUCKETS))
                    / ((F.col("cr") + 1.0) * (F.col("tt") + DSIR_BUCKETS))
                )
            )
            .cast("long")
            .alias("t_micro"),
        )
    )
    docf = (
        feats.filter(~F.col("is_tgt"))
        .groupBy("doc_id", "f")
        .agg(F.count("*").alias("c"))
    )
    scored = (
        docf.join(F.broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.col("t_micro")).cast("long").alias("dsir_micro_nats"),
        )
    )
    return scored.orderBy(F.desc("dsir_micro_nats"), "doc_id").limit(k)


q_dsir_importance.__doc__ = q_dsir_importance.__doc__.format(
    K=DSIR_TOPK, B=DSIR_BUCKETS
)


# --- UniMax language-budget allocation ---------------------------------------

UNIMAX_EPOCH_CAP = 2  # max epochs any language's corpus may repeat
UNIMAX_BUDGET = 50_000  # total training-token budget to allocate


@query(
    "q_unimax_allocation",
    # UniMax (Chung et al., ICLR 2023): allocate a total token budget as
    # UNIFORMLY as possible across languages, subject to a per-language
    # epoch cap — the fairer alternative to temperature sampling
    # (q_token_budget_allocation's mT5 rule) that never over-repeats
    # low-resource languages. Closed-form waterfilling over the
    # cap-ascending language order: the largest prefix m whose caps fit
    # under the budget with the remainder shared uniformly is exactly
    # the capped set; everyone else gets the integer-uniform share.
    oracle=f"""
    WITH tok AS (
        SELECT COALESCE(lang, 'und') AS lang,
               SUM(LEN(COALESCE(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            x -> x <> ''), []))) AS c
        FROM documents GROUP BY 1
    ),
    ord AS (
        SELECT lang, c, {UNIMAX_EPOCH_CAP} * c AS cap,
               ROW_NUMBER() OVER (ORDER BY {UNIMAX_EPOCH_CAP} * c, lang) AS i,
               COUNT(*) OVER () AS k,
               COALESCE(SUM({UNIMAX_EPOCH_CAP} * c) OVER (
                   ORDER BY {UNIMAX_EPOCH_CAP} * c, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        FROM tok
    ),
    flags AS (
        SELECT *, CASE WHEN cap * (k - i + 1) + pfx <= {UNIMAX_BUDGET}
                       THEN i ELSE 0 END AS ci
        FROM ord
    ),
    mm AS (SELECT *, MAX(ci) OVER () AS m FROM flags),
    pf AS (
        SELECT *, COALESCE(MAX(CASE WHEN i <= m THEN pfx + cap END)
                           OVER (), 0) AS pfxm
        FROM mm
    )
    SELECT lang,
           CAST(c AS BIGINT)   AS corpus_tokens,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN i <= m THEN cap
                     ELSE ({UNIMAX_BUDGET} - pfxm) // (k - m)
                END AS BIGINT) AS alloc_tokens,
           ROUND(COALESCE(CASE WHEN i <= m THEN cap
                               ELSE ({UNIMAX_BUDGET} - pfxm) // (k - m)
                          END / NULLIF(c, 0), 0.0), 4) AS epochs,
           (i <= m) AS capped
    FROM pf
    """,
    tags=("llm", "mixing", "unimax", "X4"),
)
def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): split a
    {B}-token training budget across languages as uniformly as possible
    with no language repeated beyond {E} epochs. Languages whose entire
    {E}-epoch corpus fits under the uniform waterline are capped at it;
    the rest share the remaining budget integer-uniformly. Reports
    per-language corpus/cap/allocated tokens, implied epochs, and the
    capped flag. All arithmetic is integer (token counts and div), so
    the allocation is exact and engine-independent.

    Scale: one corpus-wide aggregate to per-language token counts, then
    the waterfill runs on the LANGUAGE DIMENSION (~6 rows) — the global
    windows operate on that collapsed table, never on corpus rows
    (GLOBAL_WINDOW_BOUNDED entry; same class as q_mix_weights).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = (
        d.select(
            F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
            F.size(
                F.coalesce(
                    F.filter(F.split("text", " "), lambda x: x != ""),
                    F.expr("array()"),
                )
            ).alias("n"),
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("c"))
    )
    return unimax_waterfill(tok)


def unimax_waterfill(
    counts: DataFrame,
    budget: int = UNIMAX_BUDGET,
    epoch_cap: int = UNIMAX_EPOCH_CAP,
) -> DataFrame:
    """UniMax waterfill core over any (stratum, count) frame with
    columns ``(lang, c)`` — see q_unimax_allocation for semantics. The
    windows run on the collapsed stratum dimension, never on raw rows."""
    cap = (F.lit(epoch_cap) * F.col("c")).cast("long")
    w_ord = W.orderBy(cap, "lang")
    w_all = W.partitionBy()
    ord_ = counts.select(
        "lang",
        "c",
        cap.alias("cap"),
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_all).alias("k"),
        F.coalesce(
            F.sum(cap).over(w_ord.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("pfx"),
    )
    flags = ord_.withColumn(
        "ci",
        F.when(
            F.col("cap") * (F.col("k") - F.col("i") + 1) + F.col("pfx")
            <= budget,
            F.col("i"),
        ).otherwise(0),
    )
    mm = flags.withColumn("m", F.max("ci").over(w_all))
    pf = mm.withColumn(
        "pfxm",
        F.coalesce(
            F.max(
                F.when(F.col("i") <= F.col("m"), F.col("pfx") + F.col("cap"))
            ).over(w_all),
            F.lit(0),
        ),
    )
    alloc = F.when(F.col("i") <= F.col("m"), F.col("cap")).otherwise(
        F.expr(f"CAST(({budget} - pfxm) div (k - m) AS BIGINT)")
    )
    return pf.select(
        "lang",
        F.col("c").cast("long").alias("corpus_tokens"),
        F.col("cap").cast("long").alias("cap_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        F.round(
            F.coalesce(F.try_divide(alloc, F.nullif(F.col("c"), F.lit(0))), F.lit(0.0)),
            4,
        ).alias("epochs"),
        (F.col("i") <= F.col("m")).alias("capped"),
    )


q_unimax_allocation.__doc__ = q_unimax_allocation.__doc__.format(
    B=UNIMAX_BUDGET, E=UNIMAX_EPOCH_CAP
)
