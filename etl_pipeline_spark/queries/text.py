"""Text-analysis operators — SURVEY.md §2.12 X4 + BASELINE.json extensions.

Language-ID (marker-word heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (md5 of normalized text — md5 is bit-identical across
engines, so fingerprints oracle-check exactly). All pure Column exprs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import EMB_DOOR_SQL, embedding_door, load_tables
from etl_pipeline_spark.functions.shingles import bigrams, doc_terms
from etl_pipeline_spark.operators.ranking import global_row_number
from etl_pipeline_spark.queries.base import query

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbol
# (the shape GPT-2-style pre-tokenization produces, minus byte fallback).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny marker-word lists per language for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": r"\b(the|a|and|of|to)\b",
    "es": r"\b(el|la|de|que|y)\b",
    "fr": r"\b(le|la|les|de|et)\b",
    "de": r"\b(der|die|das|und|ist)\b",
}


@query(
    "q_text_stats_by_lang",
    oracle="""
    SELECT lang,
           COUNT(*)                                              AS n_docs,
           ROUND(AVG(n_chars), 2)                                AS avg_chars,
           ROUND(AVG(LEN(STRING_SPLIT(text, ' '))), 2)           AS avg_tokens,
           MAX(LENGTH(text))                                     AS max_len,
           COUNT(DISTINCT source)                                AS n_sources
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "X4"),
)
def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, length and token-count
    averages, source diversity."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
        F.max(F.length("text")).alias("max_len"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_text_token_counts",
    oracle=f"""
    SELECT doc_id,
           LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))            AS ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}'))            AS bpe_ish_tokens,
           LENGTH(text)                                           AS n_bytes_ascii
    FROM documents
    """,
    tags=("text", "X4", "tokenize"),
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenizer — the token-budget primitive of a training-data pipeline."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_bytes_ascii"),
    )


@query(
    "q_text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{LANG_MARKERS["en"]}')) AS en_hits,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{LANG_MARKERS["es"]}')) AS es_hits,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{LANG_MARKERS["fr"]}')) AS fr_hits,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{LANG_MARKERS["de"]}')) AS de_hits
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE
                 WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits
                      AND en_hits > 0 THEN 'en'
                 WHEN es_hits >= fr_hits AND es_hits >= de_hits AND es_hits > 0 THEN 'es'
                 WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                 WHEN de_hits > 0 THEN 'de'
                 ELSE 'unknown'
               END AS predicted_lang
        FROM scored
    )
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM pred
    GROUP BY lang, predicted_lang
    """,
    tags=("text", "X4", "langid"),
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: count stopword hits per language,
    argmax with a fixed priority order (en > es > fr > de) for ties, then
    cross-tab predicted vs labeled language."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    low = F.lower(F.col("text"))
    hits = {
        k: F.size(F.regexp_extract_all(low, F.lit(pat))) for k, pat in LANG_MARKERS.items()
    }
    predicted = (
        F.when(
            (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["de"])
            & (hits["en"] > 0),
            "en",
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]) & (hits["es"] > 0), "es")
        .when((hits["fr"] >= hits["de"]) & (hits["fr"] > 0), "fr")
        .when(hits["de"] > 0, "de")
        .otherwise("unknown")
    )
    return (
        d.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_text_quality_score",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               LENGTH(text)                                                    AS n,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))                     AS n_tok,
               LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\\s]'))                AS n_punct,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|a|and|of|to)\\b')) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n, 1), 4)     AS punct_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_tok, 1), 4)  AS stopword_ratio,
           ROUND(CAST(n AS DOUBLE) / GREATEST(n_tok, 1), 4)       AS avg_token_len,
           (n_tok BETWEEN 10 AND 1000
            AND CAST(n_punct AS DOUBLE) / GREATEST(n, 1) < 0.2)   AS passes_quality
    FROM feat
    """,
    tags=("text", "X4", "quality"),
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality features (Gopher-rule style): punctuation
    density, stopword ratio, mean token length, and a pass/fail gate."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n = F.length("text")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
    n_stop = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\b(the|a|and|of|to)\b")))
    punct_ratio = n_punct.cast("double") / F.greatest(n, F.lit(1))
    return d.select(
        "doc_id",
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(n.cast("double") / F.greatest(n_tok, F.lit(1)), 4).alias("avg_token_len"),
        (n_tok.between(10, 1000) & (punct_ratio < 0.2)).alias("passes_quality"),
    )


# Gopher repetition thresholds (Rae et al. 2021, arXiv:2112.11446,
# Table A1): drop a document when the most frequent word 2-gram covers
# > 20% of its characters, or duplicate word 5-grams cover > 15%.
GOPHER_TOP2_MAX = 0.20
GOPHER_DUP5_MAX = 0.15


@query(
    "q_text_gopher_repetition",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               COALESCE(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''), [])
                   AS t
        FROM documents
    ),
    sized AS (
        SELECT doc_id, t, LEN(t) AS nw,
               COALESCE(LIST_SUM(LIST_TRANSFORM(t, x -> LEN(x))), 0) AS wc
        FROM base
    ),
    grams AS (
        SELECT doc_id, 2 AS n, t[i] || ' ' || t[i+1] AS g,
               LEN(t[i]) + LEN(t[i+1]) AS c
        FROM sized, UNNEST(GENERATE_SERIES(1, nw - 1)) AS s(i)
        UNION ALL
        SELECT doc_id, 5,
               t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4],
               LEN(t[i])+LEN(t[i+1])+LEN(t[i+2])+LEN(t[i+3])+LEN(t[i+4])
        FROM sized, UNNEST(GENERATE_SERIES(1, nw - 4)) AS s(i)
    ),
    counted AS (
        SELECT doc_id, n, g, COUNT(*) AS cnt, MIN(c) AS c
        FROM grams GROUP BY doc_id, n, g
    ),
    top2 AS (
        SELECT doc_id, cnt * c AS top2_chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, g DESC) AS rn
        FROM counted WHERE n = 2
    ),
    dup5 AS (
        SELECT doc_id, SUM(cnt * c) AS dup5_chars
        FROM counted WHERE n = 5 AND cnt >= 2 GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.nw AS BIGINT) AS n_words,
           ROUND(COALESCE(t.top2_chars / NULLIF(s.wc, 0), 0.0), 4)
               AS top2_char_frac,
           ROUND(COALESCE(d.dup5_chars / NULLIF(s.wc, 0), 0.0), 4)
               AS dup5_char_frac,
           (ROUND(COALESCE(t.top2_chars / NULLIF(s.wc, 0), 0.0), 4)
                <= {GOPHER_TOP2_MAX}
            AND ROUND(COALESCE(d.dup5_chars / NULLIF(s.wc, 0), 0.0), 4)
                <= {GOPHER_DUP5_MAX}) AS keep
    FROM sized s
    LEFT JOIN (SELECT doc_id, top2_chars FROM top2 WHERE rn = 1) t
           USING (doc_id)
    LEFT JOIN dup5 d USING (doc_id)
    """,
    tags=("text", "X4", "quality", "gopher"),
)
def q_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, Table A1): per document,
    the character fraction covered by the single most frequent word
    2-gram and by all duplicate word 5-grams, plus the keep decision at
    the paper's 0.20 / 0.15 thresholds. See :func:`gopher_repetition`
    for the semantics and the scale notes.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return gopher_repetition(d)


def gopher_repetition(
    d: DataFrame,
    top2_max: float = GOPHER_TOP2_MAX,
    dup5_max: float = GOPHER_DUP5_MAX,
) -> DataFrame:
    """Per-doc Gopher repetition report over any (doc_id, text) frame:
    ``(doc_id, n_words, top2_char_frac, dup5_char_frac, keep)``.

    Character accounting counts word characters over every occurrence
    (overlaps double-counted), the convention the open reimplementations
    (Dolma, RefinedWeb) use; ties for the top 2-gram break to the
    lexicographically largest gram so the report is deterministic across
    engines and partitionings.

    Scale (r14 optimization round — shuffle-free): every output column
    is a pure per-document function, so the former
    explode -> (doc_id, n, gram) aggregation -> doc-keyed rollup ->
    doc-keyed re-attach join (two corpus-sized exchanges plus a join)
    is replaced by a run-length pass over each document's SORTED gram
    array — the whole operator is now one map-side projection, zero
    exchanges, and the gram stream never leaves its scan task (guide
    §2.4: remove shuffles outright). Gram char counts come from the
    gram string itself (tokens are non-empty and joined by single
    spaces, so c = length(g) - (n-1)). Tie-break parity with the old
    groupBy form (max cnt, then lexicographically greatest gram): the
    array is sorted ascending and a closing run replaces the best on
    `run >= best_cnt`, so among equal counts the latest — greatest —
    gram wins, the same comparator as max(struct(cnt, g)). Docs shorter
    than the gram width have empty gram arrays and fall out as
    fractions of 0.0 (that also covers NULL/empty text, which
    adversarial corpora do contain).
    """
    base = (
        d.select(
            "doc_id",
            F.coalesce(
                F.filter(F.split("text", " "), lambda x: x != ""),
                F.expr("array()"),
            ).alias("t"),
        )
        .select(
            "doc_id",
            "t",
            F.size("t").alias("nw"),
            F.aggregate(
                "t", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ).alias("wc"),
        )
    )

    def sorted_grams(n: int) -> str:
        # CASE guard: sequence(1, k) with k <= 0 would DESCEND in Spark,
        # fabricating grams for sub-width docs; the typed-empty branch
        # keeps them gram-free.
        return (
            f"CASE WHEN nw >= {n} THEN array_sort(transform(sequence(1, nw - {n - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {n})))) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )

    # Most-frequent 2-gram's character coverage: one run-length fold.
    # State: current run (prev gram, length) + best closed run. The
    # empty-array fold closes a zero-length run into best_cnt = 0 and
    # the finisher then yields 0 chars — no NULL path.
    top2_chars = F.expr(
        f"""aggregate(
          {sorted_grams(2)},
          struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best_cnt,
                 CAST('' AS STRING) AS best_g),
          (a, x) -> IF(x = a.prev,
                       struct(a.prev AS prev, a.run + 1L AS run,
                              a.best_cnt AS best_cnt, a.best_g AS best_g),
                       struct(x AS prev, 1L AS run,
                              IF(a.run > 0L AND a.run >= a.best_cnt, a.run, a.best_cnt) AS best_cnt,
                              IF(a.run > 0L AND a.run >= a.best_cnt, a.prev, a.best_g) AS best_g)),
          a -> IF(a.run > 0L AND a.run >= a.best_cnt,
                  a.run * (length(a.prev) - 1L),
                  a.best_cnt * (length(a.best_g) - 1L))
        )"""
    )
    # Duplicate 5-grams' character coverage: same fold, summing
    # cnt * chars over every run of length >= 2.
    dup5_chars = F.expr(
        f"""aggregate(
          {sorted_grams(5)},
          struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS tot),
          (a, x) -> IF(x = a.prev,
                       struct(a.prev AS prev, a.run + 1L AS run, a.tot AS tot),
                       struct(x AS prev, 1L AS run,
                              a.tot + IF(a.run >= 2L, a.run * (length(a.prev) - 4L), 0L) AS tot)),
          a -> a.tot + IF(a.run >= 2L, a.run * (length(a.prev) - 4L), 0L)
        )"""
    )
    m = base.select(
        "doc_id", "nw", "wc",
        top2_chars.alias("top2_chars"),
        dup5_chars.alias("dup5_chars"),
    )
    top2f = F.round(
        F.coalesce(F.try_divide(F.col("top2_chars"), F.col("wc")), F.lit(0.0)), 4
    )
    dup5f = F.round(
        F.coalesce(F.try_divide(F.col("dup5_chars"), F.col("wc")), F.lit(0.0)), 4
    )
    return m.select(
        "doc_id",
        F.col("nw").cast("long").alias("n_words"),
        top2f.alias("top2_char_frac"),
        dup5f.alias("dup5_char_frac"),
        (
            (top2f <= F.lit(top2_max)) & (dup5f <= F.lit(dup5_max))
        ).alias("keep"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fingerprint,
           SUBSTR(MD5(text), 1, 8)                                  AS raw_prefix
    FROM documents
    """,
    tags=("text", "X4", "fingerprint"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized, lowercased
    text. md5 is bit-identical across engines, so this oracle-checks
    exactly — the anchor for exact dedup (X1)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("raw_prefix"),
    )


@query(
    "q_text_top_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) >= 2
    ),
    bigrams AS (
        SELECT lang,
               UNNEST(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(t) - 1),
                   i -> t[i] || ' ' || t[i+1]
               )) AS bigram
        FROM toks
    ),
    counted AS (
        SELECT lang, bigram, COUNT(*) AS n
        FROM bigrams GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, rnk FROM (
        SELECT lang, bigram, n,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n DESC, bigram ASC
               ) AS rnk
        FROM counted
    ) WHERE rnk <= 5
    """,
    tags=("text", "X4", "ngram"),
)
def q_text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency table: top-5 bigrams per language —
    explode -> count -> per-group top-k, the building block of n-gram LM
    stats and contamination checks.

    Scale: shuffle on (lang, bigram) with map-side partial counts; the
    top-k is a bounded window per language."""
    from pyspark.sql import Window as W

    from etl_pipeline_spark.functions.shingles import tokenized

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # tokenized() hoists the split (functions/shingles.py); bigrams here
    # are NOT distinct-per-doc (frequency counting), so the shingle
    # builder's array_distinct form does not apply.
    toks = F.col("toks")
    bigram_arr = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
    )
    counted = (
        tokenized(d, "lang", min_tokens=2)
        .select("lang", F.explode(bigram_arr).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "n", "rnk")
    )


@query(
    "q_text_edit_distance_pairs",
    # The prefixes are ASCII-FOLDED (each non-ASCII codepoint -> '?')
    # before the distance on BOTH sides: Spark's levenshtein counts
    # codepoints while DuckDB's counts BYTES, so unfolded non-ASCII
    # text diverges across engines (adversarial-fixture find, r8).
    # Folding makes bytes == codepoints; distinct non-ASCII codepoints
    # compare equal, a documented coarsening of this modality.
    oracle=r"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEVENSHTEIN(regexp_replace(LEFT(a.text, 80), '[^\x00-\x7f]', '?', 'g'),
                            regexp_replace(LEFT(b.text, 80), '[^\x00-\x7f]', '?', 'g'))
                AS BIGINT) AS prefix_edit_distance
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE ABS(a.n_chars - b.n_chars) <= 10
      AND LEVENSHTEIN(regexp_replace(LEFT(a.text, 80), '[^\x00-\x7f]', '?', 'g'),
                      regexp_replace(LEFT(b.text, 80), '[^\x00-\x7f]', '?', 'g')) <= 40
    """,
    tags=("text", "dedup", "X2", "fuzzy"),
)
def q_text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup via Levenshtein on ASCII-folded 80-char prefixes —
    the edit-distance modality of dedup, blocked by (lang, source,
    length proximity) so the quadratic distance computation only runs
    inside small candidate blocks (the classic blocking strategy at
    scale). Non-ASCII codepoints fold to '?' so the distance is
    engine-portable (byte-based vs codepoint-based levenshtein
    implementations agree on ASCII)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    a = d.alias("a")
    b = d.alias("b")

    def _folded(col):
        return F.regexp_replace(
            F.substring(col, 1, 80), r"[^\x00-\x7F]", "?"
        )

    dist = F.levenshtein(_folded(F.col("a.text")), _folded(F.col("b.text")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10)
        .filter(dist <= 40)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("prefix_edit_distance"),
        )
    )


TFIDF_TOPK_TERMS = 3  # terms reported per document
TFIDF_NN_K = 3  # neighbors reported per query document
TFIDF_QUERY_MOD = 20  # doc_id % 20 == 0 -> query document

_TERMS_SQL = """
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (
            SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS term
            FROM documents
        ) t
        GROUP BY doc_id, term
"""


def _tfidf_weights(docs: DataFrame) -> DataFrame:
    """``(doc_id, term, wt, nrm)``: each term's tf * ln(N/df) weight, with
    the document's L2 norm sqrt(sum(wt^2)) attached as a window over
    doc_id — the sparse vectors the cosine retrieval queries score."""
    terms = doc_terms(docs)
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    wt = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    return (
        terms.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", wt.alias("wt"))
        .withColumn(
            "nrm", F.sqrt(F.sum(F.col("wt") * F.col("wt")).over(W.partitionBy("doc_id")))
        )
    )


@query(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH terms AS ({_TERMS_SQL}),
    df AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT t.doc_id, t.term, t.tf, df.df,
               ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
        FROM terms t JOIN df ON t.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rank
        FROM w
    ) r
    WHERE rank <= {TFIDF_TOPK_TERMS}
    """,
    tags=("text", "X4", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: each document's top-3 terms by
    tf * ln(N/df) — the classic salience weighting that a corpus build
    uses for topic tagging, index keys, and near-dup blocking keys.
    Ranking is on the ROUNDED weight with the term as tie-break, so the
    reported sets match across engines despite float idf.

    Scale: two uniform-key shuffles (per-(doc,term) counts, per-term
    document frequencies) and a per-doc top-k window with the partial
    WindowGroupLimit below the exchange; the df table is vocabulary-sized
    and AQE picks its join strategy from runtime sizes.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = doc_terms(d)
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    w = (
        terms.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TFIDF_TOPK_TERMS)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@query(
    "q_tfidf_nearest_docs",
    oracle=f"""
    WITH terms AS ({_TERMS_SQL}),
    df AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT t.doc_id, t.term,
               t.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) AS wt
        FROM terms t JOIN df ON t.term = df.term CROSS JOIN n
    ),
    norms AS (SELECT doc_id, SQRT(SUM(wt * wt)) AS nrm FROM w GROUP BY doc_id),
    meta AS (SELECT doc_id, source FROM documents),
    dots AS (
        SELECT qa.doc_id AS q_doc, wb.doc_id AS nn_doc,
               COUNT(*) AS n_shared_terms,
               SUM(qa.wt * wb.wt) AS dot
        FROM w qa
        JOIN meta ma ON qa.doc_id = ma.doc_id
        JOIN w wb ON qa.term = wb.term AND qa.doc_id <> wb.doc_id
        JOIN meta mb ON wb.doc_id = mb.doc_id AND ma.source = mb.source
        WHERE qa.doc_id % {TFIDF_QUERY_MOD} = 0
        GROUP BY qa.doc_id, wb.doc_id
    ),
    scored AS (
        SELECT d.q_doc, d.nn_doc, d.n_shared_terms,
               ROUND(d.dot / (na.nrm * nb.nrm), 4) AS cos_sim
        FROM dots d
        JOIN norms na ON d.q_doc = na.doc_id
        JOIN norms nb ON d.nn_doc = nb.doc_id
    )
    SELECT q_doc, nn_doc, n_shared_terms, cos_sim, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_doc ORDER BY cos_sim DESC, nn_doc
        ) AS rank
        FROM scored
    ) r
    WHERE rank <= {TFIDF_NN_K}
    """,
    tags=("text", "X4", "tfidf", "similarity", "sparse"),
)
def q_tfidf_nearest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse nearest-neighbor search — the TF-IDF complement of the dense
    embedding kNN: for each query document (doc_id % 20 == 0) the top-3
    most cosine-similar documents from the same source, scored over the
    sparse tf-idf vectors with an inverted-index join (dot product =
    sum over shared terms of the weight products). This is the lexical
    retrieval path (BM25's simpler cousin) used for dedup candidate
    blocking and for building retrieval training pairs.

    Scale: the dot-product join is keyed on (term, source) — the source
    blocking bounds posting lists the way the label blocking bounds the
    embedding variant; high-df terms inside a block are the skew risk and
    the stop-shingle DF cap from the capped-Jaccard operator applies
    unchanged. Each weight row carries its document's norm (a window
    over doc_id), so scoring needs no norm table joins; df is a
    vocabulary-sized table whose join AQE plans from runtime sizes.
    The query-side filter prunes the probe stream at the scan.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = _tfidf_weights(d).join(d.select("doc_id", "source"), "doc_id")
    qa = w.filter(F.col("doc_id") % TFIDF_QUERY_MOD == 0).select(
        F.col("doc_id").alias("q_doc"), "term", "source",
        F.col("wt").alias("qwt"), F.col("nrm").alias("qn"),
    )
    wb = w.select(
        F.col("doc_id").alias("nn_doc"), "term", "source",
        F.col("wt").alias("nwt"), F.col("nrm").alias("nn"),
    )
    scored = (
        qa.join(wb, ["term", "source"])
        .filter(F.col("q_doc") != F.col("nn_doc"))
        .groupBy("q_doc", "nn_doc")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("qwt") * F.col("nwt")).alias("dot"),
            # a doc's norm is the same on all its rows: max() carries it
            F.max("qn").alias("qn"),
            F.max("nn").alias("nn"),
        )
        .select(
            "q_doc",
            "nn_doc",
            "n_shared_terms",
            # try_divide: a zero-norm doc (all terms at idf 0) -> NULL
            # like DuckDB's double 0/0, not an ANSI job kill
            F.round(
                F.try_divide(F.col("dot"), F.col("qn") * F.col("nn")), 4
            ).alias("cos_sim"),
        )
    )
    win = W.partitionBy("q_doc").orderBy(F.desc("cos_sim"), F.asc("nn_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TFIDF_NN_K)
        .select("q_doc", "nn_doc", "n_shared_terms", "cos_sim", "rank")
    )


@query(
    "q_text_zipf_fit",
    oracle="""
    WITH tf AS (
        SELECT term, COUNT(*) AS freq
        FROM (
            SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS term
            FROM documents
        ) t
        GROUP BY term
    ),
    ranked AS (
        SELECT term, freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
        FROM tf
    )
    SELECT COUNT(*) AS vocab_size,
           CAST(SUM(freq) AS BIGINT) AS total_tokens,
           ROUND(-REGR_SLOPE(LN(CAST(freq AS DOUBLE)), LN(CAST(rank AS DOUBLE))), 4)
               AS zipf_alpha,
           ROUND(REGR_R2(LN(CAST(freq AS DOUBLE)), LN(CAST(rank AS DOUBLE))), 4)
               AS fit_r2,
           CAST(MAX(CASE WHEN rank = 1 THEN freq END) AS BIGINT) AS top_term_freq
    FROM ranked
    """,
    tags=("text", "X4", "corpus-health", "zipf"),
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health fingerprint: regress
    ln(frequency) on ln(rank) over the whole vocabulary and report the
    slope magnitude (natural language sits near alpha≈1; synthetic or
    template-heavy corpora flatten, boilerplate-dominated ones steepen)
    plus the fit R². A pre-training build tracks this per snapshot to
    catch vocabulary collapse after aggressive filtering. Deterministic
    ranking via the (freq DESC, term) tie-break.

    Scale: one term-count shuffle (vocabulary-keyed, map-side combined),
    a vocabulary-sized global rank (tiny relative to the corpus), and a
    single regression aggregate. The corpus itself is touched once.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    tf = (
        d.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    ranked = tf.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), F.asc("term")))
    )
    lnf = F.log(F.col("freq").cast("double"))
    lnr = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.sum("freq").alias("total_tokens"),
        F.round(-F.regr_slope(lnf, lnr), 4).alias("zipf_alpha"),
        F.round(F.regr_r2(lnf, lnr), 4).alias("fit_r2"),
        F.max(F.when(F.col("rank") == 1, F.col("freq"))).alias("top_term_freq"),
    )


PMI_MIN_COUNT = 5  # bigram support floor (PMI is unstable below)
PMI_TOPK = 20


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS g(i)
        WHERE LEN(toks) >= 2
    ),
    n AS (SELECT COUNT(*) AS n FROM bg),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    c2 AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
    scored AS (
        SELECT p.w1, p.w2, p.c12,
               ROUND(LN(CAST(p.c12 AS DOUBLE) * n.n
                        / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 4) AS pmi
        FROM c12 p
        JOIN c1 ON p.w1 = c1.w1
        JOIN c2 ON p.w2 = c2.w2
        CROSS JOIN n
        WHERE p.c12 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c12, pmi, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rank
        FROM scored
    ) r
    WHERE rank <= {PMI_TOPK}
    """,
    tags=("text", "X4", "collocations", "pmi"),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the top adjacent
    word pairs by PMI = ln(P(w1,w2) / (P(w1)P(w2))) with a support floor —
    the association measure that finds multi-word expressions ("new york")
    that raw frequency (q_text_top_bigrams) and tf-idf both miss, used for
    tokenizer merge seeding and phrase-aware dedup keys. Ranked on the
    ROUNDED score with lexical tie-breaks.

    Scale: the bigram stream is aggregated once, into the pair counts
    (map-side combined, keyed on the bigram). The marginals c(w1), c(w2)
    are window sums over that distinct-pair table (keyed on w1, then
    w2) and the total n is a 1-row broadcast of its sum, which reuses
    the pair-count exchange — the corpus is exploded once. The global
    top-k compiles to TakeOrderedAndProject — no sort of the full pair
    table.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    c12 = bigrams(d).groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    n = c12.agg(F.sum("c12").alias("n"))
    c1 = F.sum("c12").over(W.partitionBy("w1"))
    c2 = F.sum("c12").over(W.partitionBy("w2"))
    pmi = F.round(
        F.log(F.col("c12").cast("double") * F.col("n") / (c1.cast("double") * c2)), 4
    )
    scored = (
        c12.crossJoin(F.broadcast(n))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(W.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")))
        )
        .filter(F.col("rank") <= PMI_TOPK)
        .select("w1", "w2", "c12", "pmi", "rank")
    )


# --- BPE merge-candidate mining ----------------------------------------------

BPE_TOPK = 10


@query(
    "q_bpe_merge_candidates",
    # The BPE training inner loop: corpus-weighted adjacent-symbol pair
    # counts over the word-frequency table. Symbols here are characters
    # (iteration 0); subsequent iterations would re-run the same count
    # over partially-merged symbol sequences.
    oracle=f"""
    WITH words AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
        ) GROUP BY word
    ),
    pairs AS (
        SELECT SUBSTR(word, i, 1) AS sym1, SUBSTR(word, i + 1, 1) AS sym2, freq
        FROM words, UNNEST(GENERATE_SERIES(1, LEN(word) - 1)) t(i)
        WHERE LEN(word) >= 2
    ),
    counted AS (
        SELECT sym1, sym2, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM pairs GROUP BY sym1, sym2
    )
    SELECT sym1, sym2, pair_count FROM counted
    ORDER BY pair_count DESC, sym1 ASC, sym2 ASC
    LIMIT {BPE_TOPK}
    """,
    tags=("text", "tokenizer", "bpe", "X4"),
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BPE merge candidates: corpus-frequency-weighted counts of
    adjacent symbol pairs over the word-frequency table — the argmax of
    this table IS the next BPE merge rule, and iterating
    count-merge-recount is exactly how a tokenizer vocabulary is trained.
    This query is the distributed-heavy step of that loop (the merge
    application itself touches only the words containing the chosen
    pair).

    Scale: pair counting runs over the WORD-FREQUENCY table, not the
    corpus — the classic BPE optimization — so cost is vocabulary-sized
    after one corpus tokenization pass; the (sym1, sym2) aggregate key
    is alphabet^2-bounded. The top-k is a TakeOrderedAndProject, never
    a full sort.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> struct(substr(word, i, 1) AS sym1, substr(word, i + 1, 1) AS sym2))"
            )
        ).alias("p"),
    ).select(F.col("p.sym1").alias("sym1"), F.col("p.sym2").alias("sym2"), "freq")
    return (
        pairs.groupBy("sym1", "sym2")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("sym1").asc(), F.col("sym2").asc())
        .limit(BPE_TOPK)
    )


# --- BM25 term weighting ------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 3


@query(
    "q_bm25_top_terms",
    # Lucene-form BM25: idf = ln(1 + (N - df + 0.5)/(df + 0.5)); tf
    # saturation with length normalization against the average doc
    # length. avgdl is an exact integer ratio (sum/count), so every
    # input to the float math is engine-identical; ranking is on the
    # ROUNDED weight with term tie-break, as in q_tfidf_top_terms.
    oracle=f"""
    WITH terms AS ({_TERMS_SQL}),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM terms GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
    w AS (
        SELECT t.doc_id, t.term, t.tf, df.df,
               ROUND(
                 LN(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) *
                 (t.tf * ({BM25_K1} + 1)) /
                 (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl /
                      (CAST(s.total_len AS DOUBLE) / s.n_docs))),
                 4) AS bm25
        FROM terms t
        JOIN df ON t.term = df.term
        JOIN dl ON t.doc_id = dl.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, term, tf, df, bm25, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY bm25 DESC, term
        ) AS rank FROM w
    ) r
    WHERE rank <= {BM25_TOPK}
    """,
    tags=("text", "X4", "bm25", "retrieval"),
)
def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword extraction — the production retrieval weighting
    (tf saturation via k1, document-length normalization via b) next to
    the plain tf-idf surface: each doc's top-{K} terms by Lucene-form
    BM25. Swapping the scorer under q_tfidf_nearest_docs' inverted-index
    join turns it into full BM25 document retrieval; the weighting layer
    is what this query pins down.

    Scale: the plan shape of q_tfidf_top_terms — two uniform-key
    shuffles, a vocabulary-sized df join that AQE plans from runtime
    sizes, a 1-row broadcast of the corpus stats, per-doc
    WindowGroupLimit top-k. The doc length is a window sum over doc_id,
    so it shares the ranking window's exchange instead of joining a
    doc-sized table; the corpus stats are one more 1-row aggregate.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = doc_terms(d)
    stats = terms.agg(
        F.countDistinct("doc_id").alias("n_docs"), F.sum("tf").alias("total_len")
    )
    dfreq = terms.groupBy("term").agg(F.count("*").alias("df"))
    dl = F.sum("tf").over(W.partitionBy("doc_id"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = idf * (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
    )
    w = (
        terms.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", "tf", "df", F.round(score, 4).alias("bm25"))
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("doc_id", "term", "tf", "df", "bm25", "rank")
    )


q_bm25_top_terms.__doc__ = q_bm25_top_terms.__doc__.format(K=BM25_TOPK)


# --- Corpus concentration (Gini) ----------------------------------------------


@query(
    "q_corpus_gini",
    # Gini over per-document character contributions, computed from the
    # exact rank-sum identity G = (2*sum(i*x_i))/(n*sum(x)) - (n+1)/n
    # with x ascending — all integer arithmetic until the final division.
    oracle="""
    WITH ranked AS (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS i
        FROM documents
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS total,
               CAST(SUM(i * n_chars) AS BIGINT) AS weighted
        FROM ranked
    ),
    topdecile AS (
        SELECT CAST(SUM(n_chars) AS BIGINT) AS top_chars
        FROM ranked, s WHERE i > n - CAST(FLOOR(n / 10) AS BIGINT)
    )
    SELECT s.n AS n_docs,
           s.total AS total_chars,
           ROUND(2.0 * s.weighted / (s.n * s.total) - (s.n + 1.0) / s.n, 6) AS gini,
           ROUND(CAST(t.top_chars AS DOUBLE) / s.total, 6) AS top_decile_share
    FROM s, topdecile t
    """,
    tags=("text", "X4", "governance", "concentration"),
)
def q_corpus_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration audit: the Gini coefficient of per-document
    character mass plus the top-decile share — the inequality metrics a
    data-governance review reads before deciding whether a few giant
    documents dominate training (the doc-level twin of the source-mix
    and domain-cap queries).

    Scale: one global ascending rank, range-partitioned with per-partition
    counts and a broadcast prefix offset (operators/ranking.py), then a
    3-term integer aggregate. The rank-sum identity avoids materializing
    a Lorenz curve.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    ranked = global_row_number(
        d.select("n_chars", "doc_id"), [F.asc("n_chars"), F.asc("doc_id")], "i"
    ).select("n_chars", "i")
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total"),
        F.sum(F.col("i") * F.col("n_chars")).alias("weighted"),
    )
    top = (
        ranked.crossJoin(F.broadcast(s.select("n")))
        .filter(F.col("i") > F.col("n") - F.floor(F.col("n") / 10))
        .agg(F.sum("n_chars").alias("top_chars"))
    )
    return (
        s.crossJoin(top)
        .select(
            F.col("n").alias("n_docs"),
            F.col("total").alias("total_chars"),
            F.round(
                2.0 * F.col("weighted") / (F.col("n") * F.col("total"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
            F.round(F.col("top_chars").cast("double") / F.col("total"), 6).alias(
                "top_decile_share"
            ),
        )
    )


# --- Hybrid retrieval: reciprocal-rank fusion --------------------------------

RRF_K = 60  # standard RRF damping constant
RRF_LIST = 10  # depth of each retrieved list
RRF_TOPK = 5  # fused results per query
RRF_QUERY_MOD = 50  # doc_id % MOD == 0 -> query document
RRF_QUERY_CAP = 5000  # ...and doc_id < CAP: the query workload is a fixed
# budget, so retrieval cost stays linear in the corpus (an uncapped query
# set growing with the corpus made the dense brute-force side quadratic —
# 11.9x per 10x in the sf1 soak); at scale the dense list additionally
# comes from the ANN tier (IVF/LSH), not the exact crossJoin


@query(
    "q_hybrid_rrf_search",
    # Both lists rank on ROUNDED scores with id tie-breaks (the repo
    # convention that makes rank sets engine-identical despite float
    # scores); the fusion itself is then exact integer-rank arithmetic:
    # rrf = sum over lists of 1/(K + rank).
    oracle=f"""
    WITH terms AS ({_TERMS_SQL}),
    df AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT t.doc_id, t.term,
               t.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) AS wt
        FROM terms t JOIN df ON t.term = df.term CROSS JOIN n
    ),
    norms AS (SELECT doc_id, SQRT(SUM(wt * wt)) AS nrm FROM w GROUP BY doc_id),
    lex AS (
        SELECT q_doc, nn_doc, rank_lex FROM (
            SELECT qa.doc_id AS q_doc, wb.doc_id AS nn_doc,
                   ROW_NUMBER() OVER (
                       PARTITION BY qa.doc_id
                       ORDER BY ROUND(SUM(qa.wt * wb.wt) /
                                      (ANY_VALUE(na.nrm) * ANY_VALUE(nb.nrm)), 4) DESC,
                                wb.doc_id
                   ) AS rank_lex
            FROM w qa
            JOIN w wb ON qa.term = wb.term AND qa.doc_id <> wb.doc_id
            JOIN norms na ON qa.doc_id = na.doc_id
            JOIN norms nb ON wb.doc_id = nb.doc_id
            WHERE qa.doc_id % {RRF_QUERY_MOD} = 0 AND qa.doc_id < {RRF_QUERY_CAP}
            GROUP BY qa.doc_id, wb.doc_id
        ) WHERE rank_lex <= {RRF_LIST}
    ),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE {EMB_DOOR_SQL}),
    vec AS (
        SELECT q_doc, nn_doc, rank_vec FROM (
            SELECT a.vec_id AS q_doc, b.vec_id AS nn_doc,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_dot_product(a.v, b.v) /
                                      (SQRT(list_dot_product(a.v, a.v)) *
                                       SQRT(list_dot_product(b.v, b.v))), 6) DESC,
                                b.vec_id
                   ) AS rank_vec
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % {RRF_QUERY_MOD} = 0 AND a.vec_id < {RRF_QUERY_CAP}
        ) WHERE rank_vec <= {RRF_LIST}
    ),
    fused AS (
        SELECT COALESCE(l.q_doc, v.q_doc) AS q_doc,
               COALESCE(l.nn_doc, v.nn_doc) AS nn_doc,
               l.rank_lex, v.rank_vec,
               COALESCE(1.0 / ({RRF_K} + l.rank_lex), 0) +
               COALESCE(1.0 / ({RRF_K} + v.rank_vec), 0) AS rrf
        FROM lex l FULL OUTER JOIN vec v
          ON l.q_doc = v.q_doc AND l.nn_doc = v.nn_doc
    )
    SELECT q_doc, nn_doc,
           CAST(COALESCE(rank_lex, 0) AS BIGINT) AS rank_lex,
           CAST(COALESCE(rank_vec, 0) AS BIGINT) AS rank_vec,
           ROUND(rrf, 6) AS rrf_score, fused_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_doc ORDER BY rrf DESC, nn_doc
        ) AS fused_rank
        FROM fused
    ) WHERE fused_rank <= {RRF_TOPK}
    """,
    tags=("text", "X3", "X4", "retrieval", "hybrid", "rrf"),
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search by reciprocal-rank fusion: for each query document,
    the lexical top-{L} (tf-idf cosine over the inverted index) and the
    dense top-{L} (embedding cosine) fuse as rrf = sum 1/({K} + rank),
    and the fused top-{T} come back with both source ranks — the
    standard way modern retrieval stacks combine BM25-family and vector
    scores without tuning score scales against each other. Rank 0 in
    the output means "not in that list's top-{L}".

    Scale: each list is an existing scale-path (blocked/DF-capped
    inverted index; LSH/IVF for the dense side); fusion itself joins
    two (queries x {L})-sized lists — negligible at any corpus size.
    Integer-rank arithmetic makes the fusion exactly reproducible.
    """
    d = load_tables(spark, sf_dir, ("documents", "embeddings"))
    w = _tfidf_weights(d["documents"])
    qa = w.filter(
        (F.col("doc_id") % RRF_QUERY_MOD == 0) & (F.col("doc_id") < RRF_QUERY_CAP)
    ).select(
        F.col("doc_id").alias("q_doc"), "term", F.col("wt").alias("qwt"), F.col("nrm").alias("qn")
    )
    # corpus on the streaming side, CAPPED query set explicitly broadcast
    # (AQE otherwise builds whichever side finished small — at sf0.1 that
    # was the whole corpus's weight frame, 1.2 s slower per run)
    nn = w.select(F.col("doc_id").alias("nn_doc"), "term", "wt", F.col("nrm").alias("nn"))
    lex_scored = (
        nn.join(F.broadcast(qa), "term")
        .filter(F.col("q_doc") != F.col("nn_doc"))
        .groupBy("q_doc", "nn_doc")
        .agg(
            F.sum(F.col("qwt") * F.col("wt")).alias("dot"),
            # a doc's norm is the same on all its rows: max() carries it
            F.max("qn").alias("qn"),
            F.max("nn").alias("nn"),
        )
        .select(
            "q_doc",
            "nn_doc",
            F.round(F.try_divide(F.col("dot"), F.col("qn") * F.col("nn")), 4).alias("s"),
        )
    )
    wl = W.partitionBy("q_doc").orderBy(F.desc("s"), F.asc("nn_doc"))
    lex = (
        lex_scored.withColumn("rank_lex", F.row_number().over(wl))
        .filter(F.col("rank_lex") <= RRF_LIST)
        .select("q_doc", "nn_doc", "rank_lex")
    )

    emb = embedding_door(d["embeddings"]).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )
    qv = emb.filter(
        (F.col("vec_id") % RRF_QUERY_MOD == 0) & (F.col("vec_id") < RRF_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("q_doc"), F.col("v").alias("qv")
    )
    # corpus on the streaming side, CAPPED query set explicitly broadcast
    # (the planner would otherwise pick whichever side estimates smaller —
    # at toy scale that was the corpus embeddings; r6 wide-broadcast audit)
    vec_scored = (
        emb.select(F.col("vec_id").alias("nn_doc"), F.col("v").alias("nv"))
        .crossJoin(F.broadcast(qv))
        .filter(F.col("q_doc") != F.col("nn_doc"))
        .select(
            "q_doc",
            "nn_doc",
            F.round(
                # try_divide: zero-norm vector -> NULL score (ranks
                # last, = DuckDB's double 0/0), not an ANSI job kill
                F.try_divide(
                    dot(F.col("qv"), F.col("nv")),
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("nv"), F.col("nv"))),
                ),
                6,
            ).alias("s"),
        )
    )
    vec = (
        vec_scored.withColumn("rank_vec", F.row_number().over(wl))
        .filter(F.col("rank_vec") <= RRF_LIST)
        .select("q_doc", "nn_doc", "rank_vec")
    )
    fused = lex.join(vec, ["q_doc", "nn_doc"], "full_outer").select(
        "q_doc",
        "nn_doc",
        "rank_lex",
        "rank_vec",
        (
            F.coalesce(1.0 / (RRF_K + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rank_vec")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = W.partitionBy("q_doc").orderBy(F.desc("rrf"), F.asc("nn_doc"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= RRF_TOPK)
        .select(
            "q_doc",
            "nn_doc",
            F.coalesce("rank_lex", F.lit(0)).cast("long").alias("rank_lex"),
            F.coalesce("rank_vec", F.lit(0)).cast("long").alias("rank_vec"),
            F.round("rrf", 6).alias("rrf_score"),
            "fused_rank",
        )
    )


q_hybrid_rrf_search.__doc__ = q_hybrid_rrf_search.__doc__.format(
    L=RRF_LIST, K=RRF_K, T=RRF_TOPK
)


# --- Document ingest contract validation (r8, ingest-gate trio) -------------

TEXT_MAX_CHARS = 100_000  # door bound for pathological single documents
# C0 control chars except \t \n \r, plus DEL — the bytes that break
# tokenizers, terminals, and JSONL re-serialization downstream.
_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


@query(
    "q_dq_text_contract",
    oracle=f"""
    WITH checks AS (
        SELECT doc_id,
               text IS NULL                                          AS is_null,
               text IS NOT NULL AND LENGTH(TRIM(text)) = 0           AS is_empty,
               text IS NOT NULL AND
                   REGEXP_MATCHES(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')
                                                                     AS has_control,
               text IS NOT NULL AND CONTAINS(text, CHR(65533))       AS has_replacement,
               text IS NOT NULL AND
                   COALESCE(n_chars, -1) <> LENGTH(text)             AS len_mismatch,
               text IS NOT NULL AND LENGTH(text) > {TEXT_MAX_CHARS}  AS oversize,
               lang IS NULL                                          AS null_lang
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT)                                        AS n_docs,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)        AS n_null_text,
           CAST(SUM(CASE WHEN is_empty THEN 1 ELSE 0 END) AS BIGINT)       AS n_empty,
           CAST(SUM(CASE WHEN has_control THEN 1 ELSE 0 END) AS BIGINT)    AS n_control,
           CAST(SUM(CASE WHEN has_replacement THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement,
           CAST(SUM(CASE WHEN len_mismatch THEN 1 ELSE 0 END) AS BIGINT)   AS n_len_mismatch,
           CAST(SUM(CASE WHEN oversize THEN 1 ELSE 0 END) AS BIGINT)       AS n_oversize,
           CAST(SUM(CASE WHEN null_lang THEN 1 ELSE 0 END) AS BIGINT)      AS n_null_lang,
           CAST(SUM(CASE WHEN NOT (is_null OR is_empty OR has_control
                                   OR has_replacement OR len_mismatch
                                   OR oversize OR null_lang)
                         THEN 1 ELSE 0 END) AS BIGINT)                     AS n_clean
    FROM checks
    """,
    tags=("text", "X4", "dq", "contract"),
)
def q_dq_text_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document ingest-contract report — the text half of the r8
    ingest-gate trio (with q_dq_embedding_contract and
    q_dq_pk_uniqueness): one row of corpus-level counts for the text
    defect classes that crash or silently corrupt downstream stages.
    NULL and whitespace-only text (every tokenizer's zero-gram case),
    C0 control bytes / DEL (break JSONL re-serialization and terminal
    tooling), U+FFFD replacement chars (upstream encoding damage),
    declared-vs-actual length drift (stale n_chars metadata), oversize
    documents past the {M}-char door bound, and NULL lang
    (breaks per-language routing). Validate at the door, once, instead
    of every consumer tolerating poison rows.

    Scale: one narrow map pass (text, n_chars, lang only — the scan
    prunes everything else) folding to a single row; no shuffle of
    document payloads, no UDFs.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = F.col("text")
    checks = d.select(
        t.isNull().alias("is_null"),
        (t.isNotNull() & (F.length(F.trim(t)) == 0)).alias("is_empty"),
        (t.isNotNull() & t.rlike(_CTRL_RE)).alias("has_control"),
        (t.isNotNull() & t.contains(F.lit("�"))).alias("has_replacement"),
        (
            t.isNotNull() & (F.coalesce(F.col("n_chars"), F.lit(-1)) != F.length(t))
        ).alias("len_mismatch"),
        (t.isNotNull() & (F.length(t) > TEXT_MAX_CHARS)).alias("oversize"),
        F.col("lang").isNull().alias("null_lang"),
    )
    flag = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return checks.agg(
        F.count("*").alias("n_docs"),
        flag("is_null").alias("n_null_text"),
        flag("is_empty").alias("n_empty"),
        flag("has_control").alias("n_control"),
        flag("has_replacement").alias("n_replacement"),
        flag("len_mismatch").alias("n_len_mismatch"),
        flag("oversize").alias("n_oversize"),
        flag("null_lang").alias("n_null_lang"),
        F.sum(
            F.when(
                ~(
                    F.col("is_null")
                    | F.col("is_empty")
                    | F.col("has_control")
                    | F.col("has_replacement")
                    | F.col("len_mismatch")
                    | F.col("oversize")
                    | F.col("null_lang")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_clean"),
    )


q_dq_text_contract.__doc__ = q_dq_text_contract.__doc__.format(M=TEXT_MAX_CHARS)


# Gopher quality rules (Rae et al. 2021, Table A1 — the non-repetition
# half; q_text_gopher_repetition carries the repetition half).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_WLEN, GOPHER_MAX_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL = 0.1
GOPHER_MAX_BULLET = 0.9
GOPHER_MAX_ELLIPSIS = 0.3
GOPHER_MIN_ALPHA = 0.8
GOPHER_MIN_STOP = 2


@query(
    "q_text_gopher_quality",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               COALESCE(text, '') AS tx,
               COALESCE(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''), [])
                   AS t,
               COALESCE(STRING_SPLIT(text, CHR(10)), []) AS lns
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               LEN(t) AS nw,
               COALESCE(LIST_SUM(LIST_TRANSFORM(t, x -> LEN(x))), 0) AS wc,
               LEN(tx) - LEN(REPLACE(tx, '#', ''))
                   + (LEN(tx) - LEN(REPLACE(tx, '...', ''))) // 3 AS n_sym,
               LEN(LIST_FILTER(lns, l -> REGEXP_MATCHES(TRIM(l), '^[-*•]')))
                   AS n_bullet,
               LEN(LIST_FILTER(lns, l -> TRIM(l) LIKE '%...')) AS n_ell,
               LEN(lns) AS n_lines,
               LEN(LIST_FILTER(t, x -> REGEXP_MATCHES(x, '[A-Za-z]'))) AS n_alpha,
               LEN(LIST_FILTER({list(GOPHER_STOPWORDS)!r},
                               s -> LIST_CONTAINS(t, s))) AS n_stop
        FROM base
    )
    SELECT doc_id,
           CAST(nw AS BIGINT)                                        AS n_words,
           ROUND(COALESCE(wc / NULLIF(nw, 0), 0.0), 4)               AS mean_word_len,
           ROUND(COALESCE(n_sym / NULLIF(nw, 0), 0.0), 4)            AS symbol_ratio,
           ROUND(COALESCE(n_bullet / NULLIF(n_lines, 0), 0.0), 4)    AS bullet_line_frac,
           ROUND(COALESCE(n_ell / NULLIF(n_lines, 0), 0.0), 4)       AS ellipsis_line_frac,
           ROUND(COALESCE(n_alpha / NULLIF(nw, 0), 0.0), 4)          AS alpha_word_frac,
           CAST(n_stop AS BIGINT)                                    AS n_stopwords_present,
           (nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND COALESCE(wc / NULLIF(nw, 0), 0.0) BETWEEN {GOPHER_MIN_WLEN} AND {GOPHER_MAX_WLEN}
            AND COALESCE(n_sym / NULLIF(nw, 0), 0.0) < {GOPHER_MAX_SYMBOL}
            AND COALESCE(n_bullet / NULLIF(n_lines, 0), 0.0) < {GOPHER_MAX_BULLET}
            AND COALESCE(n_ell / NULLIF(n_lines, 0), 0.0) < {GOPHER_MAX_ELLIPSIS}
            AND COALESCE(n_alpha / NULLIF(nw, 0), 0.0) >= {GOPHER_MIN_ALPHA}
            AND n_stop >= {GOPHER_MIN_STOP})                          AS keep
    FROM feat
    """,
    tags=("text", "X4", "quality", "gopher"),
)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, Table A1 — the
    non-repetition half, companion to q_text_gopher_repetition): per
    document, word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio ('#' chars + '...' occurrences) < 0.1, < 90%
    of lines bullet-led, < 30% ellipsis-terminated, >= 80% of words
    with an alphabetic character, and >= 2 of the paper's eight stop
    words present — plus the conjunctive keep decision. Ratios on
    empty/NULL docs report 0.0 (the word-count floor rejects them).

    Scale: entirely per-row column math over the hoisted token and line
    arrays — no shuffle, no UDFs; the scan prunes to (doc_id, text).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("tx"),
        F.coalesce(
            F.filter(F.split("text", " "), lambda x: x != ""), F.expr("array()")
        ).alias("t"),
        F.coalesce(F.split("text", "\n"), F.expr("array()")).alias("lns"),
    )
    feat = base.select(
        "doc_id",
        F.size("t").alias("nw"),
        F.aggregate(
            "t", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("wc"),
        (
            F.length("tx")
            - F.length(F.replace(F.col("tx"), F.lit("#")))
            + (
                F.length("tx") - F.length(F.replace(F.col("tx"), F.lit("...")))
            ).cast("long")
            / F.lit(3)
        )
        .cast("long")
        .alias("n_sym"),
        F.size(
            F.filter(F.col("lns"), lambda l: F.trim(l).rlike(r"^[-*•]"))
        ).alias("n_bullet"),
        F.size(F.filter(F.col("lns"), lambda l: F.trim(l).endswith("..."))).alias(
            "n_ell"
        ),
        F.size("lns").alias("n_lines"),
        F.size(F.filter(F.col("t"), lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(F.col("t"), s),
            )
        ).alias("n_stop"),
    )
    def ratio(num, den):
        return F.coalesce(F.try_divide(F.col(num), F.nullif(F.col(den), F.lit(0))), F.lit(0.0))

    mean_wlen = ratio("wc", "nw")
    sym = ratio("n_sym", "nw")
    bullet = ratio("n_bullet", "n_lines")
    ell = ratio("n_ell", "n_lines")
    alpha = ratio("n_alpha", "nw")
    return feat.select(
        "doc_id",
        F.col("nw").cast("long").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(bullet, 4).alias("bullet_line_frac"),
        F.round(ell, 4).alias("ellipsis_line_frac"),
        F.round(alpha, 4).alias("alpha_word_frac"),
        F.col("n_stop").cast("long").alias("n_stopwords_present"),
        (
            F.col("nw").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & mean_wlen.between(GOPHER_MIN_WLEN, GOPHER_MAX_WLEN)
            & (sym < GOPHER_MAX_SYMBOL)
            & (bullet < GOPHER_MAX_BULLET)
            & (ell < GOPHER_MAX_ELLIPSIS)
            & (alpha >= GOPHER_MIN_ALPHA)
            & (F.col("n_stop") >= GOPHER_MIN_STOP)
        ).alias("keep"),
    )


# --- Cross-source quality calibration ---------------------------------------

CALIB_SCALE = 1_000_000  # integer micro-units for the raw score
CALIB_KEEP = 0.5  # keep the top half of each source


@query(
    "q_quality_calibrated",
    # Absolute quality thresholds bias multi-source corpora: a cutoff
    # tuned on a clean source deletes most of a noisy-but-valuable one.
    # The standard fix is WITHIN-SOURCE calibration — rank each doc
    # against its own source and keep a fixed quantile per source. The
    # raw score here is the stopword-density proxy in exact integer
    # micro-units, so ranks (and therefore percent_rank ties) are
    # bit-identical across engines.
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, source,
               COALESCE(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                        x -> x <> '')), 0) AS n_tok,
               COALESCE(LEN(REGEXP_EXTRACT_ALL(LOWER(COALESCE(text, '')),
                   '\\b(the|a|and|of|to)\\b')), 0) AS n_stop
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               CASE WHEN n_tok = 0 THEN 0
                    ELSE ({CALIB_SCALE} * n_stop) // n_tok END AS score_micro
        FROM feat
    )
    SELECT doc_id, source,
           CAST(score_micro AS BIGINT) AS score_micro,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY score_micro), 4) AS source_pct,
           PERCENT_RANK() OVER (PARTITION BY source ORDER BY score_micro)
               >= {CALIB_KEEP} AS keep_calibrated
    FROM scored
    """,
    tags=("text", "X4", "quality", "calibration"),
)
def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source quality calibration: score every document (stopword
    density in exact integer micro-units), percent-rank it AGAINST ITS
    OWN SOURCE, and keep the top {P:.0%} of each source — the
    cross-source fairness alternative to one absolute threshold, which
    over-deletes noisy-but-valuable sources in multi-source corpora.
    Integer scores make rank ties (and so percent_rank) bit-identical
    across engines; NULL/empty docs score 0 and fall below the cut.

    Scale: one map pass for the score, one window partitioned by
    source — partitions are source-sized, so for very large single
    sources swap the exact percent_rank for the KLL-quantile cut
    (q_kll_quantile_merge) with the same keep semantics.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_tok = F.coalesce(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")), F.lit(0)
    )
    n_stop = F.coalesce(
        F.size(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit(r"\b(the|a|and|of|to)\b"),
            )
        ),
        F.lit(0),
    )
    feat = d.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tok"),
        n_stop.cast("long").alias("n_stop"),
    )
    scored = feat.select(
        "doc_id",
        "source",
        F.expr(
            f"CASE WHEN n_tok = 0 THEN 0L"
            f" ELSE (CAST({CALIB_SCALE} AS BIGINT) * n_stop) div n_tok END"
        ).alias("score_micro"),
    )
    w = W.partitionBy("source").orderBy("score_micro")
    pct = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        F.col("score_micro").cast("long").alias("score_micro"),
        F.round(pct, 4).alias("source_pct"),
        (pct >= CALIB_KEEP).alias("keep_calibrated"),
    )


q_quality_calibrated.__doc__ = q_quality_calibrated.__doc__.format(
    P=1 - CALIB_KEEP
)
