"""The flagship LLM-training-data preparation flow as ONE oracle-checked
query — the composition the BASELINE.json north star describes, built
from pieces that are each individually verified:

  documents
    -> exact dedup        (md5 fingerprint, keep min doc_id)
    -> near-dup pruning   (greedy: drop the higher-id member of every
                           n-gram-Jaccard near-dup pair)
    -> quality gate       (token count in [10, 1000], punct ratio < 0.2)
    -> token accounting   (BPE-ish regex tokens)
    -> deterministic 50% sample (md5 nibble)
    -> per-language corpus stats

Scale: dedup shuffles on the fingerprint, near-dup pruning is an
anti-join against the near-dup pair list — COST-BASED source selection
(see _neardup_pairs): the exact n-gram-Jaccard join below a measured
compressed-bytes crossover (it is faster there), q_dedup_minhash_lsh's
sub-quadratic candidate+verify pairs above it (the form that completes
the sf100 soak); identical output at recall 1.0, oracle-verified on
both branches. Everything else is narrow — the standard shape of
a 100 TB corpus build.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_pipeline_spark.catalog import load_tables, scan_bytes, scan_parallel
from etl_pipeline_spark.queries.base import REGISTRY, query
from etl_pipeline_spark.queries.dedup import q_dedup_minhash_lsh, q_dedup_ngram_jaccard
from etl_pipeline_spark.queries.text import TOKEN_RE


# Compressed-bytes crossover for the near-dup pair source. Measured on
# the synthetic tiers (one JVM, 8 GB): the exact inverted-index join
# WINS below it (sf0.1: 2.7 s vs 4.4; sf1: 6.8 vs 14.3), reaches parity
# at sf10 (115 vs 111 s; 76 MB compressed), and OOMs at sf100 (979 MB;
# its shingle-agg stage is that tier's per-JVM memory floor) where LSH
# completes in 938 s. Text parquet decompresses ~100:1, so 256 MB
# compressed ~ 25 GB of shingles — past any single-task comfort zone.
NEARDUP_LSH_MIN_BYTES = 256 * 1024 * 1024


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair source for the prune step — COST-BASED (r7):
    below NEARDUP_LSH_MIN_BYTES of compressed documents the EXACT
    inverted-index n-gram-Jaccard join runs (faster there, and the
    composed oracle then verifies the pipeline end-to-end through the
    exact path); above it, q_dedup_minhash_lsh's candidate+verify
    pairs (the sub-quadratic form that completes the sf100 soak).
    The two emit IDENTICAL (doc_a, doc_b, jaccard) sets whenever LSH
    candidate recall is 1.0: the minhash query's own exact-SQL oracle
    pins that at every test SF, and THIS query's oracle (built from the
    exact-pairs SQL) is checked on both branches in the tests, so the
    selection can never change the answer — only the plan."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    nbytes = scan_bytes(docs)
    use_lsh = nbytes is None or nbytes >= NEARDUP_LSH_MIN_BYTES
    why = (
        f"scan_bytes={nbytes} vs crossover {NEARDUP_LSH_MIN_BYTES}"
        if nbytes is not None
        else "scan_bytes unavailable (defaulting to the scale-safe path)"
    )
    # Emit the selection so an output difference at production scale is
    # ATTRIBUTABLE: above the crossover the kept-document set depends on
    # LSH candidate recall (see the caveat in q_training_data_prep's
    # docstring), and without this line two runs of the same corpus
    # content could differ purely from file size/compression with
    # nothing in the logs explaining why.
    logging.getLogger(__name__).info(
        "q_training_data_prep near-dup pair source: %s (%s)",
        "banded-LSH" if use_lsh else "exact inverted-index",
        why,
    )
    if use_lsh:
        return q_dedup_minhash_lsh(spark, sf_dir)
    return q_dedup_ngram_jaccard(spark, sf_dir)


def _oracle() -> str:
    pairs_sql = REGISTRY["q_dedup_ngram_jaccard"].oracle
    return f"""
    WITH pairs AS ({pairs_sql}),
    fp AS (
        SELECT doc_id, lang, text,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    exact_kept AS (
        SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
            FROM fp
        ) WHERE rn = 1
    ),
    neardup_kept AS (
        SELECT e.* FROM exact_kept e
        WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = e.doc_id)
    ),
    scored AS (
        SELECT doc_id, lang,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))     AS n_tok,
               LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_RE}'))     AS bpe_tokens,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                   / GREATEST(LENGTH(text), 1)                 AS punct_ratio
        FROM neardup_kept
    ),
    final AS (
        SELECT * FROM scored
        WHERE n_tok BETWEEN 10 AND 1000 AND punct_ratio < 0.2
          AND SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN
              ('0','1','2','3','4','5','6','7')
    )
    SELECT lang,
           COUNT(*)                      AS n_docs,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(bpe_tokens), 2)     AS avg_tokens,
           ROUND(AVG(punct_ratio), 4)    AS avg_punct_ratio
    FROM final
    GROUP BY lang
    """


@query(
    "q_training_data_prep",
    oracle=_oracle(),
    tags=("pipeline", "X1", "X2", "X4", "flagship", "composition"),
)
def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build: exact dedup -> near-dup prune -> quality
    gate -> token accounting -> deterministic sample -> per-lang stats.

    Recall caveat (applies to THIS query's output, not just the helper):
    the near-dup prune source is cost-based (_neardup_pairs) — exact
    inverted-index pairs below a compressed-bytes crossover, banded-LSH
    pairs above it. The two sources provably agree only when LSH
    candidate recall is 1.0; near the 0.5 Jaccard threshold the banded
    scheme's per-pair miss probability can reach ~10%, so above the
    crossover the kept-document set may differ slightly from the exact
    path's on adversarial borderline pairs. The selection (and the
    measured scan bytes) is logged at INFO by _neardup_pairs so any
    such difference is attributable."""
    # scan_parallel: the fingerprint md5 + regexp normalization and the
    # downstream token/punct regexps all run in scan stages — serial on
    # a single-split test fixture otherwise.
    d = scan_parallel(
        load_tables(spark, sf_dir, ("documents",))["documents"], spark
    )
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
    punct_ratio = (
        F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0)).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    # r14 optimization round — shuffle scalars, not documents (guide
    # §2.3/§8): every post-dedup decision is a pure per-doc function of
    # text, so the fingerprint and the three quality metrics are
    # computed MAP-SIDE in the scan stage and `text` never crosses an
    # exchange — the dedup window's shuffle carries ~40 bytes/row
    # instead of the document body. The metrics are computed for
    # soon-to-be-dropped duplicates too; that map-side CPU is the price
    # of shrinking the corpus-sized exchange and is the right trade at
    # any dup rate worth deduping.
    per_doc = d.select(
        "doc_id",
        "lang",
        F.md5(norm).alias("fp"),
        n_tok.alias("n_tok"),
        bpe.alias("bpe_tokens"),
        punct_ratio.alias("punct_ratio"),
    )
    # r14 optimization round, second pass (guide §2.3 — aggregate before
    # you shuffle): keep-min-doc_id-per-fingerprint was a row_number
    # window (full sort + every row crossing the fp exchange); as
    # min(struct(doc_id, ...)) it is a hash aggregate with MAP-SIDE
    # partial combine — duplicates collapse before the exchange (the
    # whole point of dedup: the dup mass is exactly what no longer
    # moves) and the sort is gone. Identical keeper row: doc_id leads
    # the struct and is unique, so lexicographic struct-min == the
    # window's ORDER BY doc_id first row.
    exact_kept = (
        per_doc.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "lang", "n_tok", "bpe_tokens", "punct_ratio")
            ).alias("k")
        )
        .select("k.doc_id", "k.lang", "k.n_tok", "k.bpe_tokens", "k.punct_ratio")
    )
    drop_ids = _neardup_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    neardup_kept = exact_kept.join(drop_ids, "doc_id", "left_anti")
    sampled = (
        neardup_kept
        .filter(F.col("n_tok").between(10, 1000) & (F.col("punct_ratio") < 0.2))
        .filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                *"01234567"
            )
        )
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe_tokens").alias("total_tokens"),
        F.round(F.avg("bpe_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
    )


LENGTH_BAND_LO = 0.1  # keep docs with percent_rank(n_chars) in [lo, hi] per lang
LENGTH_BAND_HI = 0.9


@query(
    "q_length_band_filter",
    oracle=f"""
    WITH pr AS (
        SELECT doc_id, lang, n_chars,
               PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pr >= {LENGTH_BAND_LO} AND pr <= {LENGTH_BAND_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN pr >= {LENGTH_BAND_LO} AND pr <= {LENGTH_BAND_HI}
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
           MIN(CASE WHEN pr >= {LENGTH_BAND_LO} AND pr <= {LENGTH_BAND_HI}
                    THEN n_chars END) AS min_kept_chars,
           MAX(CASE WHEN pr >= {LENGTH_BAND_LO} AND pr <= {LENGTH_BAND_HI}
                    THEN n_chars END) AS max_kept_chars
    FROM pr
    GROUP BY lang
    """,
    tags=("llm", "quality", "filter"),
)
def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length-band quality gate: within each language, keep
    documents whose character count falls in the [p10, p90] band and
    report the per-language retention. Absolute length cutoffs drift as a
    corpus mixes sources; rank-based bands are the self-calibrating form
    every crawl-cleaning recipe uses for truncation/concatenation
    outliers. PERCENT_RANK is (rank-1)/(n-1) — exact rational arithmetic
    with rank ties on equal lengths, so both engines agree exactly.

    Scale: one shuffle on lang for the rank window (stratum-bounded), one
    aggregation; at extreme per-lang cardinality the window becomes the
    two-pass form — aggregate exact rank boundaries per lang (tiny table),
    broadcast back, filter map-side. Same semantics, no giant sort.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    pr = F.percent_rank().over(W.partitionBy("lang").orderBy("n_chars"))
    in_band = (F.col("pr") >= LENGTH_BAND_LO) & (F.col("pr") <= LENGTH_BAND_HI)
    return (
        d.select("doc_id", "lang", "n_chars", pr.alias("pr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(in_band, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(in_band, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
            F.min(F.when(in_band, F.col("n_chars"))).alias("min_kept_chars"),
            F.max(F.when(in_band, F.col("n_chars"))).alias("max_kept_chars"),
        )
    )


SPLIT_TRAIN_NIBBLES = 13  # md5 first nibble of cluster_id < 13 -> train (~81%)


@query(
    "q_leakage_safe_split",
    oracle=f"""
    WITH comp AS (
        {{clusters}}
    ),
    assigned AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars,
               CASE WHEN (INSTR('0123456789abcdef',
                                SUBSTR(MD5(CAST(c.cluster_id AS VARCHAR)), 1, 1)) - 1)
                         < {SPLIT_TRAIN_NIBBLES}
                    THEN 'train' ELSE 'heldout' END AS split
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster_id) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split
    """,
    tags=("llm", "split", "leakage", "clustering", "iterative"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: documents are split by a hash of
    their near-dup CLUSTER id, not their own id — so two near-duplicate
    documents can never land on opposite sides of the split (the classic
    eval-contamination bug that doc-level hash splits have). ~13/16 of
    clusters train, the rest held out, deterministically.

    Scale: the cluster labels come from the iterative min-label
    propagation (one shuffle join per round, diameter-bounded); the split
    itself is a per-row hash plus a two-group aggregate — nothing new
    shuffles at 100 TB beyond what clustering already did.
    """
    from etl_pipeline_spark.operators.cluster import dedup_clusters

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    comp = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    nibble = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    split = F.when(nibble < SPLIT_TRAIN_NIBBLES, "train").otherwise("heldout")
    return (
        comp.join(d.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "cluster_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# clusters_oracle needs the jaccard pairs SQL; fill the placeholder at import
# time (REGISTRY entry for q_dedup_ngram_jaccard exists before this module
# registers, and clusters_oracle nests it as a recursive CTE).
def _fill_split_oracle() -> None:
    from etl_pipeline_spark.operators.cluster import clusters_oracle

    spec = REGISTRY["q_leakage_safe_split"]
    spec.oracle = spec.oracle.format(
        clusters=clusters_oracle(REGISTRY["q_dedup_ngram_jaccard"].oracle)
    )


_fill_split_oracle()
