"""Deduplication operators — SURVEY.md §2.12 X1/X2 + BASELINE.json.

Exact dedup (hash-groupBy on a normalized fingerprint), n-gram Jaccard
near-dup (shingle inverted-index self-join — fully SQL-expressible, so
oracle-checked), MinHash-LSH (Spark ML, seeded) in candidate-generation +
exact-verify form so the exact-Jaccard SQL is its oracle too, and
embedding-cosine near-dup (blocked within-label top-k pairs). SimHash
lives in etl_pipeline_spark.operators.simhash and registers its own
query.

Scale notes: the shingle join is the classic inverted-index pattern — the
shuffle key is the shingle, so posting-list skew (stop-shingles) is the
risk at 100 TB; the standard mitigation implemented here is dropping
shingles whose document frequency exceeds a cap (they can only produce
pairs that other, rarer shingles also produce when similarity is high).

Materialization note: the posting self-join operators (n-gram Jaccard,
its capped variant and containment) read no checkpoint.
functions/shingles.py builds the posting stream (``postings``) and pairs
it (``overlap_pairs``): the self-join sides and the set-size aggregate
share one shingle exchange, so the explode runs once and an executor
loss recomputes everything from the scan. The MinHash family and the
prefix filter (its posting stream and its verify step) still
materialize intermediate frames with a lazy ``localCheckpoint(eager=
False)`` — query construction stays job-free and the first action fills
the blocks, which stay pinned until ``session.release_session_blocks``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
import os

from pyspark.storagelevel import StorageLevel


def wide_ckpt_level() -> StorageLevel:
    """Storage level for the WIDE (shingle) checkpoints. Its callers are
    the MinHash family's hashed-shingle docs and candidate-member docs
    (``minhash_docs_and_candidates``, ``q_dedup_minhash_lsh``'s verify)
    and the prefix filter's posting stream. Default: the
    engine-standard deserialized memory+disk — fastest when blocks fit
    (serializing cost a measured +7-49% wall-clock across the sf1
    heavies for zero benefit there).

    Set ``SPARK_GRAFT_WIDE_CKPT_SER=1`` for memory-constrained
    deployments: serialized memory+disk stores these tables at ~wire
    size instead of paying several-fold JVM object overhead per
    deserialized UTF8String array. The r7 sf100 soak is the measured
    motivation: at 1000x sf0.1 on the default 8 GB local-mode heap, the
    deserialized shingle blocks crowded the heap until the
    block-manager read-ahead thread OOMed; the serialized form runs the
    same workload on the same heap. A real cluster with 4-8 GB/core
    keeps the fast default and flips this only when corpus-per-executor
    outgrows memory. Read at query-construction time, so one process
    can soak both forms."""
    if os.environ.get("SPARK_GRAFT_WIDE_CKPT_SER", "").lower() in ("1", "true", "yes"):
        return StorageLevel.MEMORY_AND_DISK  # serialized in memory
    return StorageLevel.MEMORY_AND_DISK_DESER

from etl_pipeline_spark.catalog import EMB_DOOR_SQL, emb_door_sql, embedding_door, load_tables, scan_parallel
from etl_pipeline_spark.functions.grid import sat_quantize_sql
from etl_pipeline_spark.functions.shingles import (
    hashed_word_shingles,
    postings,
    tokenized,
    word_shingles,
)
from etl_pipeline_spark.operators.minhash import xxhash_minhash_from_hashed
from etl_pipeline_spark.operators.ranking import global_row_number
from etl_pipeline_spark.operators.semdedup import (
    semdedup_assign,
    semdedup_pairs,
    semdedup_pruned,
)
from etl_pipeline_spark.queries.base import query

SHINGLE_WIDTH = 3
JACCARD_THRESHOLD = 0.5
EMB_TOPK_PER_BLOCK = 3


@query(
    "q_dedup_exact",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    )
    SELECT fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*)    AS n_copies
    FROM fp
    GROUP BY fingerprint
    """,
    tags=("dedup", "X1"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (X1): group by normalized-text fingerprint, keep the
    lowest doc_id deterministically (``dropDuplicates`` keeps an arbitrary
    row — min() is the reproducible form of the same hash-shuffle plan).

    Scale: one shuffle on the 128-bit fingerprint — uniformly distributed
    by construction, so no skew at any scale.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        d.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


_SHINGLES_SQL = f"""
        SELECT doc_id, shingle
        FROM (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {SHINGLE_WIDTH - 1}),
                       i -> STRING_SPLIT(text, ' ')[i] || ' ' ||
                            STRING_SPLIT(text, ' ')[i+1] || ' ' ||
                            STRING_SPLIT(text, ' ')[i+2]
                   ))) AS shingle
            FROM documents
            WHERE LEN(STRING_SPLIT(text, ' ')) >= {SHINGLE_WIDTH}
        ) s
"""


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.n_inter AS DOUBLE) /
                 (sa.n_shingles + sb.n_shingles - p.n_inter), 4) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) /
          (sa.n_shingles + sb.n_shingles - p.n_inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "X2", "jaccard"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard similarity (X2's exact
    baseline; MinHash approximates this): word-3-gram shingles, inverted
    index self-join on shingle, |A∩B| / (|A|+|B|-|A∩B|) >= 0.5.

    Scale: shuffle key = shingle (inverted index). The quadratic risk is
    hot shingles; MinHash-LSH (q_dedup_minhash_lsh) is the sub-quadratic
    path at 100 TB, with this as the verify step on surviving pairs.
    """
    from etl_pipeline_spark.api import jaccard_near_dup_pairs

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return jaccard_near_dup_pairs(d, threshold=JACCARD_THRESHOLD, shingle_width=SHINGLE_WIDTH)


# Banded LSH over a 16-permutation signature: band b's bucket key hashes
# the 2-component slice (sig[2b], sig[2b+1]) — see
# minhash_docs_and_candidates for the recall/candidate-volume analysis.
LSH_PERMS = 16
LSH_ROWS = 2
LSH_BANDS = LSH_PERMS // LSH_ROWS


def minhash_docs_and_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shingled docs + un-truncated banded-LSH candidate pairs — the
    front half of q_dedup_minhash_lsh, exposed so the bucket-explode
    plan contract (no shingle arrays on the explode side,
    tests/test_plan_assertions.py) stays assertable on the shipped code
    after the query checkpoints the candidate set for reuse.

    Candidate generation is COLUMNAR banded MinHash: a LSH_PERMS=16
    permutation xxhash64 signature (family shared with the streaming
    near-dup operator, operators/minhash.py) banded as LSH_BANDS=8 keys
    of LSH_ROWS=2 components each; a pair is a candidate if it shares
    ANY band's bucket. The banding exponent matters at scale: the first
    r7 form used 16 SINGLE-hash tables (R=1), whose candidate
    probability for a background pair is ~16j — at sf0.1 that meant
    155,502 candidates for 256 true pairs (600x junk; the 8x2 banding
    emits 1,277 with zero true pairs missed, measured). With R=2 the
    background probability falls to ~8j^2 while the miss probability
    for a true pair is (1-j^2)^8: 2.8e-4 at j=0.8 (the observed floor
    of true pairs at every test SF — min jaccard 0.8 at sf0.1, 0.9 at
    sf0.01), 4% at j=0.6, 10% at the 0.5 threshold boundary. The
    exact-SQL oracle pins empirical recall 1.0 at the test SFs; the
    S-curve trade is documented here rather than hidden in an
    est-jaccard pre-filter. Permutation count was swept (16/24/32 at
    R=2: all recall-1.0, candidates 1,277/1,831/2,225): the signature
    is the DOMINANT stage at sf1+ (32 perms doubled sf10 wall-clock
    against a candidate saving that verify's hash screen had already
    made cheap), so the sweep picked the cheapest-signature form and
    banded recall margin is bought with ROWS=2, not more permutations.

    This family replaced the HashingTF + MinHashLSH pipeline because
    the 2^18-dim sparse feature vectors were pure overhead at scale:
    the signature is LSH_PERMS array expressions over the hashed
    shingle arrays (NO shuffle, no ML fit pass, no feature-vector
    re-attach join — the object whose broadcast OOMed the r6 sf10 soak
    and whose HashingTF stage OOMed the r7 sf100 soak no longer
    exists), and the bucket self-join carries three longs per row.

    The returned docs frame carries each document's DISTINCT HASHED
    shingles (array<bigint>, 8 B/shingle) — never the shingle strings.
    Materializing the string arrays into the checkpoint was the single
    largest cost of the r5-r6 forms (~4.6 of 6 s at sf0.1): the strings
    exist only transiently inside this projection, and everything
    downstream (signatures, bucket keys, the verify's stage-1 exact
    Jaccard) is arithmetic over the hashes. array_distinct runs AFTER
    hashing for the same reason — dedup compares 8-byte longs, not
    ~20-char strings.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Materialize the hashed-shingle docs ONCE (lazily; see module
    # docstring): the signature step and both verify sides read them.
    # localCheckpoint doubles as lineage truncation; a cluster run would
    # use persist(DISK) or a reliable checkpoint for the same
    # single-materialization property. tokenized() hoists the split
    # (functions/shingles.py — inline split is O(tokens^2) per doc).
    docs = (
        tokenized(scan_parallel(d, spark), "doc_id", min_tokens=SHINGLE_WIDTH)
        .select("doc_id", hashed_word_shingles(SHINGLE_WIDTH).alias("hsh"))
        .localCheckpoint(eager=False, storageLevel=wide_ckpt_level())
    )
    # Signature inline from the checkpointed hashed arrays, banded into
    # LSH_BANDS bucket keys (xxhash64 of each LSH_ROWS-component slice,
    # the streaming operator's band construction) — column pruning
    # drops every array right after this Project, so the bucket explode
    # and its exchange see only (doc_id, table, bucket): three longs.
    # The column is named `hashes` on purpose: the r5 narrow-explode
    # plan contract (tests/test_plan_assertions.py) greps explode lines
    # for it.
    # Two projections on purpose: the signature array is referenced by
    # all LSH_BANDS slices, and an inline expression would be re-
    # inlined (and re-computed) per band — the same O(n^2) trap
    # functions/shingles.py documents for split(). A named column is
    # evaluated once.
    sig_arr = docs.select(
        "doc_id", xxhash_minhash_from_hashed(F.col("hsh"), LSH_PERMS).alias("sig")
    )
    sig = sig_arr.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
            lambda b: F.xxhash64(F.slice(F.col("sig"), b * LSH_ROWS + 1, LSH_ROWS)),
        ).alias("hashes"),
    )
    buckets = sig.select("doc_id", F.posexplode("hashes").alias("table", "bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    # Both sides are the same subtree over the checkpointed docs, so the
    # self-join plans ONE exchange + ReusedExchange. A pair sharing
    # several tables appears once per table; `distinct` collapses that
    # before the (expensive) exact-Jaccard verify touches it.
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return docs, cand


@query(
    "q_dedup_minhash_lsh",
    # Self-verifying form (round 2): MinHash-LSH produces CANDIDATE pairs
    # only; each candidate is then verified with the exact Jaccard over the
    # true shingle sets (an O(candidates) array_intersect, not the exact
    # baseline's O(pairs) inverted-index join). The emitted pairs therefore
    # equal the exact near-dup pairs whenever LSH recall is 1.0, and the
    # exact-Jaccard SQL is the oracle — a candidate miss would surface as a
    # row-count/hash mismatch.
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.n_inter AS DOUBLE) /
                 (sa.n_shingles + sb.n_shingles - p.n_inter), 4) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) /
          (sa.n_shingles + sb.n_shingles - p.n_inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "X2", "minhash", "approx", "exact-recall-oracle", "params-tuned-sf0.001-0.1"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, candidate + verify (X2 scale path):
    shingle -> columnar xxhash64 MinHash signature (LSH_PERMS
    components, shared hash family with the streaming near-dup
    operator) -> banded (LSH_BANDS x LSH_ROWS) bucket self-join for
    candidates -> exact Jaccard verify. The hash family is seed-free
    and engine-deterministic, so deterministic.

    Oracle coupling (tag ``exact-recall-oracle``): the oracle is the EXACT
    near-dup SQL, so a hash mismatch here means LSH candidate recall < 1.0
    — an approximation-quality regression, not an engine bug. The LSH
    parameters were tuned for recall 1.0 on the sf0.001-0.1 fixtures
    (miss probability per true pair is (1-j^LSH_ROWS)^LSH_BANDS =
    2.8e-4 at the observed j>=0.8 true-pair floor; see
    minhash_docs_and_candidates for the full S-curve); a new scale
    factor, fixture regeneration, or Spark hash-function change may
    legitimately need retuning (more bands, or LSH_ROWS=1 for maximum
    recall at the r7-measured candidate-volume cost) rather than a
    correctness fix.

    Scale: the bucket self-join shuffles on (table, bucket) — narrow
    sub-quadratic candidate generation; the exact-Jaccard verify touches
    only candidates (candidates << all pairs), via per-pair
    array_intersect rather than re-running the quadratic inverted-index
    join. The bucket-explode join carries ONLY (doc_id, table, bucket) —
    shipping the shingle arrays (the widest column, hundreds of strings
    per doc) through the 16x explode shuffle cost ~35% wall-clock at
    sf0.1 when the r5 form did it and would dominate data movement at
    100 TB; the verify re-attaches the hashed arrays (stage-1 screen)
    and then the shingle strings (stage-2 survivors) to the narrow
    candidate set with id-keyed sort-merge joins, so each array column
    moves through candidate-keyed exchanges exactly once per stage.
    """
    docs, cand = minhash_docs_and_candidates(spark, sf_dir)
    # referenced twice below (pair stream + membership ids) — materialize
    # the LSH join once instead of re-running it per consumer
    cand = cand.localCheckpoint(eager=False)
    # Restrict the wide hashed-shingle arrays to candidate MEMBERS
    # before any join touches them: broadcast-semi-join on the narrow
    # id set (ids
    # are 8 bytes; candidate membership is dup-rate-linear, so even a
    # 1B-doc corpus broadcasts ~100s of MB, and a shuffle semi-join is
    # the drop-in fallback past that). Without this, the r6 sf10 soak
    # showed AQE broadcasting the candidate-with-arrays INTERMEDIATE
    # (row count small, rows ~10 KB of shingles) and exhausting the
    # driver building it; after it, every join input is candidate-sized
    # and each array column crosses exactly two candidate-keyed
    # exchanges (hashed arrays for the stage-1 screen, shingle strings
    # for the stage-2 survivors).
    member_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs_cand = docs.join(F.broadcast(member_ids), "doc_id", "semi").localCheckpoint(
        eager=False, storageLevel=wide_ckpt_level()
    )
    # merge hints: the array sides must NEVER be broadcast —
    # member-bounded is not broadcast-safe (10 KB/row at sf10 made a
    # 25k-row broadcast exhaust the driver) — and sort-merge rather
    # than shuffle_hash because SMJ spills where a per-task hash build
    # competes for the shared heap (32 concurrent builds OOMed the
    # prefix-filter verify at sf10 in local mode). The hint pins this
    # against AQE's row-count heuristics at every scale
    # (plan-asserted: no array in any BroadcastExchange).
    # Two-stage verify. Single-hash buckets are weak filters (any pair
    # sharing ONE permutation's min is a candidate — ~600x more
    # candidates than true pairs at sf0.1), so stage 1 computes exact
    # Jaccard over the 8-byte HASHED shingle arrays for every candidate
    # — the same screening role approxSimilarityJoin's hashed-feature
    # distance played in the replaced ML pipeline. A 64-bit collision
    # could in principle perturb a stage-1 intersection — P ~
    # n_shingles^2 * 2^-64 per doc, the same epsilon class as LSH
    # recall itself, and the exact-SQL oracle would surface it as a
    # hash mismatch at the test SFs.
    # r15 optimization round, first attach only (guide §3.1): the
    # doc_a attach is a SHUFFLED HASH join BUILDING THE CANDIDATE side —
    # candidates are (doc_a, doc_b) longs, so the per-partition hash
    # table is candidate-count/200 x 16 B (KBs at any dup rate worth
    # deduping), while the array side STREAMS: never sorted, never in a
    # hash table, never broadcast — strictly less array handling than
    # the SMJ it replaces (which sorted the member arrays by doc_a).
    # The second attach stays merge-pinned: both of its sides carry
    # arrays, so a hash build there is exactly the r14-documented heap
    # hazard (32 concurrent builds OOMed the prefix-filter verify at
    # sf10) and SMJ's graceful spill is the at-scale-correct choice.
    h_a = docs_cand.select(
        F.col("doc_id").alias("doc_a"), F.col("hsh").alias("h_a")
    )
    h_b = docs_cand.select(
        F.col("doc_id").alias("doc_b"), F.col("hsh").alias("h_b")
    ).hint("merge")
    n_inter_h = F.size(F.array_intersect("h_a", "h_b"))
    jac_h = n_inter_h.cast("double") / (F.size("h_a") + F.size("h_b") - n_inter_h)
    pre = (
        cand.hint("shuffle_hash").join(h_a, "doc_a")
        .join(h_b, "doc_b")
        .filter(jac_h >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        # read twice below (survivor ids + final pair join); survivors
        # are ~true-pair-count rows, so this materialization is tiny
        .localCheckpoint(eager=False)
    )
    # Stage 2: re-derive the arithmetic from the true shingle STRINGS,
    # recomputed from the source table for SURVIVOR members only
    # (output-sized, so the shingle strings never exist at corpus
    # scale), so the emitted jaccard values owe nothing to the hash
    # family. merge hints for the same reason as above: string shingle
    # arrays must never enter a BroadcastExchange, however small the
    # planner thinks this side is.
    surv_ids = (
        pre.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pre.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    sdocs = (
        tokenized(scan_parallel(d, spark), "doc_id", min_tokens=SHINGLE_WIDTH)
        .join(F.broadcast(surv_ids), "doc_id", "semi")
        .select("doc_id", word_shingles(SHINGLE_WIDTH).alias("shingles"))
    )
    # Same first-attach shape as stage 1: build the survivor-pair side
    # (narrow longs) in a shuffled hash join, stream the string arrays;
    # the second attach stays merge-pinned (both sides carry arrays).
    sh_a = sdocs.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = sdocs.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    ).hint("merge")
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        pre.hint("shuffle_hash").join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jac"))
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (operators/simhash.py) — hash-family dedup that is nonetheless
# oracle-checkable because its primitives (md5/instr/substr/&/bit_count)
# are bit-identical across engines.
# ---------------------------------------------------------------------------

from etl_pipeline_spark.operators.simhash import (  # noqa: E402
    simhash_near_dup_pairs,
    simhash_pairs_sql,
    simhash_signatures,
    simhash_sql,
)

query(
    "q_dedup_simhash",
    oracle=simhash_sql("duckdb"),
    tags=("dedup", "X2", "simhash"),
    doc=simhash_signatures.__doc__ or "48-bit SimHash signatures per document.",
)(simhash_signatures)

query(
    "q_dedup_simhash_pairs",
    oracle=simhash_pairs_sql("duckdb"),
    tags=("dedup", "X2", "simhash", "lsh"),
    doc="Banded Hamming-LSH candidate pairs filtered by popcount distance.",
)(simhash_near_dup_pairs)


# ---------------------------------------------------------------------------
# Near-dup clustering (operators/cluster.py): iterative connected
# components on Spark, recursive-CTE transitive closure as the oracle —
# both converge to the same unique fixpoint (cluster id = min doc_id).
# ---------------------------------------------------------------------------

from etl_pipeline_spark.operators.cluster import clusters_oracle, dedup_clusters  # noqa: E402
from etl_pipeline_spark.queries.base import REGISTRY  # noqa: E402

query(
    "q_dedup_clusters",
    oracle=clusters_oracle(REGISTRY["q_dedup_ngram_jaccard"].oracle),
    tags=("dedup", "X2", "clustering", "iterative"),
    doc=dedup_clusters.__doc__ or "Connected-components dedup groups.",
)(dedup_clusters)


@query(
    "q_dedup_canonical_docs",
    # the CC fixpoint SQL nests as a plain subquery-CTE (DuckDB allows a
    # WITH RECURSIVE inside a CTE body)
    oracle=f"""
    WITH comp AS (
        {clusters_oracle(REGISTRY["q_dedup_ngram_jaccard"].oracle)}
    ),
    m AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT cluster_id, doc_id, n_chars,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM m
    )
    SELECT cluster_id,
           doc_id AS canonical_doc,
           n_chars AS canonical_chars,
           n_members
    FROM ranked
    WHERE rn = 1 AND n_members > 1
    """,
    tags=("dedup", "X2", "clustering", "canonical"),
)
def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step AFTER near-dup clustering
    in a corpus build: within each multi-doc cluster keep the best
    representative (longest text, doc_id tie-break), not the min-label
    keeper the CC algorithm happens to produce. Cluster identity stays
    the min doc_id (the CC fixpoint); the canonical member is a quality
    argmax over the cluster — the two are independent axes.

    Scale: one join of the CC labels against the docs table on doc_id,
    then a window partitioned by cluster_id — cluster sizes are bounded
    by near-dup semantics, so no single window partition is hot."""
    from pyspark.sql import Window as W

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    comp = dedup_clusters(spark, sf_dir)
    m = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    ranked = m.withColumn(
        "n_members", F.count("*").over(W.partitionBy("cluster_id"))
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        ),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n_members") > 1)).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc"),
        F.col("n_chars").alias("canonical_chars"),
        "n_members",
    )


@query(
    "q_dedup_soft_weights",
    # Soft deduplication: downweight duplicated content instead of
    # deleting it (the commonness-reweighting practice, e.g. SoftDeDup)
    # — every doc keeps sampling weight 1/|near-dup cluster|, so a
    # cluster contributes one doc's worth of expected tokens while
    # retaining intra-cluster diversity. Composes the CC fixpoint with
    # a cluster-size window exactly like q_dedup_canonical_docs.
    oracle=f"""
    WITH comp AS (
        {clusters_oracle(REGISTRY["q_dedup_ngram_jaccard"].oracle)}
    ),
    sized AS (
        SELECT cluster_id, doc_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    )
    SELECT doc_id, cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           ROUND(1.0 / cluster_size, 4) AS weight,
           cluster_size > 1 AS is_dup
    FROM sized
    """,
    tags=("dedup", "X2", "clustering", "soft-dedup"),
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication weights: instead of dropping near-duplicates,
    give every document sampling weight 1/|cluster| over its near-dup
    connected component — a cluster then contributes one document's
    worth of expected training mass while keeping intra-cluster
    diversity available to the sampler (the delete-free alternative to
    q_dedup_canonical_docs; singletons keep weight 1.0).

    Scale: the CC labels (operators/cluster.py) plus one cluster-keyed
    count window — cluster sizes are bounded by near-dup semantics, so
    no hot window partition; output is corpus-sized but narrow.
    """
    comp = dedup_clusters(spark, sf_dir)
    sized = comp.withColumn(
        "cluster_size", F.count("*").over(W.partitionBy("cluster_id"))
    )
    return sized.select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.round(F.lit(1.0) / F.col("cluster_size"), 4).alias("weight"),
        (F.col("cluster_size") > 1).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Oracle-checkable MinHash (operators/minhash.py): md5-based hash family
# shared bit-for-bit with DuckDB — signatures, banded candidates, and
# estimated Jaccard are all value-hash-checked (upgrades X2 from the
# rows-only Spark ML variant).
# ---------------------------------------------------------------------------

from etl_pipeline_spark.operators.minhash import (  # noqa: E402
    minhash_pairs,
    minhash_pairs_sql_duckdb,
    minhash_signatures,
    minhash_signatures_sql,
)

query(
    "q_dedup_minhash_signatures",
    oracle=minhash_signatures_sql("duckdb"),
    tags=("dedup", "X2", "minhash"),
    doc="16-component md5-based MinHash signatures per document.",
)(minhash_signatures)

query(
    "q_dedup_minhash_pairs",
    oracle=minhash_pairs_sql_duckdb(),
    tags=("dedup", "X2", "minhash", "lsh"),
    doc=minhash_pairs.__doc__ or "Banded MinHash-LSH candidate pairs.",
)(minhash_pairs)


DF_CAP = 50  # stop-shingle cutoff: document frequency above this is noise


@query(
    "q_dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    df AS (
        SELECT shingle, COUNT(*) AS doc_freq FROM shingles_all GROUP BY shingle
    ),
    shingles AS (
        SELECT s.doc_id, s.shingle
        FROM shingles_all s JOIN df ON s.shingle = df.shingle
        WHERE df.doc_freq <= {DF_CAP}
    ),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.n_inter AS DOUBLE) /
                 (sa.n_shingles + sb.n_shingles - p.n_inter), 4) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) /
          (sa.n_shingles + sb.n_shingles - p.n_inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "X2", "jaccard", "skew"),
)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant Jaccard variant: shingles appearing in more than
    DF_CAP documents are dropped before the inverted-index self-join
    (stop-shingle removal — the posting-list cap that bounds the join's
    worst case at 100 TB). Similarity is then computed over informative
    shingles only; the oracle applies the identical cap.

    Scale: the cap turns the quadratic hot-shingle blowup into a bounded
    O(cap^2) per shingle; combined with MinHash banding this is the
    production near-dup path."""
    from etl_pipeline_spark.api import jaccard_near_dup_pairs

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return jaccard_near_dup_pairs(
        d, threshold=JACCARD_THRESHOLD, shingle_width=SHINGLE_WIDTH, df_cap=DF_CAP
    )


@query(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH pairs AS (
        SELECT a.label,
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(
                 list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 4) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
         AND {emb_door_sql('a.embedding')} AND {emb_door_sql('b.embedding')}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY label ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
        ) AS rnk
        FROM pairs
    )
    SELECT label, vec_a, vec_b, cos_sim, rnk
    FROM ranked WHERE rnk <= {EMB_TOPK_PER_BLOCK}
    """,
    tags=("dedup", "X2", "embedding", "cosine"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (X2's semantic-dedup family): the most
    similar embedding pairs WITHIN each block, here the label column —
    the blocked comparison pattern. A fixed cosine threshold also works
    (`.filter(cos >= t)`); the fixture's embeddings are near-orthogonal
    (max pair cosine ~0.51), so the canonical query ranks instead of
    thresholding to stay non-degenerate.

    Scale: the self-join is BLOCKED — pairs form only within a block
    (shuffle key = label), never across the whole corpus. At 100 TB the
    block key becomes an LSH bucket or IVF cell (operators/ivf.py) so
    block sizes stay bounded; the within-block quadratic cost is then
    (corpus/cells) x cell_size, not corpus squared.
    """
    e = embedding_door(load_tables(spark, sf_dir, ("embeddings",))["embeddings"])
    a = e.select("label", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = e.select("label", F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, ["label"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "label",
            "vec_a",
            "vec_b",
            F.round(
                # try_divide: zero-norm embedding -> NULL cos (ranks
                # last, = DuckDB's double 0/0), not an ANSI job kill
                F.try_divide(
                    dot(F.col("emb_a"), F.col("emb_b")),
                    F.sqrt(dot(F.col("emb_a"), F.col("emb_a")))
                    * F.sqrt(dot(F.col("emb_b"), F.col("emb_b"))),
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("label").orderBy(
        F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= EMB_TOPK_PER_BLOCK)
        .select("label", "vec_a", "vec_b", "cos_sim", "rnk")
    )


CHUNK_WORDS = 10
SPAN_WORDS = 8


@query(
    "q_dedup_chunk_rewrite",
    # First-occurrence-wins cross-document chunk dedup, with the cleaned
    # text reproduced in SQL: docs are split into consecutive
    # CHUNK_WORDS-word chunks; a chunk is kept only in the lowest-doc_id
    # document containing that exact chunk text. string_agg ORDER BY
    # chunk_idx rebuilds the cleaned document deterministically.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(j AS INTEGER) AS chunk_idx,
               ARRAY_TO_STRING(ws[j * {CHUNK_WORDS} + 1 : j * {CHUNK_WORDS} + {CHUNK_WORDS}], ' ') AS chunk
        FROM toks, UNNEST(GENERATE_SERIES(0, CAST(CEIL(LEN(ws) / {CHUNK_WORDS}.0) AS INTEGER) - 1)) t(j)
    ),
    first_seen AS (
        SELECT chunk, MIN(doc_id) AS first_doc FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.first_doc <> c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           MD5(COALESCE(STRING_AGG(CASE WHEN f.first_doc = c.doc_id THEN c.chunk END, ' '
                                   ORDER BY c.chunk_idx), '')) AS cleaned_md5
    FROM chunks c JOIN first_seen f ON c.chunk = f.chunk
    GROUP BY c.doc_id
    """,
    tags=("dedup", "X2", "rewrite", "chunks"),
)
def q_dedup_chunk_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-level dedup that REWRITES the corpus (the
    C4/CCNet line-dedup step, over 10-word chunks since the fixture has
    no newlines): a chunk duplicated across documents survives only in
    its first (lowest doc_id) document; every document is re-emitted
    with its surviving chunks in order. Output: per-doc chunk counts,
    dropped counts, and the md5 of the cleaned text (hash-checked, so
    the rewrite itself is verified, not just the counts).

    Scale: one shuffle on the chunk text (min(doc_id), map-side
    combinable — the classic inverted index), a join back, and one
    per-doc aggregate. No pairwise comparison anywhere: cost is linear
    in total chunks, and hot chunks (boilerplate) are exactly the rows
    the min-combine collapses early.
    """
    # r15 optimization round: scan_parallel — the chunk transform
    # (split + per-chunk slice/join) is the CPU-heavy per-row projection
    # class the helper exists for, and on a one-row-group fixture it ran
    # serially in the single scan task, as did the map-side partials of
    # both object aggregates above it. The repartition key is doc_id, so
    # when AQE broadcasts first_seen the per-doc rewrite aggregate needs
    # no further exchange; pass-through on many-split production scans.
    d = scan_parallel(
        load_tables(spark, sf_dir, ("documents",))["documents"], spark
    )
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(CHUNK_WORDS)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.array_join(F.slice(toks, j * CHUNK_WORDS + 1, CHUNK_WORDS), " "),
    )
    chunks = d.select("doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk"))
    first_seen = chunks.groupBy("chunk").agg(F.min("doc_id").alias("first_doc"))
    joined = chunks.join(first_seen, "chunk")
    kept_in_order = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"),
                        F.struct("chunk_idx", "chunk"),
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("first_doc") != F.col("doc_id")).cast("long")).alias("n_dropped"),
        F.md5(kept_in_order).alias("cleaned_md5"),
    )


@query(
    "q_dedup_repeated_spans",
    # Corpus-level inventory of exact repeated word spans (the
    # suffix-array / "dedup training data" building block): overlapping
    # SPAN_WORDS-word windows that occur in >= 2 distinct documents,
    # with document and occurrence counts.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) >= {SPAN_WORDS}
    ),
    spans AS (
        SELECT doc_id,
               ARRAY_TO_STRING(ws[i : i + {SPAN_WORDS} - 1], ' ') AS span
        FROM toks, UNNEST(GENERATE_SERIES(1, LEN(ws) - {SPAN_WORDS} + 1)) t(i)
    )
    SELECT MD5(span) AS span_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM spans
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "X2", "spans", "exact-substring"),
)
def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span inventory — the exact-substring counterpart
    to the similarity dedups: every 8-word span that appears verbatim in
    two or more documents, with doc/occurrence counts. This is the
    memorization-risk report (long verbatim repeats are what LMs
    memorize) and the input to span-level redaction; MinHash/Jaccard
    can miss these entirely when the containing documents are otherwise
    dissimilar.

    Scale: one shuffle keyed on the span (count-distinct via the span
    grouping, map-side combinable counts). Span windows overlap so the
    exploded index is n_words x SPAN_WORDS bytes — the standard
    fingerprint-index trade; a rolling-hash span_md5 keyed shuffle
    (hash instead of text) halves the shuffle width at cluster scale.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split("text", " ")
    span_arr = F.transform(
        F.sequence(F.lit(1), F.size(toks) - SPAN_WORDS + 1),
        lambda i: F.array_join(F.slice(toks, i, SPAN_WORDS), " "),
    )
    spans = (
        d.filter(F.size(toks) >= SPAN_WORDS)
        .select("doc_id", F.explode(span_arr).alias("span"))
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.md5("span").alias("span_md5"), "n_docs", "n_occurrences", "first_doc")
    )


CONTAINMENT_THRESHOLD = 0.5


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
        SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
               COUNT(*) AS n_inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.contained_doc, p.container_doc, p.n_inter,
           ROUND(CAST(p.n_inter AS DOUBLE) / sa.n_shingles, 4) AS containment
    FROM pair_inter p
    JOIN sizes sa ON p.contained_doc = sa.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / sa.n_shingles >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "X2", "containment"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment near-dup pairs (X2 companion): directed pairs
    (a, b) where C(a, b) = |S(a) ∩ S(b)| / |S(a)| >= 0.5 — the asymmetric
    measure that catches a short document embedded verbatim inside a much
    longer one, which symmetric Jaccard misses entirely (the union in the
    denominator is dominated by the long side). This is the
    quote/boilerplate/snippet-inclusion report a corpus build runs after
    whole-document dedup; reference parity: same shingle model as the
    Jaccard operators (reference `dedup.py` has no sub-document pass at
    all — this is additive coverage).

    Scale: identical inverted-index shuffle to q_dedup_ngram_jaccard (the
    shingle is the key), but the join predicate is `<>` rather than `<` so
    each co-occurring pair is produced in both directions — 2x the
    intersection rows, same asymptotics. Hot-shingle posting lists are the
    skew risk; the capped variant's stop-shingle drop applies verbatim.
    """
    from etl_pipeline_spark.api import containment_pairs

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return containment_pairs(d, threshold=CONTAINMENT_THRESHOLD, width=SHINGLE_WIDTH)


# --- SemDeDup: semantic dedup via clustering + centroid-aware pruning -------

SEM_K = 8  # clusters
SEM_TAU = 0.25  # within-cluster cosine above this => near-duplicate pair
SEM_QUANT = 10000  # centroid quantization denominator (exact integer sums)


@query(
    "q_semdedup_clusters",
    # Deterministic SemDeDup (Abbas et al. 2023 shape): centroids are the
    # dimension-wise mean of deterministic seed groups (vec_id % K), made
    # bit-reproducible across engines by summing half-up-quantized
    # integers (integer addition is order-independent; double AVG is not);
    # vectors assign to the argmax-cosine centroid; within a cluster,
    # pairs with cosine >= tau are near-duplicates and the member CLOSER
    # to the centroid is pruned (SemDeDup keeps low-centroid-similarity
    # "edge" examples; ties prune the higher vec_id).
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE {EMB_DOOR_SQL}
    ),
    comp AS (
        SELECT vec_id, vec_id % {SEM_K} AS seed, g AS pos, v[g] AS val
        FROM emb, UNNEST(GENERATE_SERIES(1, LEN(v))) t(g)
    ),
    cent AS (
        SELECT seed, pos,
               CAST(SUM({sat_quantize_sql("val", SEM_QUANT)}) AS BIGINT) AS qsum,
               COUNT(*) AS n
        FROM comp GROUP BY seed, pos
    ),
    cvec AS (
        SELECT seed, LIST(qsum / ({SEM_QUANT}.0 * n) ORDER BY pos) AS cv
        FROM cent GROUP BY seed
    ),
    assign AS (
        SELECT vec_id, cluster, cosc FROM (
            SELECT e.vec_id, c.seed AS cluster,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (SQRT(list_dot_product(e.v, e.v)) * SQRT(list_dot_product(c.cv, c.cv))),
                         6) AS cosc,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) /
                                (SQRT(list_dot_product(e.v, e.v)) * SQRT(list_dot_product(c.cv, c.cv))) DESC,
                                c.seed ASC
                   ) AS rnk
            FROM emb e CROSS JOIN cvec c
        ) WHERE rnk = 1
    ),
    pairs AS (
        SELECT a.cluster,
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.cosc AS cosc_a, b.cosc AS cosc_b,
               ROUND(list_dot_product(ea.v, eb.v) /
                     (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))),
                     4) AS cos_ab
        FROM assign a
        JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN emb ea ON ea.vec_id = a.vec_id
        JOIN emb eb ON eb.vec_id = b.vec_id
    ),
    dups AS (
        SELECT cluster,
               CASE WHEN cosc_a > cosc_b THEN vec_a
                    WHEN cosc_b > cosc_a THEN vec_b
                    ELSE GREATEST(vec_a, vec_b) END AS pruned
        FROM pairs WHERE cos_ab >= {SEM_TAU}
    ),
    cl AS (
        SELECT cluster, COUNT(*) AS size, ROUND(AVG(cosc), 4) AS avg_cos_centroid
        FROM assign GROUP BY cluster
    ),
    pd AS (
        SELECT cluster,
               COUNT(*) AS n_neardup_pairs,
               COUNT(DISTINCT pruned) AS n_pruned
        FROM dups GROUP BY cluster
    )
    SELECT cl.cluster,
           CAST(cl.size AS BIGINT) AS size,
           cl.avg_cos_centroid,
           CAST(COALESCE(pd.n_neardup_pairs, 0) AS BIGINT) AS n_neardup_pairs,
           CAST(COALESCE(pd.n_pruned, 0) AS BIGINT) AS n_pruned
    FROM cl LEFT JOIN pd ON cl.cluster = pd.cluster
    """,
    tags=("dedup", "X2", "embedding", "semdedup", "clustering"),
)
def q_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup report (composed from operators/semdedup.py — the same
    building blocks callers use on their own embedding tables): per-cluster corpus size, mean centroid cosine,
    near-duplicate pair count, and how many vectors centroid-aware pruning
    removes. The pipeline is the real thing end-to-end — centroid build,
    argmax-cosine assignment, blocked within-cluster pairing, prune-rule
    selection — with every floating-point step made engine-reproducible
    (integer-quantized centroid sums; sequential-fold dot products; ROUND
    before compare).

    Scale: centroids are K x dims values built in one map-combinable
    aggregation and BROADCAST back (8 x 64 here; even 100k x 1024 fits in
    a few hundred MB); assignment is a map-side broadcast join, so the
    corpus never shuffles for it. The quadratic stage is confined WITHIN
    clusters — exactly the SemDeDup trick — so cost is (corpus/K) x
    cluster_size, tuned by K; the cluster id is the shuffle key. At 100 TB
    K grows with the corpus to hold cluster sizes roughly constant, and
    the within-cluster join switches to the capped/banded forms the other
    X2 queries implement.
    """
    e = embedding_door(load_tables(spark, sf_dir, ("embeddings",))["embeddings"])
    emb = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    assign = semdedup_assign(emb, SEM_K)
    pairs = semdedup_pairs(assign)
    cl = assign.groupBy("cluster").agg(
        F.count("*").alias("size"), F.round(F.avg("cosc"), 4).alias("avg_cos_centroid")
    )
    nd = pairs.filter(F.col("cos_ab") >= SEM_TAU).groupBy("cluster").agg(
        F.count("*").alias("n_neardup_pairs")
    )
    np_ = semdedup_pruned(pairs, SEM_TAU).groupBy("cluster").agg(
        F.count("*").alias("n_pruned")
    )
    return (
        cl.join(nd, "cluster", "left")
        .join(np_, "cluster", "left")
        .select(
            "cluster",
            "size",
            "avg_cos_centroid",
            F.coalesce("n_neardup_pairs", F.lit(0)).alias("n_neardup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
        )
    )


# --- LSH quality audit: recall/precision vs the exact baseline --------------

from etl_pipeline_spark.operators.minhash import (  # noqa: E402
    minhash_pairs,
    minhash_pairs_sql_duckdb,
)
from etl_pipeline_spark.queries.base import REGISTRY  # noqa: E402


@query(
    "q_lsh_recall_report",
    # Composes the two already-oracled sides: exact-Jaccard truth pairs
    # (q_dedup_ngram_jaccard) and md5-MinHash banded candidates
    # (q_dedup_minhash_pairs). Because the hash family is engine-portable,
    # BOTH sides — and therefore the recall/precision of the approximate
    # operator itself — are exactly cross-checked.
    oracle=None,  # placeholder; bound right below so registration order is explicit
    tags=("dedup", "X2", "lsh", "audit", "approx-exactly-checked"),
)
def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of MinHash-LSH against ground truth: how many exact
    near-dup pairs (Jaccard >= 0.5) the banded candidate generation
    recovers (recall) and how much of the candidate set is real
    (precision before the verify step). The number every dedup pipeline
    must publish before trusting its sub-quadratic path — here it is a
    standing, oracle-checked query instead of a one-off notebook.

    Scale: both sides are the existing operators (inverted-index join;
    banded LSH); the audit adds two broadcast-sized count aggregates and
    a pair anti-join. Run it on a SAMPLE at 100 TB — recall estimates
    need only a few thousand truth pairs.
    """
    # Single full-outer pass: each heavy subplan (inverted-index join;
    # banded LSH union) appears in the final plan exactly once — a
    # count-per-side composition would quadruple the (large) LSH
    # expression tree and blow planning memory.
    exact = (
        REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir)
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    lsh = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b", F.lit(1).alias("c"))
    j = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum("t").alias("n_true_pairs"),
        F.sum("c").alias("n_candidates"),
        F.sum(F.col("t") * F.col("c")).alias("n_hits"),
    ).select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits") / F.nullif(F.col("n_true_pairs"), F.lit(0)), 4).alias(
            "recall"
        ),
        F.round(F.col("n_hits") / F.nullif(F.col("n_candidates"), F.lit(0)), 4).alias(
            "precision"
        ),
    )


REGISTRY["q_lsh_recall_report"].oracle = f"""
    WITH lsh AS (SELECT doc_a, doc_b FROM ({minhash_pairs_sql_duckdb()})),
    exactp AS (SELECT doc_a, doc_b FROM ({REGISTRY["q_dedup_ngram_jaccard"].oracle}))
    SELECT (SELECT COUNT(*) FROM exactp) AS n_true_pairs,
           (SELECT COUNT(*) FROM lsh) AS n_candidates,
           (SELECT COUNT(*) FROM exactp e JOIN lsh l
             ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS n_hits,
           ROUND((SELECT COUNT(*) FROM exactp e JOIN lsh l
                   ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
                 / CAST(NULLIF((SELECT COUNT(*) FROM exactp), 0) AS DOUBLE), 4) AS recall,
           ROUND((SELECT COUNT(*) FROM exactp e JOIN lsh l
                   ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
                 / CAST(NULLIF((SELECT COUNT(*) FROM lsh), 0) AS DOUBLE), 4) AS precision
"""


# --- Prefix-filtering exact similarity join (PPJoin-style) -------------------


PF_THRESHOLD = 0.8  # prefix filtering pays off at HIGH thresholds: prefix length ~ (1-t)*n


@query(
    "q_dedup_prefix_filter",
    # EXACT algorithm, not an approximation: prefix filtering (PPJoin
    # family) guarantees every pair with Jaccard >= t shares at least
    # one token within each member's (n - ceil(t*n) + 1)-token prefix
    # under any consistent global token order — so the oracle is
    # LITERALLY the naive inverted-index oracle at this query's
    # threshold, and a missed pair (an unsound prefix bound) fails the
    # hash. t = 0.8 (vs the baseline's 0.5) because prefix length scales
    # with (1-t): at 0.5 the "prefix" is half the document and the
    # filter buys nothing — measured 14 s vs the naive 6 s at sf0.1 —
    # while at 0.8 prefixes are ~20%% of each document.
    oracle=None,  # bound below to the q_dedup_ngram_jaccard oracle at PF_THRESHOLD
    tags=("dedup", "X2", "jaccard", "prefix-filter", "exact-subquadratic"),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING — the third
    tier of the similarity-join toolbox: the naive inverted index joins
    on EVERY shingle; LSH joins on banded sketches (approximate); prefix
    filtering keeps exactness while joining only on each document's
    rarest (n - ceil(t*n) + 1) shingles, ordered by global document
    frequency. Any pair reaching Jaccard >= t must collide inside those
    prefixes, so candidate generation shrinks toward the rare-token end
    of the vocabulary and hot stop-shingles (the inverted index's skew
    hazard) fall OUT of most prefixes by construction.

    Scale: the df ranking is one vocabulary-sized aggregate broadcast
    into a per-doc window; the candidate join's shuffle key is the
    prefix shingle — biased to rare tokens, so posting lists are short
    where the naive join's are longest. Verification is O(candidates)
    via per-pair array_intersect. This is the standard exact
    set-similarity join at warehouse scale (PPJoin/AllPairs lineage).

    Measured honestly at sf0.1 (5k docs, 27k distinct shingles, LOW
    skew): 11.7 s vs the naive join's 6.1 s — the fixture's vocabulary
    is too uniform for the filter to pay for its extra passes
    (candidates 119k; stage profile: shingle build 4.5 s dominates
    both). The regime where this tier wins is a heavy-tailed vocabulary,
    where the naive join's worst posting list contributes C(df_max, 2)
    pairs while every prefix here is (1-t)*n rare tokens; the DF-capped
    variant (q_dedup_ngram_jaccard_capped) is the pragmatic fixture-
    scale winner, and LSH the approximate one — this query completes
    the exact-subquadratic tier of the toolbox.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # checkpointed: the prefix ranking and the verify's shingle sets both
    # read it; re-exploding measured slower (sf0.1, 7 interleaved noop
    # reps: median 5.28 vs 4.94 s)
    sh = postings(d, SHINGLE_WIDTH).localCheckpoint(
        eager=False, storageLevel=wide_ckpt_level()
    )
    # Doc frequency and doc size are WINDOW counts over the posting
    # stream (r6): one shuffle by shingle for df, one by doc_id for the
    # rank and size together — no vocabulary or size TABLE exists to
    # join or broadcast (the r5 form explicitly broadcast both; the
    # vocabulary one is the sf10 incident class — corpus-unbounded).
    ranked = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("shingle")))
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
            ),
        )
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    # merge hint: the checkpoint above preserves the text scan's ~100:1
    # optimistic size estimate — without it the prefix self-join can
    # statically broadcast a text-derived side at scale.
    prefix = (
        ranked.filter(F.col("r") <= F.col("n") - F.ceil(F.lit(PF_THRESHOLD) * F.col("n")) + 1)
        .select("doc_id", "shingle")
        .hint("merge")
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False)  # referenced twice: pairs + membership
    )
    # verification: O(candidates) — each pair pulls both docs' shingle
    # ARRAYS and intersects them per-row (the q_dedup_minhash_lsh verify
    # form), instead of re-expanding candidates through the inverted
    # index. Same membership discipline as that query (r6 sf10 incident):
    # restrict the corpus shingle sets to candidate MEMBERS via a
    # broadcast of the narrow id set, and pin merge joins so the text
    # arrays — whose scan-derived size estimates are ~100:1 optimistic —
    # can never be chosen as a broadcast side (nor a hash build).
    member_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shset"))
        .join(F.broadcast(member_ids), "doc_id", "semi")
        .localCheckpoint(eager=False)
    )
    # r15, first attach only (the q_dedup_minhash_lsh verify shape): a
    # shuffled hash join BUILDING THE CANDIDATE side — narrow longs in
    # the per-partition hash table, the shingle-set arrays STREAM
    # (never sorted, never hash-built, never broadcast). The second
    # attach stays merge-pinned: both of its sides carry arrays, and a
    # hash build there is the r14-documented sf10 heap hazard.
    verified = (
        cand.hint("shuffle_hash")
        .join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b")).hint(
                "merge"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("na"),
            F.size("set_b").alias("nb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        verified.filter(jac >= PF_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


REGISTRY["q_dedup_prefix_filter"].oracle = REGISTRY["q_dedup_ngram_jaccard"].oracle.replace(
    f">= {JACCARD_THRESHOLD}", f">= {PF_THRESHOLD}"
)


# --- Sorted-neighborhood blocking audit --------------------------------------

SNM_PREFIX_CHARS = 30
SNM_WINDOW = 5


@query(
    "q_snm_recall_report",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               SUBSTR(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), 1, {SNM_PREFIX_CHARS}) AS k
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS r FROM norm
    ),
    cand AS (
        SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b
        FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + {SNM_WINDOW}
    ),
    exactp AS (SELECT doc_a, doc_b FROM ({{exact_oracle}}))
    SELECT (SELECT COUNT(*) FROM exactp) AS n_true_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM exactp e JOIN cand c
             ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS n_hits,
           ROUND((SELECT COUNT(*) FROM exactp e JOIN cand c
                   ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
                 / CAST(NULLIF((SELECT COUNT(*) FROM exactp), 0) AS DOUBLE), 4) AS recall,
           ROUND((SELECT COUNT(*) FROM exactp e JOIN cand c
                   ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
                 / CAST(NULLIF((SELECT COUNT(*) FROM cand), 0) AS DOUBLE), 4) AS precision
    """,
    tags=("dedup", "X2", "blocking", "audit"),
)
def q_snm_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking audited against ground truth: docs
    sort by a normalized text-prefix key, candidate pairs are the
    {W}-wide sliding neighborhood in that order, and the report gives
    the strategy's recall/precision against the exact-Jaccard pairs —
    the record-linkage community's cheapest blocking method, measured
    with the SAME audit harness as MinHash-LSH (q_lsh_recall_report),
    so strategies are comparable line by line.

    Scale: sorting is the shuffle Spark does best; the neighborhood
    expansion is a bounded {W}-row fan-out joined on rank (the
    covered-days trick), never a self-join on the key. The global rank
    is range-partitioned ranks + broadcast prefix offsets
    (operators/ranking.py), never a single-partition window.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    key = F.substring(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, SNM_PREFIX_CHARS
    )
    ranked = global_row_number(
        d.select("doc_id", key.alias("k")), [F.col("k"), F.col("doc_id")], "r"
    ).select("doc_id", "r")
    probes = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.explode(F.sequence(F.col("r") + 1, F.col("r") + SNM_WINDOW)).alias("r"),
    )
    cand = (
        probes.join(ranked.select(F.col("doc_id").alias("id_b"), "r"), "r")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.lit(1).alias("c"),
        )
    )
    exact = (
        REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir)
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    j = exact.join(cand, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum("t").alias("n_true_pairs"),
        F.sum("c").alias("n_candidates"),
        F.sum(F.col("t") * F.col("c")).alias("n_hits"),
    ).select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits") / F.nullif(F.col("n_true_pairs"), F.lit(0)), 4).alias("recall"),
        F.round(F.col("n_hits") / F.nullif(F.col("n_candidates"), F.lit(0)), 4).alias("precision"),
    )


REGISTRY["q_snm_recall_report"].oracle = REGISTRY["q_snm_recall_report"].oracle.format(
    exact_oracle=REGISTRY["q_dedup_ngram_jaccard"].oracle
)


# --- Document stitching detection (suffix-prefix overlap) --------------------

STITCH_WORDS = 3


@query(
    "q_dedup_doc_stitching",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) >= {STITCH_WORDS}
    ),
    sp AS (
        SELECT doc_id,
               ARRAY_TO_STRING(w[LEN(w) - {STITCH_WORDS - 1}:LEN(w)], ' ') AS suf,
               ARRAY_TO_STRING(w[1:{STITCH_WORDS}], ' ') AS pre
        FROM t
    )
    SELECT a.doc_id AS suffix_doc, b.doc_id AS prefix_doc, a.suf AS boundary
    FROM sp a JOIN sp b ON a.suf = b.pre AND a.doc_id <> b.doc_id
    """,
    tags=("dedup", "X2", "stitching", "boundary"),
)
def q_dedup_doc_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-stitching detection: pairs where one document's last
    {K} words equal another's first {K} — the boundary signature of
    pipeline-concatenation artifacts (a crawler or packer splitting one
    source across records), which similarity dedup misses because the
    OVERALL overlap is tiny. Flagged pairs feed re-segmentation or the
    sequence-packing stage.

    Scale: each doc contributes ONE suffix key and ONE prefix key (a
    narrow projection — no shingle explosion); the join is a plain
    equi-join on the boundary string, uniform unless the corpus has a
    boilerplate boundary (then the DF-cap from the capped-Jaccard
    operator applies to the key stream identically).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split("text", " ")
    t = d.filter(F.size(toks) >= STITCH_WORDS).select(
        "doc_id",
        F.array_join(F.slice(toks, -STITCH_WORDS, STITCH_WORDS), " ").alias("suf"),
        F.array_join(F.slice(toks, 1, STITCH_WORDS), " ").alias("pre"),
    )
    a = t.select(F.col("doc_id").alias("suffix_doc"), "suf")
    b = t.select(F.col("doc_id").alias("prefix_doc"), F.col("pre").alias("suf"))
    return (
        a.join(b, "suf")
        .filter(F.col("suffix_doc") != F.col("prefix_doc"))
        .select("suffix_doc", "prefix_doc", F.col("suf").alias("boundary"))
    )


q_dedup_doc_stitching.__doc__ = q_dedup_doc_stitching.__doc__.format(K=STITCH_WORDS)


# --- Winnowing fingerprints (MOSS) -------------------------------------------

from etl_pipeline_spark.queries.llm_ops import _hex32_sql  # noqa: E402

WIN_K = 4  # tokens per k-gram
WIN_W = 5  # k-gram hashes per winnowing window
WIN_DF_CAP = 50  # drop fingerprints shared by more docs (stop-phrases)
WIN_TOPK = 25


@query(
    "q_winnowing_pairs",
    # Winnowing (Schleimer et al., SIGMOD 2003 — the MOSS fingerprinter):
    # hash every word k-gram, keep the MINIMUM hash of each sliding
    # window of w consecutive k-grams. Guarantee: any shared token run
    # of length >= w + k - 1 contributes at least one shared
    # fingerprint, with a bounded fraction of hashes retained — the
    # robust local-fingerprint alternative to whole-doc md5 (exact
    # dedup) and MinHash (global resemblance). Pairs sharing the most
    # fingerprints are the copy-suspect report.
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               COALESCE(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''), [])
                   AS t
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(t) - {WIN_K - 1}),
                   i -> {_hex32_sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]")}
               ) AS h
        FROM base WHERE LEN(t) >= {WIN_K}
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(h) - {WIN_W - 1}),
                       i -> LIST_MIN(h[i : i + {WIN_W - 1}])
                   )) AS fp
            FROM hashed WHERE LEN(h) >= {WIN_W}
        ) s
    ),
    good AS (
        SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WIN_DF_CAP}
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN good g ON g.fp = f.fp)
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
           CAST(b.doc_id AS BIGINT) AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY shared_fps DESC, doc_a, doc_b
    LIMIT {WIN_TOPK}
    """,
    tags=("dedup", "X2", "winnowing", "fingerprint"),
)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing copy-suspect pairs (MOSS, Schleimer et al. 2003): hash
    word {K}-grams, keep each sliding window's minimum hash as a
    fingerprint (any shared run of >= {G} tokens then shares a
    fingerprint), drop stop-phrase fingerprints above a document
    frequency of {C}, and report the {T} doc pairs sharing the most
    fingerprints — local-overlap detection that exact-md5 misses and
    MinHash only sees globally.

    Scale: fingerprint extraction is entirely map-side over the hoisted
    token array (the windowed min never materializes per-window state
    beyond the hash array); the pair report is the DF-capped
    inverted-index join q_dedup_ngram_jaccard uses, with the same
    posting-list bound — the cap is what keeps stop-phrase postings
    from going quadratic at corpus scale.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select(
        "doc_id",
        F.coalesce(
            F.filter(F.split("text", " "), lambda x: x != ""), F.expr("array()")
        ).alias("t"),
    )
    hashed = base.filter(F.size("t") >= WIN_K).select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(t) - {WIN_K - 1}), "
            f"i -> conv(substring(md5(concat_ws(' ', slice(t, i, {WIN_K}))), 1, 8), 16, 10))"
        ).cast("array<long>").alias("h"),
    )
    fps = (
        hashed.filter(F.size("h") >= WIN_W)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(h) - {WIN_W - 1}), "
                        f"i -> array_min(slice(h, i, {WIN_W})))"
                    )
                )
            ).alias("fp"),
        )
        .distinct()
    )
    good = fps.groupBy("fp").agg(F.count("*").alias("df")).filter(
        F.col("df") <= WIN_DF_CAP
    )
    kept = fps.join(good.select("fp"), "fp")
    a = kept.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
    )
    return (
        pairs.select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            "shared_fps",
        )
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(WIN_TOPK)
    )


q_winnowing_pairs.__doc__ = q_winnowing_pairs.__doc__.format(
    K=WIN_K, G=WIN_W + WIN_K - 1, C=WIN_DF_CAP, T=WIN_TOPK
)


# --- Streaming near-dup batch parity (r10 judge #7a) -------------------------
# The streaming operator's register/flag induction, run as a BATCH query
# under the engine-portable md5 family so the DRIVER's value hash lands on
# the streaming semantics: bucket-ordered registration, flagged-docs-don't-
# register, earliest-max-agreement match, bucket cap. The chain of custody:
# this query's DuckDB oracle (recursive CTE below) <-> this Spark query
# (shared process_bucket_rows loop) <-> the streaming operator itself
# (tests/test_streaming_neardup.py parity test runs streaming_neardup_flags
# with family="md5" on the same docs and asserts row-set equality).
# Reference shape: dataflow_transform.py:75-89 (keyed stateful DoFn), here
# as LSH-bucket state — see streaming/neardup.py.

SNP_THRESHOLD = 0.7
SNP_CAP = 64
SNP_PERMS = 32
SNP_BANDS = 16  # mirrors streaming/neardup.py BANDS (r11 knee fix: 16x2)
SNP_ROWS = SNP_PERMS // SNP_BANDS


def _snp_flag_schema():
    return "doc_id long, matched_id long, est_sim double, band int"


@query(
    "q_streaming_neardup_parity",
    oracle=None,  # bound below: needs the 32-perm signature CTE
    tags=("dedup", "X2", "streaming-parity", "approx-exactly-checked"),
)
def q_streaming_neardup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/neardup.py's flag stream on the documents
    table (docs with >= 3 tokens — the md5 family's shingle domain;
    streaming's short-doc fallback shingle is pinned by its own tests):
    one row per (band, flagged doc) with the earliest maximal-agreement
    registered match, exactly the rows the streaming query would emit
    processing the table as one availableNow batch.

    Scale: the shuffle key is (band, band-slice values) — uniform by
    construction like the streaming operator's state key; each bucket's
    sequential induction is bucket-local (buckets are cap-bounded in
    registration count and collision-bounded in size), run in a grouped
    Arrow batch. The signature build is the same one aggregate as
    q_dedup_minhash_signatures, widened to 32 components."""
    import pandas as pd

    from etl_pipeline_spark.operators.minhash import minhash_signatures_sql
    from etl_pipeline_spark.streaming.neardup import process_bucket_rows

    load_tables(spark, sf_dir, ("documents",))
    sig = spark.sql(minhash_signatures_sql("spark", SNP_PERMS)).select(
        "doc_id", F.array(*[f"m{i}" for i in range(SNP_PERMS)]).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(SNP_BANDS - 1)),
                lambda b: F.slice(F.col("sig"), b * SNP_ROWS + 1, SNP_ROWS),
            )
        ).alias("band", "bkey"),
    )

    def run_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            (int(d), [int(x) for x in s])
            for d, s in zip(pdf["doc_id"], pdf["sig"])
        )
        out = process_bucket_rows(
            rows, [], [], SNP_THRESHOLD, SNP_CAP, n_perm=SNP_PERMS
        )
        return pd.DataFrame(
            {
                "doc_id": [o[0] for o in out],
                "matched_id": [o[1] for o in out],
                "est_sim": [o[2] for o in out],
                "band": [int(key[0])] * len(out),
            }
        )

    return banded.groupBy("band", "bkey").applyInPandas(
        run_bucket, schema=_snp_flag_schema()
    )


def _snp_oracle_sql() -> str:
    """DuckDB twin: the same induction as process_bucket_rows, written as
    a recursive CTE that advances every bucket one doc per step, carrying
    the registered (id, sig) list and the emitted flags as list state."""
    from etl_pipeline_spark.operators.minhash import _sig_cte

    sig_list = ", ".join(f"m{i}" for i in range(SNP_PERMS))
    bands = "\n          UNION ALL\n          ".join(
        f"SELECT doc_id, {b} AS band, sig, sig[{b * SNP_ROWS + 1}:{(b + 1) * SNP_ROWS}] AS bkey FROM sig_list"
        for b in range(SNP_BANDS)
    )
    return f"""
    WITH RECURSIVE {_sig_cte('duckdb', SNP_PERMS)},
    sig_list AS (SELECT doc_id, [{sig_list}] AS sig FROM sig),
    banded AS ({bands}),
    ranked AS (
        SELECT doc_id, band, bkey, sig,
               ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rk
        FROM banded
    ),
    step AS (
        SELECT band, bkey, CAST(0 AS BIGINT) AS rk,
               CAST([] AS STRUCT(id BIGINT, sig BIGINT[])[]) AS reg,
               CAST([] AS STRUCT(doc_id BIGINT, matched_id BIGINT, est DOUBLE)[]) AS flags
        FROM (SELECT DISTINCT band, bkey FROM ranked)
        UNION ALL
        SELECT s.band, s.bkey, s.rk + 1,
               CASE WHEN best IS NULL AND LEN(s.reg) < {SNP_CAP}
                    THEN list_append(s.reg, {{'id': d.doc_id, 'sig': d.sig}})
                    ELSE s.reg END,
               CASE WHEN best IS NOT NULL
                    THEN list_append(s.flags, {{'doc_id': d.doc_id,
                         'matched_id': s.reg[list_position(ests, best)].id,
                         'est': ROUND(best, 6)}})
                    ELSE s.flags END
        FROM step s
        JOIN ranked d ON d.band = s.band AND d.bkey = s.bkey AND d.rk = s.rk + 1,
        LATERAL (SELECT list_transform(s.reg, r ->
                     LEN(list_filter(list_zip(r.sig, d.sig),
                         p -> p[1] = p[2])) / CAST({SNP_PERMS} AS DOUBLE)
                 ) AS ests) e1,
        LATERAL (SELECT list_max(list_filter(e1.ests,
                     x -> x >= {SNP_THRESHOLD})) AS best) e2
    ),
    final AS (
        SELECT band, bkey, flags,
               ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY rk DESC) AS last_rk
        FROM step
    )
    SELECT f.doc_id AS doc_id, f.matched_id AS matched_id,
           f.est AS est_sim, CAST(band AS INTEGER) AS band
    FROM (SELECT band, UNNEST(flags) AS f FROM final WHERE last_rk = 1)
    """


REGISTRY["q_streaming_neardup_parity"].oracle = _snp_oracle_sql()
