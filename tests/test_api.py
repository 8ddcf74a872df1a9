"""Library-API tests: the operator surface over arbitrary user DataFrames
(not the fixture tables), including agreement with the registry queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark import api

SF = "/root/testdata/sf0.001"


def test_dedupe_exact_on_custom_df(spark):
    df = spark.createDataFrame(
        [
            (1, "hello   world"),
            (2, "Hello World"),      # case-folded by normalization -> dup of 1
            (3, "hello world"),      # whitespace-normalized dup of 1
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    kept = api.dedupe_exact(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]


def test_jaccard_pairs_and_clustering(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),   # near-dup of 1
            (3, "p q r s t u v w"),
            (4, "p q r s t u v y"),   # near-dup of 3
            (5, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    pairs = api.jaccard_near_dup_pairs(df, threshold=0.4)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 2), (3, 4)}
    clusters = api.cluster_near_dups(df, pairs)
    by_id = {r["doc_id"]: r for r in clusters.collect()}
    assert by_id[2]["cluster_id"] == 1 and not by_id[2]["is_keeper"]
    assert by_id[4]["cluster_id"] == 3 and not by_id[4]["is_keeper"]
    assert by_id[5]["is_keeper"]


def test_df_cap_drops_stop_shingles(spark):
    # a shingle present in every doc is a stop-shingle under cap=2
    df = spark.createDataFrame(
        [(i, f"common trigram here unique{i} token{i} extra{i}") for i in range(5)],
        "doc_id long, text string",
    )
    uncapped = api.jaccard_near_dup_pairs(df, threshold=0.1)
    capped = api.jaccard_near_dup_pairs(df, threshold=0.1, df_cap=2)
    assert uncapped.count() > 0
    assert capped.count() == 0  # only the shared stop-shingle linked them


@pytest.mark.parametrize(
    "query, call",
    [
        ("q_dedup_ngram_jaccard", lambda d, q: api.jaccard_near_dup_pairs(
            d, threshold=q.JACCARD_THRESHOLD)),
        ("q_dedup_ngram_jaccard_capped", lambda d, q: api.jaccard_near_dup_pairs(
            d, threshold=q.JACCARD_THRESHOLD, df_cap=q.DF_CAP)),
        ("q_dedup_containment", lambda d, q: api.containment_pairs(
            d, threshold=q.CONTAINMENT_THRESHOLD)),
    ],
)
def test_pair_api_matches_registry_query(spark, query, call):
    """The api pair wrappers and the registered queries give the same
    rows on the fixture corpus, so the two cannot drift apart again."""
    import __spark_entry__ as contract
    from conftest import SF_SMOKE

    from etl_pipeline_spark.queries import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    via_api = sorted(tuple(r) for r in call(docs, dedup).collect())
    via_query = sorted(tuple(r) for r in contract.queries()[query](spark, SF_SMOKE).collect())
    assert via_api and via_api == via_query


def test_quality_and_sampling(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = api.text_quality_features(docs)
    assert {"n_tokens", "punct_ratio", "passes_quality"} <= set(feats.columns)
    n = docs.count()
    sampled = api.hash_sample(docs, "doc_id", fraction_16ths=8).count()
    assert 0 < sampled < n
    # determinism: same rows every time
    assert api.hash_sample(docs, "doc_id", 8).count() == sampled


def test_knn_matches_registry_query(spark):
    import __spark_entry__ as contract

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    via_api = {
        (r["q_id"], r["rnk"]): r["neighbor_id"]
        for r in api.knn_cosine_topk(emb, n_queries=5, k=3).collect()
    }
    via_query = {
        (r["q_id"], r["rnk"]): r["neighbor_id"]
        for r in contract.queries()["q_knn_bruteforce_cosine"](spark, SF).collect()
        if r["q_id"] < 5 and r["rnk"] <= 3
    }
    assert via_api == via_query


def test_quantize_stats(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    stats = api.quantize_int8_stats(emb)
    row = stats.limit(1).collect()[0]
    assert row["int8_scale"] > 0
    assert row["mse_ppm"] >= 0


def test_scrub_pii_and_audit(spark):
    df = spark.createDataFrame(
        [
            (1, "write to alice@example.org or call 555-1234 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in api.scrub_pii(df).collect()}
    assert "<EMAIL>" in out[1]["text"] and "<PHONE>" in out[1]["text"]
    assert "alice@" not in out[1]["text"] and "555-1234" not in out[1]["text"]
    assert out[1]["_n_emails"] == 1 and out[1]["_n_phones"] == 1
    assert out[2]["text"] == "no pii here" and out[2]["_n_emails"] == 0


def test_stratified_hash_sample_rates(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    kept = api.stratified_hash_sample(df, "doc_id", "lang", {"en": 8, "fr": 2})
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 1000 per stratum; md5 nibbles are uniform: expect ~500 en, ~125 fr
    assert 400 < counts["en"] < 600
    assert 60 < counts["fr"] < 190
    # determinism: the same call yields the same rows
    again = api.stratified_hash_sample(df, "doc_id", "lang", {"en": 8, "fr": 2})
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_contamination_report_detects_overlap(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"), (2, "completely different text body here with words")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog"), (101, "nothing shared at all whatsoever in this one")],
        "doc_id long, text string",
    )
    rep = {r["eval_doc_id"]: r for r in api.contamination_report(train, evals).collect()}
    assert 100 in rep and rep[100]["n_contaminating_docs"] == 1
    assert rep[100]["n_shared_ngrams"] >= 4  # shared 5-gram run
    assert 101 not in rep


def test_pack_sequences_and_repetition(spark):
    docs = spark.createDataFrame(
        [(i, "en", 100) for i in range(10)], "doc_id long, lang string, n_tok long"
    )
    packed = api.pack_sequences(docs, "n_tok", budget=250)
    chunks = {r["doc_id"]: r["chunk_id"] for r in packed.collect()}
    # offsets 0,100,...,900 / 250 -> chunks 0,0,0,1,1,2,2,2,3,3
    assert [chunks[i] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]

    rep = api.repetition_score(
        spark.createDataFrame([(1, "a a a a"), (2, "w x y z")], "doc_id long, text string")
    )
    vals = {r["doc_id"]: r["repetition"] for r in rep.collect()}
    assert vals[1] == 0.75 and vals[2] == 0.0


def test_dedupe_incremental_splits_batch(spark):
    corpus = spark.createDataFrame(
        [(1, "existing document one"), (2, "existing document two")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "existing  DOCUMENT one"),   # dup of corpus doc 1 (normalized)
            (11, "a brand new document"),
            (12, "a brand new document"),     # intra-batch dup of 11
        ],
        "doc_id long, text string",
    )
    fresh, dups = api.dedupe_incremental(batch, corpus)
    assert [r["doc_id"] for r in fresh.collect()] == [11]
    # conservation (r9 review): every batch row lands in exactly one
    # side — the intra-batch extra copy (12) is a dup, not a vanish
    assert sorted(r["doc_id"] for r in dups.collect()) == [10, 12]


def test_chunk_documents_covers_every_token(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 5)), (2, " ".join(["w"] * 128)),
         (3, " ".join(["w"] * 129)), (4, " ".join(["w"] * 300))],
        "doc_id long, text string",
    )
    chunks = api.chunk_documents(docs, size=128, stride=112).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_tok = {1: 5, 2: 128, 3: 129, 4: 300}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        n = n_tok[doc_id]
        # chunk ids contiguous from 0; starts spaced by stride
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
        for r in rows:
            assert r["start_tok"] == r["chunk_id"] * 112
            assert 1 <= r["len_tok"] <= 128
            assert r["start_tok"] + r["len_tok"] <= n
        # every token index is inside at least one chunk (full coverage)
        covered = max(r["start_tok"] + r["len_tok"] for r in rows)
        assert covered == n
        # consecutive chunks overlap by size - stride (except a short tail)
        for a, b in zip(rows, rows[1:]):
            assert b["start_tok"] < a["start_tok"] + a["len_tok"]
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    assert len(by_doc[3]) == 2 and len(by_doc[4]) == 3


def test_chunk_documents_rejects_bad_stride(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        api.chunk_documents(docs, size=10, stride=0)
    with pytest.raises(ValueError):
        api.chunk_documents(docs, size=10, stride=11)


def test_token_entropy_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in api.token_entropy(docs).collect()}
    # all-same tokens -> zero entropy; uniform over 4 -> ln 4
    assert rows[1]["entropy_nats"] == 0.0
    assert abs(rows[2]["entropy_nats"] - 1.3863) < 1e-4
    assert rows[1]["n_tok"] == 4 and rows[1]["distinct_tok"] == 1
    assert rows[2]["n_tok"] == 4 and rows[2]["distinct_tok"] == 4


def test_mixture_weights_equalizes(spark):
    docs = spark.createDataFrame(
        [("en", "w " * 29 + "w"), ("fr", "w " * 9 + "w")],  # 30 vs 10 tokens
        "lang string, text string",
    )
    rows = {r["lang"]: r for r in api.mixture_weights(docs).collect()}
    assert rows["en"]["actual_share"] == 0.75
    # uniform target 0.5 -> en downweighted to 2/3, fr upweighted to 2x
    assert abs(rows["en"]["sample_weight"] - 0.6667) < 1e-4
    assert abs(rows["fr"]["sample_weight"] - 2.0) < 1e-4
    # reweighted mass is equal across strata
    en = rows["en"]["sum_tokens"] * rows["en"]["sample_weight"]
    fr = rows["fr"]["sum_tokens"] * rows["fr"]["sample_weight"]
    assert abs(en - fr) < 0.01


def test_vocab_coverage_head(spark):
    # 'a' x 9, 'b' x 1: vocab of 1 token covers 90%
    docs = spark.createDataFrame(
        [("en", "a a a a a a a a a b")], "lang string, text string"
    )
    r = api.vocab_coverage(docs, coverage=0.9).collect()[0]
    assert r["vocab_size"] == 1 and r["total_tokens"] == 10 and r["distinct_tokens"] == 2
    # full coverage needs both
    r2 = api.vocab_coverage(docs, coverage=1.0).collect()[0]
    assert r2["vocab_size"] == 2


def test_scd2_intervals_partition_chain(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-02 00:00:00", "b"),
         (2, "2024-01-05 00:00:00", "x")],
        "k long, ts_s string, v string",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    rows = sorted(
        ((r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
         for r in api.scd2_intervals(df, "k").collect())
    )
    assert rows == [
        (1, "a", "2024-01-01 00:00:00", "2024-01-02 00:00:00", False),
        (1, "b", "2024-01-02 00:00:00", "None", True),
        (2, "x", "2024-01-05 00:00:00", "None", True),
    ]


def test_priority_sample_deterministic_and_weighted(spark):
    from etl_pipeline_spark import api

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 1 + (i % 5) * 100) for i in range(40)],
        "id BIGINT, grp STRING, w BIGINT",
    )
    s1 = sorted(r.id for r in api.priority_sample(df, "w", "id", 3, "grp").collect())
    s2 = sorted(r.id for r in api.priority_sample(df, "w", "id", 3, "grp").collect())
    assert s1 == s2 and len(s1) == 6
    # heavier rows dominate the sample: with 100x weight spread, sampled
    # ids should mostly carry large weights
    sampled_w = [r.w for r in api.priority_sample(df, "w", "id", 3, "grp").collect()]
    assert sum(w > 1 for w in sampled_w) >= 5


def test_bloom_screen_no_false_negatives(spark):
    from etl_pipeline_spark import api

    probe = spark.createDataFrame([(f"k{i}",) for i in range(200)], "v STRING")
    filt = spark.createDataFrame([(f"k{i}",) for i in range(0, 200, 10)], "v STRING")
    out = api.bloom_screen(probe, "v", filt, "v", n_bits=1 << 16)
    hits = {r.v for r in out.filter("bloom_hit").collect()}
    assert {f"k{i}" for i in range(0, 200, 10)} <= hits  # every true member flagged


def test_containment_and_lm_api(spark):
    from etl_pipeline_spark import api

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa home pose"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id BIGINT, text STRING",
    )
    pairs = api.containment_pairs(docs, threshold=0.9).collect()
    directed = {(r.contained_doc, r.container_doc) for r in pairs}
    assert (1, 2) in directed and (2, 1) not in directed  # short inside long only
    lm = {r.doc_id: r for r in api.bigram_lm_scores(docs).collect()}
    assert set(lm) == {1, 2, 3}
    assert all(r.nll_bits > 0 for r in lm.values())


def test_priority_sample_global_path_is_take_ordered(spark):
    from etl_pipeline_spark import api
    from etl_pipeline_spark import plans

    df = spark.createDataFrame([(i, i + 1) for i in range(50)], "id BIGINT, w BIGINT")
    out = api.priority_sample(df, "w", "id", 5)
    plans.assert_take_ordered(out)
    assert out.count() == 5


def test_ewma_recursive_equivalence(spark):
    """Truncated EWMA equals the exact recursive EWMA when the timeline
    fits inside the frame."""
    rows = [(1, i, float(v)) for i, v in enumerate([10, 20, 10, 40])]
    df = spark.createDataFrame(rows, "uid long, seq long, value double")
    got = {
        r.seq: r.ewma
        for r in api.ewma(df, "value", "uid", ["seq"], window=16).collect()
    }
    # closed form: weights 0.5^k over the k most recent, normalized
    vals = [10, 20, 10, 40]
    for t in range(4):
        win = vals[: t + 1]
        num = sum(x * 0.5 ** (t - i) for i, x in enumerate(win))
        den = sum(0.5 ** (t - i) for i in range(t + 1))
        assert abs(got[t] - num / den) < 1e-12


def test_cms_topk_report_invariant(spark):
    df = spark.createDataFrame(
        [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + list("defghij")],
        "token string",
    )
    rep = {r.token: r for r in api.cms_topk_report(df, "token", k=5).collect()}
    assert rep["a"].exact_cnt == 5
    for r in rep.values():
        assert r.cms_est >= r.exact_cnt
        assert r.overest == r.cms_est - r.exact_cnt


def test_semdedup_prunes_near_identical(spark):
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    rows = []
    # 3 near-identical copies of base (tiny jitter), 5 random vectors
    for i in range(3):
        rows.append((i, [x + rng.uniform(-1e-3, 1e-3) for x in base]))
    for i in range(3, 8):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vid long, emb array<float>")
    kept = api.semdedup(df, "vid", "emb", k=2, tau=0.95)
    ids = sorted(r.vid for r in kept.collect())
    # exactly one of the three near-identical copies survives
    assert len([i for i in ids if i < 3]) == 1
    # all distinct vectors survive
    assert all(i in ids for i in range(3, 8))


# --- session-6 API surface ---------------------------------------------------


def test_target_encode_loo_excludes_own_row(spark):
    df = spark.createDataFrame(
        [("a", 100), ("a", 200), ("a", 300), ("b", 1000)],
        "cat string, cents long",
    )
    out = {
        (r["cat"], r["cents"]): r["enc_cents"]
        for r in api.target_encode(df, "cat", "cents", smooth=0).collect()
    }
    # LOO mean for ("a", 100) is (200+300)/2 = 250 — own row excluded
    assert out[("a", 100)] == 250
    assert out[("a", 300)] == 150


def test_gaps_islands_on_custom_sequence(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (1, 7), (1, 8), (2, 5)],
        "k long, d long",
    )
    rows = {r["k"]: r for r in api.gaps_islands(df, "k", "d").collect()}
    assert rows[1]["n_islands"] == 2
    assert rows[1]["longest_streak"] == 3
    assert rows[1]["longest_start"] == 1
    assert rows[2]["n_islands"] == 1


def test_clamped_balance_clamps_at_zero(spark):
    df = spark.createDataFrame(
        [(1, 1, 5), (1, 2, -10), (1, 3, 3), (2, 1, -4)],
        "k long, seq long, delta long",
    )
    rows = {
        r["k"]: r
        for r in api.clamped_running_balance(df, "k", ["seq"], "delta").collect()
    }
    assert rows[1]["final_balance"] == 3 and rows[1]["n_clamps"] == 1
    assert rows[1]["peak_balance"] == 5
    assert rows[2]["final_balance"] == 0 and rows[2]["n_clamps"] == 1


def test_weighted_median_lower(spark):
    df = spark.createDataFrame(
        [("g", 10, 1), ("g", 20, 1), ("g", 30, 2)],
        "k string, v long, w long",
    )
    r = api.weighted_median(df, "k", "v", "w").collect()[0]
    # cum weights: 10->1, 20->2, 30->4; total 4; first 2*cum>=4 is v=20
    assert r["weighted_median"] == 20 and r["total_weight"] == 4


def test_wordpiece_tokens_on_distinct_words(spark):
    df = spark.createDataFrame([("batch",), ("spark",)], "word string")
    rows = {r["word"]: r for r in api.wordpiece_tokens(df).collect()}
    assert rows["batch"]["pieces"] == ["bat", "##ch"]
    assert rows["spark"]["n_pieces"] == 1


def test_gopher_repetition_planted_docs(spark):
    """The two Gopher repetition rules fire on planted pathological docs
    and pass clean ones; sub-width/NULL/empty docs report 0.0 (r8)."""
    docs = spark.createDataFrame(
        [
            # top 2-gram "aa bb" covers ALL word chars -> top2 rule fires
            (1, "aa bb aa bb aa bb"),
            # 20 distinct 4-char words -> top2_frac = 8/80 = 0.1 -> keep
            (2, " ".join(f"wrd{chr(97 + i)}" for i in range(20))),
            # cyclic 5-token pattern: every 5-gram window duplicates ->
            # dup5_chars = 16 windows * 5 chars over wc=20 (overlaps
            # double-counted by the documented Dolma convention)
            (3, " ".join(["p", "q", "r", "s", "t"] * 4)),
            (4, ""),
            (5, None),
            (6, "one"),  # sub-width: no grams at all
        ],
        "id long, body string",
    )
    rows = {
        r["id"]: r
        for r in api.gopher_repetition(docs, text_col="body", id_col="id").collect()
    }
    assert len(rows) == 6
    r1 = rows[1]
    assert (r1["n_words"], r1["top2_char_frac"], r1["dup5_char_frac"]) == (6, 1.0, 0.0)
    assert not r1["keep"]
    r2 = rows[2]
    assert (r2["n_words"], r2["top2_char_frac"]) == (20, 0.1)
    assert r2["keep"]
    r3 = rows[3]
    assert (r3["n_words"], r3["top2_char_frac"], r3["dup5_char_frac"]) == (20, 0.4, 4.0)
    assert not r3["keep"]
    for i in (4, 5, 6):
        r = rows[i]
        assert (r["top2_char_frac"], r["dup5_char_frac"], r["keep"]) == (0.0, 0.0, True)


def test_unimax_allocation_custom_frame(spark):
    """Waterfill over an arbitrary (stratum, tokens) frame: tiny stratum
    caps at epoch_cap, the rest split the remainder uniformly."""
    df = spark.createDataFrame(
        [("web", 100), ("web", 14900), ("code", 100), ("books", 20000), (None, 50)],
        "domain string, n_tok long",
    )
    got = {r["domain"]: r for r in
           api.unimax_allocation(df, "domain", "n_tok", budget=50_000, epoch_cap=2).collect()}
    # caps: code 200, und 100, web 30000, books 40000
    assert got["code"]["capped"] and got["code"]["alloc_tokens"] == 200
    assert got["und"]["capped"] and got["und"]["alloc_tokens"] == 100
    # remaining 49700 // 2 = 24850 each
    assert got["web"]["alloc_tokens"] == 24850 and not got["web"]["capped"]
    assert got["books"]["alloc_tokens"] == 24850 and not got["books"]["capped"]


def test_soft_dedup_weights_custom_frame(spark):
    """Near-identical docs share weight; the unique doc keeps 1.0."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (3, "completely different text about nothing shared here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in api.soft_dedup_weights(df).collect()}
    assert got[1]["cluster_size"] == 2 and got[1]["weight"] == 0.5
    assert got[2]["cluster_id"] == got[1]["cluster_id"] and got[2]["is_dup"]
    assert got[3]["cluster_size"] == 1 and got[3]["weight"] == 1.0 and not got[3]["is_dup"]
