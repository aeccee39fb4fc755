"""Unit tests: eval metrics, dedup family, similarity search, text stats."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nametag3_spark.eval.spans import macro_avg_f1, per_type_prf, span_prf
from nametag3_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def spans(spark):
    # gold: 3 entities; system: 2 correct, 1 wrong-boundary, 1 spurious
    gold = spark.createDataFrame(
        [
            ("c1", 0, 0, 1, "PER"),
            ("c1", 0, 3, 3, "LOC"),
            ("c1", 1, 0, 0, "ORG"),
        ],
        "conv_id string, turn_idx int, start_tok int, end_tok int, label string",
    )
    system = spark.createDataFrame(
        [
            ("c1", 0, 0, 1, "PER"),   # correct
            ("c1", 0, 3, 3, "LOC"),   # correct
            ("c1", 1, 0, 1, "ORG"),   # boundary error
            ("c1", 1, 4, 4, "MISC"),  # spurious
        ],
        "conv_id string, turn_idx int, start_tok int, end_tok int, label string",
    )
    return system, gold


def test_span_prf(spark, spans):
    system, gold = spans
    row = span_prf(system, gold).collect()[0]
    assert row["correct"] == 2 and row["retrieved"] == 4 and row["gold"] == 3
    assert row["precision"] == 0.5
    assert row["recall"] == 2 / 3
    # f1 = 2PR/(P+R), computed exactly as compare_nested_entities.py:52
    p, r = 0.5, 2 / 3
    assert math.isclose(row["f1"], 2 * p * r / (p + r))


def test_span_prf_multiset_semantics(spark):
    """Duplicate identical spans count with multiplicity (Counter &)."""
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "conv_id string, turn_idx int, start_tok int, end_tok int, label string",
    )
    gold = mk([("c", 0, 0, 0, "X"), ("c", 0, 0, 0, "X")])
    system = mk([("c", 0, 0, 0, "X")])
    row = span_prf(system, gold).collect()[0]
    assert row["correct"] == 1 and row["gold"] == 2 and row["retrieved"] == 1


def test_per_type_prf_rollup(spark, spans):
    system, gold = spans
    rows = {r["label"]: r for r in per_type_prf(system, gold).collect()}
    assert rows["PER"]["precision"] == 1.0
    assert rows["ORG"]["precision"] == 0.0 and rows["ORG"]["recall"] == 0.0
    micro = rows[None]  # rollup row
    assert micro["correct"] == 2 and micro["retrieved"] == 4


def test_per_type_and_length_cube(spark, spans):
    from nametag3_spark.eval.spans import per_type_and_length_prf

    system, gold = spans
    rows = {
        (r["label"], r["len_class"]): r
        for r in per_type_and_length_prf(system, gold).collect()
    }
    # grand total row (both cube dims null)
    assert rows[(None, None)]["correct"] == 2
    assert rows[(None, None)]["retrieved"] == 4
    # PER gold span (0,1) is twoword and matched
    assert rows[("PER", "twoword")]["correct"] == 1
    # length rollup alone
    assert rows[(None, "oneword")]["gold"] == 2


def test_confusion_matrix(spark):
    from nametag3_spark.eval.spans import confusion_matrix

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "conv_id string, turn_idx int, start_tok int, end_tok int, label string",
    )
    gold = mk([("c", 0, 0, 1, "PER"), ("c", 0, 3, 3, "LOC")])
    system = mk([("c", 0, 0, 1, "ORG"), ("c", 0, 3, 3, "LOC")])
    conf = {
        (r["gold_label"], r["sys_label"]): r["n"]
        for r in confusion_matrix(system, gold).collect()
    }
    assert conf == {("PER", "ORG"): 1, ("LOC", "LOC"): 1}


def test_macro_avg(spark):
    per_corpus = spark.createDataFrame(
        [("a", 0.8), ("b", 0.6)], "corpus string, f1 double"
    )
    assert macro_avg_f1(per_corpus).collect()[0]["macro_avg_f1"] == pytest.approx(0.7)


# ------------------------------------------------------------------ dedup

def test_dedup_exact(spark):
    from nametag3_spark.operators.dedup import dedup_exact

    docs = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world "), (3, "different")],
        "doc_id long, text string",
    )
    rows = {r["keep_id"]: r["dup_count"] for r in dedup_exact(docs).collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    from nametag3_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),          # near-dup of 1
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(p in {(1, 2)} for p in pairs)


def test_simhash_near_dups_share_bucket(spark):
    from nametag3_spark.operators.dedup import simhash_buckets

    base = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "zz qq xx yy ww vv uu tt ss rr")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash_buckets(docs).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    # near-dup → few flipped bits; unrelated → ~32 flipped bits
    assert hamming(rows[1], rows[2]) <= 6
    assert hamming(rows[1], rows[3]) >= 16
    # deterministic across runs
    rows2 = {r["doc_id"]: r["simhash"] for r in simhash_buckets(docs).collect()}
    assert rows2[1] == rows[1]


def test_simhash_pairs_band_recall_exact(spark):
    """With max_hamming < n_bands the banded candidate set must contain
    EVERY pair within the Hamming bound (pigeonhole) — so the blocked
    operator equals a brute-force all-pairs scan over the fingerprints,
    on both the fast and the portable word hash."""
    from nametag3_spark.operators.dedup import simhash, simhash_pairs

    base = " ".join(f"word{i}" for i in range(60))
    rows = [(i, base + " " + " ".join(f"x{i}y{j}" for j in range(i % 4))) for i in range(1, 9)]
    rows += [(100 + i, f"zz{i} qq{i} xx yy ww vv uu tt") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for wh, n_bits in [("xxhash64", 64), ("portable", 60)]:
        fp = {r["doc_id"]: r["simhash"] for r in simhash(docs, word_hash=wh).collect()}
        brute = {
            (a, b, bin((fp[a] ^ fp[b]) & (2**n_bits - 1)).count("1"))
            for a in fp for b in fp
            if a < b and bin((fp[a] ^ fp[b]) & (2**n_bits - 1)).count("1") <= 3
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs(docs, max_hamming=3, n_bands=4, word_hash=wh).collect()
        }
        assert got == brute, wh
        assert len(got) > 0, wh  # the near-dup cluster must actually pair


def test_simhash_pairs_rejects_unattainable_recall(spark):
    import pytest

    from nametag3_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=4, n_bands=4)


def test_ngram_jaccard_pairs(spark):
    from nametag3_spark.operators.dedup import ngram_jaccard_pairs

    a = spark.createDataFrame([(1, "a b c d e")], "k long, text string")
    b = spark.createDataFrame([(1, "a b c d x")], "k long, text string")
    row = ngram_jaccard_pairs(a, b, ["k"]).collect()[0]
    # shingles a: {abc,bcd,cde}, b: {abc,bcd,cdx} → 2/4
    assert row["jaccard"] == pytest.approx(0.5)


def test_minhash_portable_hash_finds_same_near_dups(spark):
    """The portable (md5/affine-mod-P) hash family must find the same
    clear near-dup pair as the xxhash64 fast path — the band hashes
    differ, the verified-pairs semantics must not."""
    from nametag3_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    for mode in ("xxhash64", "portable"):
        pairs = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in minhash_lsh_pairs(
                docs, jaccard_threshold=0.5, word_hash=mode
            ).collect()
        }
        # true shingle Jaccard of (1,2): doc1 has 12 shingles, doc2 13,
        # sharing 12 → 12/13; both hash families must verify exactly it
        assert pairs == {(1, 2, round(12 / 13, 6))}, mode


def test_dedup_keep_list_transitive_components(spark):
    """keep list = min doc id per CONNECTED component (A~B, B~C ⇒ C keeps
    A's id even though (A,C) is not a pair), singletons keep themselves."""
    from nametag3_spark.operators.dedup import dedup_keep_list

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 9, 10)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 10)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["keep_id"], r["is_dup"])
        for r in dedup_keep_list(docs, pairs).collect()
    }
    assert got == {
        1: (1, False),
        2: (1, True),
        3: (1, True),   # transitive via 2
        7: (7, False),  # singleton
        9: (9, False),
        10: (9, True),
    }


def test_keep_list_composes_with_lsh_pairs(spark):
    """The production composition: banded-MinHash pairs feed the keep
    list — the near-dup drops, the unrelated doc and the kept original
    survive."""
    from nametag3_spark.operators.dedup import dedup_keep_list, minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {
        r["doc_id"]: (r["keep_id"], r["is_dup"])
        for r in dedup_keep_list(docs, pairs).collect()
    }
    assert got == {1: (1, False), 2: (1, True), 3: (3, False)}


# -------------------------------------------------------------- similarity

def test_cosine_topk_exact(spark):
    from nametag3_spark.operators.similarity import cosine_topk_bruteforce

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.where(F.col("vec_id") == 0)
    rows = cosine_topk_bruteforce(vecs, q, k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert ranked == [1, 2]
    assert rows[0]["cosine"] <= 1.0001


def test_lsh_ann_recall_vs_bruteforce(spark):
    """LSH top-k must recover most of the exact top-k on real embeddings."""
    from nametag3_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(emb, q, k=3, n_planes=3, n_tables=12).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall}"


def test_ivf_topk_recall_and_determinism(spark):
    """IVF top-k recovers most of the exact top-k, centroid training is
    deterministic (hash-ordered sample, fixed init), and full-probe IVF
    (nprobe == n_centroids) is EXACTLY brute force — every corpus vector
    becomes a candidate, so only the re-scoring decides."""
    from nametag3_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, q, k=3).collect()
    }

    c1 = train_ivf_centroids(emb, n_centroids=8)
    c2 = train_ivf_centroids(emb, n_centroids=8)
    assert c1 == c2  # deterministic across invocations

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, q, k=3, n_centroids=8, nprobe=3, centroids=c1
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall}"

    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, q, k=3, n_centroids=8, nprobe=8, centroids=c1
        ).collect()
    }
    assert full == exact


def test_ivf_centroids_cross_engine_bit_identical(spark):
    """The DuckDB oracle trainer must rebuild EXACTLY the centroids the
    Spark trainer produces under the portable sample hash — that bit
    identity is what makes the ivf_recall oracle's shipped centroid
    literals a faithful twin rather than an approximation."""
    from nametag3_spark.operators.similarity import (
        train_ivf_centroids,
        train_ivf_centroids_duckdb,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    a = train_ivf_centroids(emb, n_centroids=8, sample_hash="portable")
    b = train_ivf_centroids_duckdb(path, n_centroids=8)
    assert a == b


# -------------------------------------------------------------- text stats

def test_quality_and_langid(spark):
    from nametag3_spark.operators.textstats import language_id, quality_features

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house of friends"),
            (2, "el perro y el gato en la casa de los amigos"),
            (3, "zz"),
        ],
        "doc_id long, text string",
    )
    lang = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert lang[1] == "en" and lang[2] == "es" and lang[3] == "und"

    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[1]["quality_score"] > q[3]["quality_score"]
    assert q[1]["stopword_ratio"] > 0


def test_fingerprint_order_sensitive(spark):
    from nametag3_spark.operators.textstats import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]


def test_token_counts(spark):
    from nametag3_spark.operators.textstats import (
        subword_count_estimate,
        token_count,
    )

    docs = spark.createDataFrame([(1, "hello worldwide x")], "doc_id long, text string")
    row = docs.select(
        token_count().alias("n"), subword_count_estimate().alias("s")
    ).collect()[0]
    assert row["n"] == 3
    # ceil(5/4)+ceil(9/4)+ceil(1/4) = 2+3+1
    assert row["s"] == 6


def _legacy_minhash_signatures(docs, n_hashes):
    """The original per-doc array MinHash (the legacy reference): distinct
    word-3-gram shingle array ``_sh`` plus the interpreted higher-order-
    function signature ``transform(0..n-1, p -> array_min(transform(hs,
    h -> xxhash64(h, p))))`` over the xxhash64'd shingles. (The inner
    lambda takes ONE arg on purpose: 2-arg lambdas mean (element, index),
    which would rebind the permutation id.)"""
    from pyspark.sql import functions as F

    from nametag3_spark.operators.dedup import _word_shingles

    hs = F.transform(F.col("_sh"), lambda s: F.xxhash64(s))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda p: F.array_min(F.transform(hs, lambda h: F.xxhash64(h, p))),
    )
    return (
        docs.withColumn("_sh", _word_shingles("text", 3))
        .where(F.size("_sh") > 0)
        .select(F.col("doc_id"), F.col("_sh"), sig.alias("sig"))
    )


def test_minhash_idonly_equals_legacy_fat_join(spark):
    """The id-only band-join rewrite must emit exactly the pairs the
    original fat-payload band join emitted (same bands, same verify)."""
    from pyspark.sql import functions as F

    from nametag3_spark.operators.dedup import (
        N_BANDS,
        N_HASHES,
        minhash_lsh_pairs,
    )

    rows_per_band = N_HASHES // N_BANDS

    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta " + ("x%d" % (i % 7)))
        for i in range(60)
    ] + [(100 + i, "totally different words here number %d ok fine" % i) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # legacy shape: shingles ride the band join
    sigs = _legacy_minhash_signatures(docs, N_HASHES)
    bands = sigs.select(
        "doc_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "_sh", "band.band_idx", "band.band_hash")
    legacy = (
        bands.select("band_idx", "band_hash", F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
        .join(
            bands.select("band_idx", "band_hash", F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sh_b")),
            ["band_idx", "band_hash"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh_a", "_sh_b")) / F.size(F.array_union("_sh_a", "_sh_b")),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )
    new = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    legacy_set = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in legacy.collect()}
    new_set = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in new.collect()}
    assert new_set == legacy_set
    assert len(new_set) > 0


def test_minhash_hot_bucket_cap_skips(spark):
    """Buckets above bucket_cap are skipped entirely (skew guard)."""
    from nametag3_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "same same same same text everywhere") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # identical docs → one bucket of 30 per band; cap below that skips all
    assert minhash_lsh_pairs(docs, jaccard_threshold=0.5, bucket_cap=10).count() == 0
    assert minhash_lsh_pairs(docs, jaccard_threshold=0.5, bucket_cap=100).count() == 30 * 29 // 2


def test_jaccard_exact_superset_of_lsh_and_recall_row(spark):
    from nametag3_spark.operators.dedup import (
        jaccard_pairs_exact,
        minhash_lsh_pairs,
        minhash_recall,
    )

    rows = [
        (i, "the quick brown fox jumps over the lazy dog variant %d" % (i % 5))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in jaccard_pairs_exact(docs, jaccard_threshold=0.6).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()}
    assert lsh <= exact  # LSH never invents a pair (both verify true jaccard)
    assert len(exact) > 0
    r = minhash_recall(docs, jaccard_threshold=0.6).collect()[0]
    assert r["n_exact"] == len(exact)
    assert r["n_lsh"] == len(lsh)
    assert r["n_hit"] == len(lsh)  # verified LSH pairs are all true pairs
    assert 0.0 <= r["recall"] <= 1.0
    assert r["precision"] == 1.0


def test_cnec_eval_three_levels(spark):
    """Hand-checked Type/Suptype/Span example mirroring the reference
    eval's set semantics (compare_ne_outputs_v3_corrected.pl)."""
    from nametag3_spark.eval.spans import cnec_eval

    cols = "conv_id string, turn_idx int, start_tok int, end_tok int, label string"
    # gold: span A has classes {pf, pm}; span B has {gc}
    gold = spark.createDataFrame(
        [("c", 0, 0, 1, "pf"), ("c", 0, 0, 1, "pm"), ("c", 0, 3, 3, "gc")], cols
    )
    # system: span A {pf, ps} (1 type hit; suptype {p} hits gold {p});
    # span C {gc} (no gold span) — span level: A hits, C misses
    system = spark.createDataFrame(
        [("c", 0, 0, 1, "pf"), ("c", 0, 0, 1, "ps"), ("c", 0, 5, 6, "gc")], cols
    )
    rows = {r["metric"]: r for r in cnec_eval(system, gold).collect()}
    # type: gold pairs 3, sys pairs 3, matched (A,pf) = 1
    assert (rows["type"]["gold_n"], rows["type"]["retrieved"], rows["type"]["correct_retrieved"]) == (3, 3, 1)
    # suptype: gold (A,p),(B,g)=2; sys (A,p),(C,g)=2; matched (A,p)=1
    assert (rows["suptype"]["gold_n"], rows["suptype"]["retrieved"], rows["suptype"]["correct_retrieved"]) == (2, 2, 1)
    # span: gold {A,B}, sys {A,C}, matched {A}
    assert (rows["span"]["gold_n"], rows["span"]["retrieved"], rows["span"]["correct_retrieved"]) == (2, 2, 1)
    assert abs(rows["type"]["f1"] - (2 * (1 / 3) * (1 / 3) / (2 / 3))) < 1e-9


def test_token_accuracy(spark):
    from nametag3_spark.eval.spans import token_accuracy

    cols = "conv_id string, turn_idx int, token_idx int, label string"
    gold = spark.createDataFrame(
        [("c", 0, i, "B-P" if i % 2 else "O") for i in range(10)], cols
    )
    system = spark.createDataFrame(
        [("c", 0, i, "B-P" if i % 2 else ("X" if i == 0 else "O")) for i in range(10)],
        cols,
    )
    r = token_accuracy(system, gold).collect()[0]
    assert (r["n_tokens"], r["n_correct"]) == (10, 9)
    assert abs(r["accuracy"] - 0.9) < 1e-9


def test_quality_filter_rules_and_reasons(spark):
    """Each Gopher/C4 rule binds independently; reasons list the failed
    rules in fixed order and keep == (no rule failed)."""
    from nametag3_spark.operators.textstats import quality_filter

    docs = spark.createDataFrame(
        [
            # 0: passes everything (>=5 words, mean len in range, stopword)
            (0, "the quick brown foxes jumped over those lazy sleeping dogs"),
            # 1: too short
            (1, "the cat"),
            # 2: no stopwords + inflated mean word length
            (2, "zzzzzzzzzzzz yyyyyyyyyyyy xxxxxxxxxxxx wwwwwwwwwwww vvvvvvvvvvvv"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality_filter(
            docs, min_words=5, max_mean_word_len=8.0, min_stop_hits=1
        ).collect()
    }
    assert out[0]["keep"] and out[0]["reasons"] == ""
    # doc 1: 2 words (< 5), has 'the' and mean len 3.0 (in range)
    assert not out[1]["keep"] and out[1]["reasons"] == "too_short"
    assert out[1]["n_words"] == 2 and out[1]["stop_hits"] == 1
    # doc 2: exactly 5 words (passes count), 12-char words (> 8.0 mean),
    # zero stopwords — both remaining rules fail, in fixed order
    assert not out[2]["keep"]
    assert out[2]["reasons"] == "word_len,low_stopword"


@pytest.mark.parametrize("cap", [None, 4])
@pytest.mark.parametrize("carry", [None, ["fp"]])
def test_bucket_pairs_matches_python_blocking(spark, cap, carry):
    """The one blocked-pair join equals a Python brute-force blocking:
    every distinct id pair (a < b) sharing a (tbl, bucket) that holds at
    most ``cap`` rows, with the carry column re-labelled per side."""
    import random
    from collections import defaultdict
    from itertools import combinations

    from nametag3_spark.operators.dedup import bucket_pairs

    rng = random.Random(7)
    rows = [
        (i, t, rng.randrange(6), i * 7 + 1) for i in range(30) for t in range(2)
    ]
    df = spark.createDataFrame(rows, "id long, tbl int, bucket int, fp long")

    members = defaultdict(list)
    for i, t, b, _ in rows:
        members[(t, b)].append(i)
    want = set()
    for ids in members.values():
        if cap is None or len(ids) <= cap:
            for a, b in combinations(sorted(ids), 2):
                want.add((a, b, a * 7 + 1, b * 7 + 1) if carry else (a, b))
    assert any(len(v) > 4 for v in members.values())  # the cap bites

    out = bucket_pairs(df, "id", ["tbl", "bucket"], cap, carry)
    cols = ["id_a", "id_b", "fp_a", "fp_b"] if carry else ["id_a", "id_b"]
    assert sorted(out.columns) == sorted(cols)
    got = [tuple(r[c] for c in cols) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want and want


def test_blocking_join_code_appears_once():
    """The pair dedup, the per-query top-k window and the cosine quotient
    each exist once in the package: a hand-copied blocking join, ANN
    tail or cosine fails this."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "nametag3_spark"
    src = "".join(f.read_text() for f in sorted(pkg.rglob("*.py")))
    for snippet in (
        '.dropDuplicates(["id_a", "id_b"])',
        'Window.partitionBy("query_id")',
        "/ (_norm(",
    ):
        assert src.count(snippet) == 1, snippet


_UNKNOWN_FAMILY = {
    "minhash_lsh_pairs": lambda d, e: dedup.minhash_lsh_pairs(d, word_hash="Portable"),
    "minhash_recall": lambda d, e: dedup.minhash_recall(d, word_hash="Portable"),
    "simhash": lambda d, e: dedup.simhash(d, word_hash="Portable"),
    "simhash_buckets": lambda d, e: dedup.simhash_buckets(d, word_hash="xxhash"),
    "simhash_pairs": lambda d, e: dedup.simhash_pairs(d, word_hash="Portable"),
    "embedding_near_dup_pairs": lambda d, e: similarity.embedding_near_dup_pairs(
        e, plane_hash="Portable"
    ),
    "lsh_bucket_topk": lambda d, e: similarity.lsh_bucket_topk(
        e, e, plane_hash="Portable"
    ),
    "train_ivf_centroids": lambda d, e: similarity.train_ivf_centroids(
        e, sample_hash="Portable"
    ),
    "fingerprint": lambda d, e: textstats.fingerprint(d, word_hash="Polynomial"),
}


@pytest.mark.parametrize("name", list(_UNKNOWN_FAMILY))
def test_unknown_hash_family_rejected(spark, name):
    """A hash-family name outside a function's two families raises on the
    driver instead of silently running the default family."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="expected one of"):
        _UNKNOWN_FAMILY[name](docs, emb)
