from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.functions.text import (
    duplicate_line_fraction,
    duplicate_ngram_fraction,
    lang_id,
    normalized_fingerprint,
    quality_score,
    token_count,
    top_ngram_fraction,
    winnow_fingerprints,
    word_shingles,
)
from distributed_pagerank_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
)

SF = "/root/testdata/sf0.001"

DOCS = [
    (1, "the cat sat on the mat and looked at the dog"),
    (2, "the cat sat on the mat and looked at the dog"),          # exact dup of 1
    (3, "the cat sat on the mat and stared at the dog"),          # near dup of 1
    (4, "der hund und die katze ist das haus der tiere und mehr"),
    (5, "completely different words entirely unrelated content here"),
    (6, "THE CAT SAT ON THE MAT, AND LOOKED AT THE DOG!"),        # dup after norm
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_count(spark, docs):
    rows = {r.doc_id: r.n for r in docs.select("doc_id", token_count("text").alias("n")).collect()}
    assert rows[1] == 11
    empty = spark.createDataFrame([(1, ""), (2, "  "), (3, "one")], "doc_id long, text string")
    got = {r.doc_id: r.n for r in empty.select("doc_id", token_count("text").alias("n")).collect()}
    assert got == {1: 0, 2: 0, 3: 1}


def test_lang_id(spark, docs):
    got = {r.doc_id: r.lang for r in docs.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[4] == "de"
    assert got[5] == "und"


def test_quality_score_bounds(spark, docs):
    rows = docs.select(quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_exact_dedup(spark, docs):
    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["n_docs"] == 3  # 1, 2, and 6 (normalization)
    assert dups[0]["keep_id"] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = df.select(word_shingles("text", 3).alias("s")).first()["s"]
    assert sorted(got) == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(word_shingles("text", 3).alias("s")).first()["s"] == []


def test_repetition_metrics(spark):
    rows = [
        # 4 non-blank lines, 'dup' repeated 3x → 2/4 duplicates
        (1, "dup\ndup\nunique line\ndup"),
        (2, "a b a b a b"),          # 2-grams: ab ba ab ba ab → top 'a b' 3/5
        (3, "w x y z"),              # no repetition at all
        (4, ""),                     # empty → all zeros
        (5, None),                   # null → all zeros
        (6, "  \n \n"),              # only blank lines → 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dl, r.dg, r.tg)
        for r in df.select(
            "doc_id",
            duplicate_line_fraction("text").alias("dl"),
            duplicate_ngram_fraction("text", 2).alias("dg"),
            top_ngram_fraction("text", 2).alias("tg"),
        ).collect()
    }
    assert got[1][0] == pytest.approx(0.5)
    assert got[2] == (
        pytest.approx(0.0),
        pytest.approx(3 / 5),        # 'a b' and 'b a' each repeat
        pytest.approx(3 / 5),        # 'a b' occurs 3 of 5
    )
    assert got[3] == (0.0, 0.0, pytest.approx(1 / 3))  # all distinct, max 1
    assert got[4] == (0.0, 0.0, 0.0)
    assert got[5] == (0.0, 0.0, 0.0)
    assert got[6][0] == 0.0


def test_jaccard_pairs(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and math.isclose(pairs[(1, 2)], 1.0)
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_minhash_estimates_jaccard(spark, docs):
    exact = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, threshold=0.3).collect()}
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.3, num_hashes=128, bands=32).collect()
    }
    assert (1, 2) in approx and approx[(1, 2)] == 1.0
    assert (1, 3) in approx
    assert abs(approx[(1, 3)] - exact[(1, 3)]) < 0.25  # 128 hashes ≈ ±0.09 σ


def test_minhash_deterministic_across_partitioning(spark, docs):
    s1 = {r.id: tuple(r.sig) for r in minhash_signatures(docs, 32).collect()}
    s2 = {r.id: tuple(r.sig) for r in minhash_signatures(docs.repartition(5), 32).collect()}
    assert s1 == s2


def test_simhash_pairs(spark, docs):
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert (1, 2) in got and got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 10
    assert not any({a, b} == {1, 5} for a, b in got)


def test_winnow_fingerprints(spark, docs):
    fp = docs.select("doc_id", winnow_fingerprints("text").alias("fp"))
    got = {r.doc_id: set(r.fp) for r in fp.collect()}
    assert got[1] == got[2]            # identical docs → identical sketch
    inter = len(got[1] & got[3]) / len(got[1] | got[3])
    assert inter > 0.3                 # near dups share most fingerprints
    assert len(got[1] & got[5]) == 0   # unrelated docs share none


def test_fingerprint_normalization(spark, docs):
    fp = {r.doc_id: r.f for r in docs.select("doc_id", normalized_fingerprint("text").alias("f")).collect()}
    assert fp[1] == fp[6] == fp[2]
    assert fp[1] != fp[3]


def test_on_real_documents_table(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select(
        "doc_id",
        token_count("text").alias("tokens"),
        lang_id("text").alias("pred_lang"),
        quality_score("text").alias("q"),
    )
    rows = out.collect()
    assert len(rows) == 500
    assert all(r.tokens > 0 and 0 <= r.q <= 1 for r in rows)


def test_md5_hash_mode_matches_xxhash_semantics(spark, docs):
    """hash_fn='md5' (the SQL-twinnable 60-bit hash) must preserve operator
    semantics: identical docs estimate 1.0, signatures deterministic."""
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, threshold=0.3, num_hashes=64, bands=16, hash_fn="md5"
        ).collect()
    }
    assert approx[(1, 2)] == 1.0
    s1 = {r.id: tuple(r.sig) for r in minhash_signatures(docs, 16, hash_fn="md5").collect()}
    s2 = {r.id: tuple(r.sig) for r in
          minhash_signatures(docs.repartition(5), 16, hash_fn="md5").collect()}
    assert s1 == s2
    sim = {(r.id_a, r.id_b): r.hamming for r in
           simhash_pairs(docs, max_hamming=3, bits=60, hash_fn="md5").collect()}
    assert sim[(1, 2)] == 0


def test_simhash_pigeonhole_complete_for_any_hamming(spark, docs):
    """max_hamming+1 chunks ⇒ candidate generation is complete for every
    max_hamming: the banded result equals brute force over signatures."""
    from distributed_pagerank_spark.operators.dedup import simhash_signatures
    mask = (1 << 64) - 1  # signed long → unsigned popcount
    for h in (5, 8):
        sigs = {r.id: r.simhash for r in simhash_signatures(docs).collect()}
        brute = {
            (a, b): bin((sigs[a] ^ sigs[b]) & mask).count("1")
            for a in sigs for b in sigs if a < b
            and bin((sigs[a] ^ sigs[b]) & mask).count("1") <= h
        }
        got = {(r.id_a, r.id_b): r.hamming
               for r in simhash_pairs(docs, max_hamming=h).collect()}
        assert got == brute, h


def test_jaccard_df_cap(spark, docs):
    """Hot-shingle cap: df_cap=1 removes every shared shingle (a shared
    shingle has df≥2) → no pairs; a high cap changes nothing."""
    assert jaccard_pairs(docs, threshold=0.1, max_shingle_df=1).count() == 0
    uncapped = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r.id_a, r.id_b) for r in
              jaccard_pairs(docs, threshold=0.5, max_shingle_df=10**6).collect()}
    assert uncapped == capped


def test_near_dup_clusters_transitive(spark):
    from distributed_pagerank_spark.operators.dedup import near_dup_clusters

    # A~B and B~C by pair list, A~C never emitted; D is a singleton.
    docs = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c"), (40, "d")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in near_dup_clusters(spark, docs, pairs=pairs).collect()
    }
    assert out == {10: (10, 1), 20: (10, 0), 30: (10, 0), 40: (40, 1)}


def test_near_dup_clusters_foreign_pair_ids_still_keep_one(spark):
    """Caller-supplied pairs may reference ids absent from df; if the
    cluster's min id is foreign, the cluster must STILL keep exactly one
    present survivor (the min present id), not zero."""
    from distributed_pagerank_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(1000, "a"), (2000, "b"), (3000, "c")], "doc_id long, text string"
    )
    # id 5 is foreign and is the cluster min; 3000 is a singleton
    pairs = spark.createDataFrame(
        [(5, 1000), (1000, 2000)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in near_dup_clusters(spark, docs, pairs=pairs).collect()
    }
    # the foreign min still NAMES the cluster, but the survivor is the
    # smallest PRESENT member
    assert out == {1000: (5, 1), 2000: (5, 0), 3000: (3000, 1)}


def test_near_dup_clusters_from_lsh(spark, docs):
    from distributed_pagerank_spark.operators.dedup import near_dup_clusters

    out = near_dup_clusters(spark, docs, threshold=0.5).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == len(DOCS)  # every doc classified
    # docs 1/2/6 are (near-)identical after normalization? LSH works on raw
    # shingles, so at least the exact dup pair 1-2 must cluster together.
    assert by_id[2].cluster_id == by_id[1].cluster_id
    assert by_id[1].keep == 1 and by_id[2].keep == 0
    # singleton docs keep themselves
    assert by_id[5].cluster_id == 5 and by_id[5].keep == 1
    # exactly one survivor per cluster, and it's the min id
    import collections
    clusters = collections.defaultdict(list)
    for r in out:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        keeps = [m.doc_id for m in members if m.keep == 1]
        assert keeps == [min(m.doc_id for m in members)] == [cid]


def test_near_dup_clusters_releases_the_pairs_it_made(spark, docs, tmp_path):
    """With no ``pairs`` given, the MinHash pairs it makes are released
    once CC has returned: only the result's leaves stay cached. (The docs
    are read from Parquet: a ``createDataFrame`` table would be an
    uncached RDD leaf of the result.)"""
    from distributed_pagerank_spark.operators.dedup import near_dup_clusters
    from tests.conftest import collect_owned

    docs.write.parquet(str(tmp_path / "docs"))
    stored = spark.read.parquet(str(tmp_path / "docs"))
    rows = collect_owned(
        spark, lambda: near_dup_clusters(spark, stored, threshold=0.5))
    by_id = {r.doc_id: (r.cluster_id, r.keep) for r in rows}
    assert len(by_id) == len(DOCS)
    assert by_id[2] == (1, 0) and by_id[5] == (5, 1)
