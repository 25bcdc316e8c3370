"""Dedup operator tests: exact, jaccard, minhash recall, simhash."""

import pytest

from worlddatapipeline_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the old river bend"),  # near-dup of 0
    (2, "completely different content about spark dataframes and shuffle joins"),
    (3, "THE QUICK  BROWN fox jumps over the lazy dog near the old river bank"),  # exact dup of 0 (normalized)
    (4, "spark shuffle partitions and adaptive execution tuning notes for jobs"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_rep = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_rep[0] == 2  # docs 0 and 3 collapse
    assert len(out) == 4


def test_ngram_jaccard_finds_near_dup(spark):
    out = dedup.ngram_jaccard_pairs(
        _docs(spark), "text", "doc_id", n=3, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert not any({a, b} & {2, 4} and {a, b} & {0, 1, 3} for a, b in pairs)


def test_minhash_candidates_recall(spark):
    """LSH candidates must contain the true near-dup pairs (high-sim docs
    collide in at least one band with overwhelming probability)."""
    cand = dedup.minhash_lsh_candidates(
        _docs(spark), "text", "doc_id", num_hashes=32, bands=16, shingle_n=3
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cand}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # jaccard ~0.8 with 16 bands of 2 rows


def test_minhash_verified_by_jaccard(spark):
    docs = _docs(spark)
    cand = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, bands=16, shingle_n=3
    )
    verified = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, candidate_pairs=cand
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in verified}
    assert (0, 3) in pairs
    for r in verified:
        assert r["jaccard"] >= 0.5


def test_simhash_near_dups(spark):
    # bands=9 guarantees (pigeonhole) any pair with hamming <= 8 collides in
    # at least one 7-bit chunk; (0,1) measures hamming 8 under the fused
    # blake2b+mix signature family.
    out = dedup.simhash_near_dups(
        _docs(spark), "text", "doc_id", max_hamming=8, bands=9
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs.get((0, 3)) == 0  # normalized-identical -> identical signature
    assert (0, 1) in pairs  # near-dup within hamming 8


def test_short_doc_yields_one_shingle():
    """A doc shorter than n words is one partial shingle over all its
    words; from n words on there is one shingle per start position."""
    import hashlib
    import re

    ws = re.compile(r"\s+")

    def ids(text):
        return dedup._doc_shingle_set(text, 5, ws, hashlib.blake2b)

    for text in ("", "a", "a b", "a  B c d"):
        assert len(ids(text)) == 1, text
    assert len(ids("a b c d e")) == 1 and len(ids("a b c d e f")) == 2
    assert ids("a b")[0] != ids("a c")[0]


def test_ngram_jaccard_max_df_drops_boilerplate(spark):
    """Docs sharing ONLY a boilerplate header pair up without the cap and
    stop pairing once the header's shingles exceed max_df; genuinely similar
    docs keep pairing either way."""
    boiler = "copyright acme corp all rights reserved "
    docs = spark.createDataFrame(
        [
            (1, boiler + "alpha beta gamma delta epsilon"),
            (2, boiler + "zeta eta theta iota kappa"),
            (3, boiler + "one two three four five six"),
            (4, boiler + "one two three four five seven"),
        ],
        "doc_id long, text string",
    )
    loose = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.05)
    loose_pairs = {(r["id_a"], r["id_b"]) for r in loose.collect()}
    assert (1, 2) in loose_pairs  # boilerplate-only overlap passes at 0.05

    capped = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.05, max_df=3
    )
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1, 2) not in capped_pairs  # header shingles df=4 > 3: dropped
    assert (3, 4) in capped_pairs  # real similarity survives the cap


def test_minhash_max_bucket_drops_degenerate_bucket(spark):
    """A corpus of many identical (empty-ish) docs lands in ONE bucket per
    band; the max_bucket skew guard must drop it before pair generation so
    the join never goes quadratic, while real near-dup pairs survive."""
    rows = [(i, "zz") for i in range(50)]  # 50 degenerate identical docs
    rows += [(100, "the quick brown fox jumps over the lazy dog tonight"),
             (101, "the quick brown fox jumps over the lazy dog tonite")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.minhash_lsh_candidates(
        df, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3, max_bucket=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (100, 101) in pairs          # real near-dups survive the guard
    assert not any(a < 100 and b < 100 for a, b in pairs)  # degenerate bucket dropped

    # with the guard off, the degenerate pairs come back (50*49/2 of them)
    out_all = dedup.minhash_lsh_candidates(
        df, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3, max_bucket=None
    ).count()
    assert out_all >= 50 * 49 // 2


def test_dup_cluster_representatives_transitive(spark):
    """A~B, B~C (no A~C pair) must land in ONE cluster with min-id rep."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["representative"]
        for r in dedup.dup_cluster_representatives(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_spans_counts(spark):
    out = dedup.duplicate_spans(_docs(spark), window=8).collect()
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"]) for r in out}
    # doc0 (14 words) = 7 windows; doc3 is its normalized exact dup -> all 7
    # windows cross-doc; doc1 differs only in the last word -> the one window
    # touching it (offset 7) is unique, the other 6 are shared with doc0/doc3.
    assert got[0] == (7, 7)
    assert got[3] == (7, 7)
    assert got[1] == (7, 6)
    assert got[2] == (2, 0)
    assert got[4] == (3, 0)


def test_duplicate_spans_short_docs_excluded(spark):
    docs = spark.createDataFrame(
        [(0, "too short for a window"), (1, "eight words exactly here one two three four")],
        ["doc_id", "text"],
    )
    out = dedup.duplicate_spans(docs, window=8).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert out[0]["n_windows"] == 1 and out[0]["n_dup_windows"] == 0


def test_chunk_dedup_rewrite_keeper_semantics(spark):
    out = dedup.chunk_dedup_rewrite(_docs(spark), chunk_words=10).collect()
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_removed_chunks"], r["new_n_chars"])
        for r in out
    }
    # doc3 normalizes to doc0's text: both its chunks removed (keeper=doc0).
    assert got[3] == (2, 2, 0)
    # doc0 is the keeper: nothing removed, rewrite length == full text length.
    assert got[0] == (2, 0, len(DOCS[0][1]))
    # doc1 shares only its first 10-word chunk with doc0; second chunk kept.
    assert got[1] == (2, 1, len("the old river bend"))
    # unique docs untouched.
    assert got[2][1] == 0 and got[4][1] == 0


def test_chunk_dedup_intra_doc_repeat_kept(spark):
    ten = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(7, ten + " " + ten)], ["doc_id", "text"]
    )
    out = dedup.chunk_dedup_rewrite(docs, chunk_words=10).collect()
    # chunk repeats twice WITHIN one doc only -> df_docs == 1 -> kept.
    assert out[0]["n_removed_chunks"] == 0 and out[0]["n_chunks"] == 2


def test_widen_passes_preshaped_frames_through(spark):
    """_widen must not add an Exchange for a frame whose physical
    partitioning is already fixed and wide (composed pipelines passing a
    localCheckpointed intermediate — VERDICT r3 #7)."""
    target = spark.sparkContext.defaultParallelism
    docs = _docs(spark)
    wide = docs.repartition(target).localCheckpoint(eager=True)
    assert dedup._widen(wide) is wide
    narrow = docs.repartition(1).localCheckpoint(eager=True)
    widened = dedup._widen(narrow)
    assert widened is not narrow
    assert "Repartition" in widened._jdf.queryExecution().optimizedPlan().toString()


def test_bucket_pairs_fans_out_each_bucket_once(spark):
    """Each pair sharing a bucket comes out once per shared bucket with
    a < b; singleton and over-max_bucket buckets emit nothing, and keep
    drops a pair before it is built."""
    from pyspark.sql import functions as F

    members = spark.createDataFrame(
        [
            ("b1", 3), ("b1", 1), ("b1", 2),   # 3 pairs
            ("b2", 5),                          # singleton: none
            ("b3", 9), ("b3", 7),               # 1 pair
            ("big", 10), ("big", 11), ("big", 12), ("big", 13),  # > max_bucket
        ],
        "bk string, id long",
    )

    def pair(x, y):
        return F.struct(x.alias("a"), y.alias("b"))

    def pairs(**kw):
        out = dedup.bucket_pairs(members, ["bk"], "id", pair, **kw).collect()
        return sorted((r["a"], r["b"]) for r in out)

    assert pairs(max_bucket=3) == [(1, 2), (1, 3), (2, 3), (7, 9)]
    assert len(pairs()) == 4 + 6  # unguarded: the 4-member bucket's 6 pairs
    assert pairs(max_bucket=3, keep=lambda x, y: y - x == 1) == [(1, 2), (2, 3)]


def test_ngram_jaccard_all_candidates_equals_default_path(spark):
    """Verifying every doc pair as a candidate returns exactly the rows of
    the prefix-filtered default path, jaccard included."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    every = a.join(b, F.col("id_a") < F.col("id_b"))
    for threshold in (0.3, 0.5, 0.8):
        default = dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=threshold
        ).collect()
        verified = dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=threshold,
            candidate_pairs=every,
        ).collect()
        assert default, threshold
        assert sorted(map(tuple, verified)) == sorted(map(tuple, default))
