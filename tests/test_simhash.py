"""Simhash (D1) + Manku block-permutation candidates (D2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark import simhash as sh


def _sign(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    return df.withColumn("simhash", sh.simhash64(F.col("text")))


def test_simhash_deterministic(spark):
    a = {r["doc_id"]: r["simhash"]
         for r in _sign(spark, ["hello world foo", "bar baz"]).collect()}
    b = {r["doc_id"]: r["simhash"]
         for r in _sign(spark, ["hello world foo", "bar baz"]).collect()}
    assert a == b


def test_simhash_similar_texts_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base + "extra token"
    far = "completely different content about spark shuffles and parquet files"
    rows = {r["doc_id"]: r["simhash"]
            for r in _sign(spark, [base, near, far]).collect()}
    d_near = bin((rows[0] ^ rows[1]) & ((1 << 64) - 1)).count("1")
    d_far = bin((rows[0] ^ rows[2]) & ((1 << 64) - 1)).count("1")
    assert d_near < d_far


def test_block_pairs_cover_hamming3():
    """3 flipped bits leave ≥2 of 5 blocks intact → some table matches
    (dedup_util.cc:12-55 guarantee)."""
    assert len(sh.BLOCK_PAIRS) == 10
    widths = [hi - lo for lo, hi in sh.BLOCK_BOUNDS]
    assert sum(widths) == 64 and widths == [13, 13, 13, 13, 12]


def test_candidates_find_near_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    # identical text → hamming 0 (guaranteed candidate); synthetic
    # few-token perturbations drift many bits (tie-heavy votes), which is
    # why the recall guarantee is tested exhaustively below instead
    texts = [base, base, "unrelated words entirely different content " * 8]
    docs = _sign(spark, texts)
    pairs = sh.simhash_candidates(docs, "doc_id", "simhash", max_hamming=3)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(p[1] != 2 and p[0] != 2 for p in got)


def test_candidates_exhaustive_recall(spark):
    """Differential vs brute force: every pair within hamming ≤3 must be
    found by the block index (the Manku recall guarantee)."""
    import itertools

    base = "w%d"
    texts = [" ".join(base % (i * 17 + j) for j in range(40)) for i in range(12)]
    # clone a few docs with small perturbations
    texts += [texts[0] + " tweak", texts[5] + " nudge"]
    docs = _sign(spark, texts).cache()
    signs = {r["doc_id"]: r["simhash"] for r in docs.collect()}
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(signs), 2)
        if bin((signs[a] ^ signs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {(r["a"], r["b"])
           for r in sh.simhash_candidates(docs, "doc_id", "simhash").collect()}
    assert got == brute


# --------------------------------------------------------------------------
# tf·idf-weighted simhash (D1 full fidelity) + D3 assign-onto-linkbase
# --------------------------------------------------------------------------

def _py_weighted_simhash(text: str, idf: dict[str, float],
                         default_idf: float = 1.0) -> int:
    """Independent pure-Python twin of the weighted UDF."""
    from collections import Counter

    votes = [0.0] * 64
    for term, tf in Counter(text.split()).items():
        h = sh._token_hash64(term)
        w = tf * idf.get(term, default_idf)
        for b in range(64):
            bit = (h >> (63 - b)) & 1
            votes[b] += w if bit else -w
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << (63 - b)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_weighted_simhash_matches_python_twin(spark):
    idf = {"rare": 8.0, "unusual": 6.5, "the": 0.1, "a": 0.1}
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the rare unusual dog",
        "a a a the the rare",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    udf = sh.make_weighted_simhash_udf(idf)
    got = [r["s"] for r in df.select(udf(F.col("text")).alias("s")).collect()]
    want = [_py_weighted_simhash(t, idf) if t else 0 for t in texts]
    assert got == want


def test_weighted_default_equals_unweighted(spark):
    """idf=None (all weights = tf·1) must reproduce simhash64 exactly —
    the weighted kernel is a strict generalization."""
    texts = [
        "alpha beta gamma delta", "alpha alpha beta", "x y z w v u t",
        "one two three four five six seven eight nine ten",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    udf = sh.make_weighted_simhash_udf(None)
    both = df.select(
        sh.simhash64(F.col("text")).alias("u"),
        udf(F.col("text")).alias("w"),
    ).collect()
    for r in both:
        assert r["u"] == r["w"]


def test_weighting_changes_signature(spark):
    """tf·idf weighting must actually change signatures when rare terms
    dominate — the D1 fidelity gap the unweighted kernel had."""
    t = "common common common common rareterm"
    df = spark.createDataFrame([(t,)], "text string")
    heavy = sh.make_weighted_simhash_udf({"rareterm": 50.0, "common": 0.01})
    r = df.select(
        sh.simhash64(F.col("text")).alias("u"),
        heavy(F.col("text")).alias("w"),
    ).first()
    assert r["u"] != r["w"]


def test_corpus_idf_values(spark):
    docs = spark.createDataFrame(
        [("d1", "a b"), ("d2", "a c"), ("d3", "a b c d")],
        "doc_id string, text string",
    )
    import math

    got = {r["term"]: r["idf"] for r in sh.corpus_idf(docs).collect()}
    assert abs(got["a"] - math.log(3 / 3)) < 1e-12
    assert abs(got["b"] - math.log(3 / 2)) < 1e-12
    assert abs(got["d"] - math.log(3 / 1)) < 1e-12


def test_assign_simhash_onto_linkbase(spark):
    """D3 (mr_assign_page_simhash_mapper.cc:30-69): signatures attach by
    url; urls with no fetched content get simhash 0; shard key present."""
    docs = spark.createDataFrame(
        [("http://a.com/1", "alpha beta gamma"),
         ("http://a.com/2", "delta epsilon zeta")],
        "doc_id string, text string",
    )
    lb = spark.createDataFrame(
        [("http://a.com/1", True), ("http://a.com/2", True),
         ("http://a.com/3", False)],
        "url string, success boolean",
    )
    out = {r["url"]: (r["simhash"], r["shard"])
           for r in sh.assign_simhash(lb, docs, n_shards=8).collect()}
    assert len(out) == 3
    assert out["http://a.com/3"][0] == 0
    assert out["http://a.com/1"][0] != 0
    assert all(0 <= s < 8 for _, s in out.values())


def test_simhash_candidates_bucket_cap(spark):
    """Degenerate buckets (identical signs from boilerplate pages) are
    skipped under max_bucket_size instead of expanding quadratically,
    with a warning naming how many ("no silent caps"); distinct-but-close
    signs still pair."""
    import warnings

    rows = [(i, 0xDEADBEEF) for i in range(8)]  # identical signs
    rows += [(100, 0x12345678), (101, 0x12345679)]  # hamming 1
    docs = spark.createDataFrame(rows, "doc_id long, simhash long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = sh.simhash_candidates(docs, max_bucket_size=4)
    msgs = [str(x.message) for x in w
            if "buckets exceed max_bucket_size=4" in str(x.message)]
    # the 8 identical signs share one bucket in each of the 10 tables
    assert len(msgs) == 1 and "simhash_candidates: 10 " in msgs[0], msgs
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert not any(a < 8 and b < 8 for a, b in pairs)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        full = sh.simhash_candidates(docs, max_bucket_size=None)
    assert not [x for x in w if "max_bucket_size" in str(x.message)]
    assert {(r["a"], r["b"]) for r in full.collect()} >= pairs | {(0, 1)}


def test_weighted_simhash_join_matches_dict_udf(spark):
    """The join-based open-vocabulary path must reproduce the closure-dict
    UDF bit-for-bit on a shared corpus (same tf·idf weights, same vote
    kernel — only the weight delivery differs)."""
    from pyspark.sql import functions as F

    from spider_spark import simhash as sh

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles partition data across the cluster"),
            (1, "spark shuffles partition data across the network"),
            (2, "completely different text about parquet files"),
            (3, ""),                       # no terms → mapper error value 0
            (4, "politeness budgets throttle crawl rates per host"),
        ],
        "doc_id long, text string",
    )
    idf_tab = sh.corpus_idf(docs)
    idf = {r["term"]: r["idf"] for r in idf_tab.collect()}
    udf = sh.make_weighted_simhash_udf(idf)
    want = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", udf(F.col("text")).alias("s")).collect()
    }
    got = {
        r["doc_id"]: r["simhash"]
        for r in sh.weighted_simhash_join(docs, idf_tab).collect()
    }
    assert got == want
    assert got[3] == 0


def test_weighted_join_unicode_whitespace_parity(spark):
    """The join path's (?U)\\s+ tokenizer must split on the same Unicode
    whitespace as the dict UDF's pandas str.split() — U+00A0 / U+3000
    between tokens previously produced different term sets."""
    from pyspark.sql import functions as F

    from spider_spark import simhash as sh

    docs = spark.createDataFrame(
        [(0, "alpha beta　gamma delta"),
         (1, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    idf_tab = sh.corpus_idf(docs)
    idf = {r["term"]: r["idf"] for r in idf_tab.collect()}
    udf = sh.make_weighted_simhash_udf(idf)
    want = {r["doc_id"]: r["s"] for r in
            docs.select("doc_id", udf(F.col("text")).alias("s")).collect()}
    got = {r["doc_id"]: r["simhash"] for r in
           sh.weighted_simhash_join(docs, idf_tab).collect()}
    assert got == want
    assert want[0] == want[1]  # same tokens → same signature
