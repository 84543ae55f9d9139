"""Dedup family: exact, minhash-LSH (differential vs exact Jaccard),
embedding near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_spark import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "spark shuffles partition data across the cluster with hash keys",
        "completely different text about parquet files and column pruning",
        "politeness budgets throttle crawl rates per host every round",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
        rows.append((100 + i, t))                       # exact dup
        rows.append((200 + i, t + " extra"))            # near dup
    rows.append((999, "singleton document with unique words only here"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(corpus):
    groups = dedup.exact_duplicates(corpus).collect()
    assert len(groups) == 4
    for g in groups:
        assert g["n_docs"] == 2
        assert g["keep_id"] == min(g["all_ids"])


def test_dedup_exact_keeps_min_id(corpus):
    kept = dedup.dedup_exact(corpus)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {0, 1, 2, 3, 200, 201, 202, 203, 999}


def test_lsh_candidates_recall_vs_exact(spark, corpus):
    """LSH candidates ⊇ all pairs with Jaccard ≥ 0.8 (differential)."""
    cand = dedup.lsh_candidates(corpus, k=128, bands=32)
    all_pairs = (
        corpus.select(F.col("doc_id").alias("a"))
        .crossJoin(corpus.select(F.col("doc_id").alias("b")))
        .filter(F.col("a") < F.col("b"))
    )
    exact = dedup.ngram_jaccard_pairs(corpus, all_pairs, threshold=0.8)
    exact_set = {(r["a"], r["b"]) for r in exact.collect()}
    cand_set = {(r["a"], r["b"]) for r in cand.collect()}
    assert exact_set, "fixture should contain true near-dup pairs"
    missed = exact_set - cand_set
    assert not missed, f"LSH missed true pairs: {missed}"


def test_minhash_pipeline_verified(corpus):
    out = dedup.minhash_near_duplicates(corpus, threshold=0.8)
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    # exact dups have jaccard 1.0
    for i in range(4):
        assert pairs[(i, 100 + i)] == 1.0
    # all surviving pairs meet the threshold
    assert all(j >= 0.8 for j in pairs.values())


def test_embedding_near_duplicates(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(40, 16)).astype(float)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # plant two exact copies
    rows.append((100, rows[3][1]))
    rows.append((101, rows[7][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_duplicates(emb, threshold=0.99)
    got = {(r["a"], r["b"]) for r in out.collect()}
    assert (3, 100) in got and (7, 101) in got


def test_embedding_banded_lsh_recall(spark):
    """Banded hyperplane LSH must recover (nearly) every pair a brute-force
    cosine scan finds at the threshold — the single-band version's ~18%
    recall was the round-1 gap."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.normal(size=(60, 16))
    rows = []
    vid = 0
    truth = set()
    for i, v in enumerate(base):
        rows.append((vid, [float(x) for x in v])); a = vid; vid += 1
        # planted near-dup: tiny perturbation → cosine ≈ 0.99+
        w = v + rng.normal(scale=0.02, size=16)
        rows.append((vid, [float(x) for x in w])); truth.add((a, vid)); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]) for r in dedup.embedding_near_duplicates(
        emb, threshold=0.95).collect()}
    found = truth & got
    assert len(found) / len(truth) >= 0.95, (len(found), len(truth))
    # every reported pair really is >= threshold (verify stage exact)
    import itertools
    vecs = dict(rows)
    for a, b in got:
        va, vb = np.array(vecs[a]), np.array(vecs[b])
        assert va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.95 - 1e-9


def test_lsh_bucket_cap_bounds_pair_expansion(spark):
    """max_bucket_size skips degenerate buckets whose in-bucket pair array
    would be quadratic in one task; normal-sized buckets are unaffected."""
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text body repeated for every doc")
         for i in range(8)]
        + [(100, "a genuinely unique pair of documents here alpha"),
           (101, "a genuinely unique pair of documents here beta")],
        "doc_id long, text string",
    )
    # the 8 identical docs collide in EVERY band: cap 4 skips those
    # buckets entirely, the unique pair (bucket size 2) still pairs
    capped = dedup.lsh_candidates(docs, max_bucket_size=4)
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert not any(a < 8 and b < 8 for a, b in pairs)
    # default cap admits the identical-doc buckets (28 pairs + the pair)
    full = dedup.lsh_candidates(docs)
    assert {(r["a"], r["b"]) for r in full.collect()} >= {(100, 101)} and \
        full.count() == 28 + 1


def test_embedding_near_dup_empty_input(spark):
    """Empty embeddings table yields an empty pair frame, not TypeError."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = dedup.embedding_near_duplicates(emb)
    assert out.count() == 0
    assert set(out.columns) == {"a", "b", "cosine"}


def test_embedding_bucket_cap_bounds_degenerate_corpus(spark):
    """An all-identical corpus collides into ONE (band, key) bucket per
    band — the cap must drop those buckets (bounded join) while a normal
    planted pair in the same table still pairs."""
    import numpy as np

    rng = np.random.RandomState(5)
    v0 = [float(x) for x in rng.normal(size=16)]
    rows = [(i, v0) for i in range(20)]  # degenerate: 20 identical vectors
    w = rng.normal(size=16)
    rows += [(100, [float(x) for x in w]), (101, [float(x) for x in w])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_duplicates(emb, threshold=0.99,
                                          max_bucket_size=10)
    got = {(r["a"], r["b"]) for r in out.collect()}
    assert (100, 101) in got
    assert not any(a < 20 and b < 20 for a, b in got)
    # uncapped, the degenerate block pairs fully: C(20,2) + 1
    full = dedup.embedding_near_duplicates(emb, threshold=0.99,
                                           max_bucket_size=None)
    assert full.count() == 190 + 1


def test_embedding_near_dup_null_and_ragged_vectors(spark):
    """NULL first row / empty / wrong-dim vectors must not crash the dim
    probe (ADVICE r2) and are excluded from pairing."""
    import numpy as np

    rng = np.random.RandomState(9)
    v = [float(x) for x in rng.normal(size=16)]
    rows = [(0, None), (1, []), (2, v[:8]), (3, v), (4, v)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_near_duplicates(emb, threshold=0.99)
    assert {(r["a"], r["b"]) for r in out.collect()} == {(3, 4)}
    # all-null table → empty result, not TypeError
    nulls = spark.createDataFrame([(0, None), (1, [])],
                                  "vec_id long, embedding array<double>")
    assert dedup.embedding_near_duplicates(nulls).count() == 0


def test_resolve_pair_clusters_transitive_chain(spark):
    """a~b, b~c, c~d (no a~c / a~d / b~d pairs) must collapse to ONE
    survivor across the chain; disjoint pair (x~y) keeps its own min."""
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11)], "a long, b long"
    )
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(pairs).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10}


def test_resolve_pair_clusters_on_minhash_output(corpus):
    """Full pipeline: exact+near dup triples (i, 100+i, 200+i) from the
    corpus fixture each resolve to keep_id = i; the singleton is absent."""
    pairs = dedup.minhash_near_duplicates(corpus, threshold=0.8)
    clusters = dedup.resolve_pair_clusters(pairs, "a", "b")
    got = {r["id"]: r["keep_id"] for r in clusters.collect()}
    for i in range(4):
        assert got[i] == i and got[100 + i] == i and got[200 + i] == i
    assert 999 not in got
    kept = dedup.dedup_keep_rows(corpus, clusters)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {0, 1, 2, 3, 999}


def test_resolve_pair_clusters_convergence_guard(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.resolve_pair_clusters(pairs, max_iters=0)


def test_embedding_dropped_bucket_count_surfaces(spark):
    """'No silent caps': a degenerate over-cap bucket must emit a warning
    naming the dropped-bucket count (ADVICE r3)."""
    import warnings

    import numpy as np

    v = [float(x) for x in np.ones(8)]
    rows = [(i, v) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup.embedding_near_duplicates(
            emb, threshold=0.99, max_bucket_size=10)
        out.count()
    msgs = [str(x.message) for x in w
            if "buckets exceed max_bucket_size" in str(x.message)]
    assert msgs, "expected a dropped-bucket warning"


# -- resolver vs union-find, chains, edge cases -----------------------------


def _union_find(pairs):
    """Ground-truth connected components: plain union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to the component min
    return {x: find(x) for x in parent}


def test_star_clusters_match_union_find_random(spark):
    """Resolver vs a Python union-find on seeded random graphs — several
    densities so both sparse forests and collapsed blobs are hit; the
    300-node forest needs 9 iterations."""
    import random

    for seed, n, m in [(1, 40, 25), (2, 40, 60), (3, 25, 120),
                       (4, 300, 280)]:
        rng = random.Random(seed)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        truth = _union_find(pairs)
        df = spark.createDataFrame(pairs, "a long, b long")
        got = {r["id"]: r["keep_id"]
               for r in dedup.resolve_pair_clusters(df).collect()}
        assert got == truth, f"seed={seed}"


def test_star_equals_label_on_chain_and_strings(spark):
    """String ids resolve to the lexicographic component minimum, in
    either pair orientation."""
    spairs = spark.createDataFrame(
        [("u-b", "u-a"), ("u-b", "u-c"), ("zz", "zy")],
        "a string, b string",
    )
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(spairs).collect()}
    assert got == {"u-a": "u-a", "u-b": "u-a", "u-c": "u-a",
                   "zy": "zy", "zz": "zy"}


def test_star_beats_label_on_long_chain(spark):
    """Pointer jumping: a 40-node path (diameter 39) converges within 8
    iterations, where plain min-label propagation needs about 40."""
    chain = [(i, i + 1) for i in range(39)]
    df = spark.createDataFrame(chain, "a long, b long")
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(df, max_iters=8).collect()}
    assert got == {i: 0 for i in range(40)}


def test_resolve_pair_clusters_long_path_default_iters(spark):
    """A 200-node path, listed from its far end, resolves under the
    default ``max_iters`` (plain propagation would need ~200 rounds)."""
    chain = [(i + 1, i) for i in reversed(range(199))]
    df = spark.createDataFrame(chain, "a long, b long")
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(df).collect()}
    assert got == {i: 0 for i in range(200)}


def test_star_empty_and_bad_algorithm(spark):
    empty = spark.createDataFrame([], "a long, b long")
    assert dedup.resolve_pair_clusters(empty).count() == 0


def test_resolve_pair_clusters_reliable_checkpoint(spark, tmp_path):
    """Cluster escape hatch: with a checkpoint dir set, reliable=True
    routes every iteration through the persistent store and the cluster
    table is unchanged."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(
               pairs, reliable=True).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 10: 10, 11: 10}


def test_cluster_variants_agree_on_reflexive_pairs(spark):
    """A reflexive (x, x) pair carries no edge but its id must still
    appear in the output with keep_id = itself."""
    pairs = spark.createDataFrame([(5, 5), (1, 2)], "a long, b long")
    got = {r["id"]: r["keep_id"]
           for r in dedup.resolve_pair_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 5: 5}
