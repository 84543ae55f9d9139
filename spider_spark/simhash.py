"""64-bit simhash + Manku block-permutation near-duplicate candidate index.

Reference semantics (cites into /root/reference):

- D1 simhash algorithm: per-term 64-bit hashes weighted, bit-vote sign →
  64-bit signature (crawler/crawler/dedup/html_simhash/html_simhash.h:2-8,
  51-139).
- D2 Manku tables: f=64 split into 5 blocks (13,13,13,13,12 bits);
  C(5,2)=10 permuted tables keyed by two blocks → candidates within
  hamming distance ≤ 3 (crawler/crawler/dedup/html_simhash/
  dedup_util.cc:12-55).

Spark-first: the signature is a pandas UDF whose inner loop is numpy over
the batch's unique tokens (token-hash cache per batch); candidate lookup
is a JVM-side explode → self-join on block keys → ``bit_count(a^b) <= k``
exact filter — no Python in the join path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from .dedup import drop_hot_buckets

# 5 blocks: bit spans over the 64-bit signature (dedup_util.cc:12-55 layout)
BLOCK_BOUNDS = [(0, 13), (13, 26), (26, 39), (39, 52), (52, 64)]
BLOCK_PAIRS = [
    (i, j) for i in range(5) for j in range(i + 1, 5)
]  # C(5,2) = 10 tables
DEFAULT_MAX_HAMMING = 3


def _token_hash64(token: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(token.encode("utf-8", "ignore"),
                        digest_size=8).digest(),
        "big",
    )


@pandas_udf(LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """Batch simhash: hash each *unique* token once per Arrow batch, then
    per doc accumulate bit votes with numpy unpacked bits."""
    # batch-level token hash cache
    token_lists = text.fillna("").str.split()
    vocab: dict[str, int] = {}
    for toks in token_lists:
        for t in toks:
            if t not in vocab:
                vocab[t] = _token_hash64(t)
    # precompute bit matrix for vocab: (n_vocab, 64) of ±1
    if vocab:
        hashes = np.fromiter(vocab.values(), dtype=np.uint64, count=len(vocab))
        bits = (
            np.unpackbits(hashes.view(np.uint8).reshape(-1, 8)[:, ::-1],
                          axis=1)
            .astype(np.int32)
        )
        votes_lut = bits * 2 - 1  # 0/1 → -1/+1
        index = {t: i for i, t in enumerate(vocab)}
    out = np.zeros(len(text), dtype=np.int64)
    for row, toks in enumerate(token_lists):
        if not toks:
            continue
        idx = np.fromiter((index[t] for t in toks), dtype=np.int64,
                          count=len(toks))
        votes = votes_lut[idx].sum(axis=0)
        sig = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                sig |= np.uint64(1) << np.uint64(63 - b)
        out[row] = np.int64(sig)
    return pd.Series(out)


def _sorted_vote_tables(vocab: dict[str, int]):
    """(term→rank index, ±1 votes_lut) in SORTED-term order — the ONE
    summation order both weighted paths share: float vote sums at
    exact-cancellation boundaries are order-sensitive, and the
    join-vs-dict bit-equality contract depends on identical order."""
    terms = sorted(vocab)
    hashes = np.fromiter((vocab[t] for t in terms), dtype=np.uint64,
                         count=len(terms))
    bits = (
        np.unpackbits(hashes.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1)
        .astype(np.float64)
    )
    return {t: i for i, t in enumerate(terms)}, bits * 2.0 - 1.0


def _weighted_sig(votes_lut: np.ndarray, idx: np.ndarray,
                  w: np.ndarray) -> np.int64:
    """One doc's (sorted-vocab rank, weight) pairs → 64-bit signature.
    The SHARED kernel of make_weighted_simhash_udf and
    weighted_simhash_join — any change here changes both identically."""
    order = np.argsort(idx, kind="stable")
    votes = (votes_lut[idx[order]] * w[order][:, None]).sum(axis=0)
    sig = np.uint64(0)
    for b in range(64):
        if votes[b] > 0:
            sig |= np.uint64(1) << np.uint64(63 - b)
    return np.int64(sig)


def make_weighted_simhash_udf(idf: dict[str, float] | None = None,
                              default_idf: float = 1.0):
    """Factory for the tf·idf-weighted simhash UDF (D1 full fidelity:
    html_simhash.h:51-139 — ConstructTokenHashPairs assigns every term a
    weight of tf × idf from a static idf dictionary, nlp/idf role; terms
    missing from the dict get ``default_idf``).

    ``idf`` ships inside the UDF closure — the reference's dict is a
    bounded whitelist file (--white_list), so it is broadcast-sized by
    construction. ``idf=None`` degrades to pure tf voting, which equals
    :func:`simhash64` bit-for-bit (the differential test's anchor).
    """
    idf = idf or {}

    @pandas_udf(LongType())
    def weighted_simhash64(text: pd.Series) -> pd.Series:
        token_lists = text.fillna("").str.split()
        vocab: dict[str, int] = {}
        for toks in token_lists:
            for t in toks:
                if t not in vocab:
                    vocab[t] = _token_hash64(t)
        if vocab:
            index, votes_lut = _sorted_vote_tables(vocab)
            idf_arr = np.empty(len(index), dtype=np.float64)
            for t, i in index.items():
                idf_arr[i] = idf.get(t, default_idf)
        out = np.zeros(len(text), dtype=np.int64)
        for row, toks in enumerate(token_lists):
            if not toks:
                continue
            idx = np.fromiter((index[t] for t in toks), dtype=np.int64,
                              count=len(toks))
            # tf via unique counts over the batch vocab ids; w = tf · idf
            uniq, tf = np.unique(idx, return_counts=True)
            out[row] = _weighted_sig(votes_lut, uniq, tf * idf_arr[uniq])
        return pd.Series(out)

    return weighted_simhash64


def corpus_idf(docs: DataFrame, text_col: str = "text",
               min_df: int = 1) -> DataFrame:
    """(term, idf) from the corpus itself: idf = ln(N / df). One explode +
    groupBy (partial-agg, uniform term keys). The production twin of the
    reference's static idf dictionary (nlp/idf) when no dict is shipped;
    collect + pass to :func:`make_weighted_simhash_udf` for bounded
    vocabularies, or keep as a table and join for open ones."""
    n = docs.count()
    terms = docs.select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"(?U)\s+"))
        ).alias("term")
    ).filter(F.col("term") != "")
    df_tab = terms.groupBy("term").agg(F.count("*").alias("df"))
    return df_tab.filter(F.col("df") >= min_df).select(
        "term", F.log(F.lit(float(n)) / F.col("df")).alias("idf")
    )


def _signature_from_pairs_udf():
    """array<struct<term,w>> → int64 signature: the same blake2b hash /
    ±1 bit-vote kernel as the dict UDF, fed per-doc (term, weight) pairs
    instead of a closure dictionary. Batch-level token-hash cache."""

    @pandas_udf(LongType())
    def sig_of(tw: pd.Series) -> pd.Series:
        vocab: dict[str, int] = {}
        for pairs in tw:
            for p in pairs:
                t = p["term"]
                if t not in vocab:
                    vocab[t] = _token_hash64(t)
        if vocab:
            index, votes_lut = _sorted_vote_tables(vocab)
        out = np.zeros(len(tw), dtype=np.int64)
        for row, pairs in enumerate(tw):
            if not len(pairs):
                continue
            idx = np.fromiter((index[p["term"]] for p in pairs),
                              dtype=np.int64, count=len(pairs))
            w = np.fromiter((p["w"] for p in pairs),
                            dtype=np.float64, count=len(pairs))
            out[row] = _weighted_sig(votes_lut, idx, w)
        return pd.Series(out)

    return sig_of


def weighted_simhash_join(docs: DataFrame, idf_table: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          default_idf: float = 1.0) -> DataFrame:
    """Join-based tf·idf simhash (the open-vocabulary D1 path): exploded
    (doc, term, tf) ⋈ (term, idf) — a uniform term-keyed shuffle join —
    then the bounded per-doc (term, weight) lists feed the same vote
    kernel as :func:`make_weighted_simhash_udf`. No corpus vocabulary
    ever reaches the driver or a task closure (the dict variant collects
    the whole idf table — GBs at corpus scale; it remains the right call
    only for the reference's bounded whitelist file). Docs with no terms
    keep the mapper's error value 0. Returns (id_col, simhash).

    The weight per (doc, term) is tf × idf with ``default_idf`` for terms
    missing from the table — identical semantics to the dict UDF, and the
    pytest differential asserts bit-equality on a shared corpus.
    """
    # (?U): Java \s is ASCII-only by default while the dict UDF's pandas
    # str.split() breaks on Unicode whitespace — the bit-equality contract
    # needs both paths to tokenize identically (U+00A0/U+3000 verified)
    terms = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"(?U)\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    weighted = tf.join(idf_table, "term", "left").select(
        "id", "term",
        (F.col("tf") * F.coalesce(F.col("idf"), F.lit(default_idf)))
        .alias("w"),
    )
    per_doc = weighted.groupBy("id").agg(
        F.collect_list(F.struct("term", "w")).alias("tw")
    )
    sig = _signature_from_pairs_udf()
    out = per_doc.select(F.col("id"), sig(F.col("tw")).alias("simhash"))
    return (
        docs.select(F.col(id_col).alias("id")).distinct()
        .join(out, "id", "left")
        .select(F.col("id").alias(id_col),
                F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash"))
    )


def assign_simhash(linkbase: DataFrame, docs: DataFrame,
                   idf: dict[str, float] | None = None,
                   url_col: str = "url", id_col: str = "doc_id",
                   text_col: str = "text", n_shards: int = 64,
                   idf_table: DataFrame | None = None) -> DataFrame:
    """D3 (mr_assign_page_simhash_mapper.cc:30-69 + reducer): compute the
    weighted signature per fetched doc and attach it onto linkbase records
    by url; urls without content get simhash 0 (the mapper's error path
    sets hash = 0); ``shard`` = AssignShardId(url) mirrors the reducer's
    sharded file output (a write-time ``partitionBy`` key here).

    Weighting source: ``idf_table`` (a (term, idf) DataFrame — the
    scale path, joined cluster-side via :func:`weighted_simhash_join`)
    or ``idf`` (a bounded dict shipped in the UDF closure — the
    reference's --white_list file role). Passing both is an error."""
    from . import urlkit

    if idf is not None and idf_table is not None:
        raise ValueError("pass idf (bounded dict) OR idf_table, not both")
    if idf_table is not None:
        sigs = weighted_simhash_join(
            docs, idf_table, id_col=id_col, text_col=text_col
        ).withColumnRenamed(id_col, url_col)
    else:
        udf = make_weighted_simhash_udf(idf)
        sigs = docs.select(
            F.col(id_col).alias(url_col),
            udf(F.col(text_col)).alias("simhash"),
        )
    return (
        linkbase.join(sigs, url_col, "left")
        .withColumn("simhash", F.coalesce(F.col("simhash"), F.lit(0)))
        .withColumn("shard", urlkit.shard_id(F.col(url_col), n_shards))
    )


def block_keys(sign_col) -> list:
    """The 10 Manku table keys for one signature: for table t = (i, j),
    key = (bits of block i) * 2^|j| + (bits of block j). Pure column
    bit-math (shiftright/mask), JVM-side."""
    sign = F.col(sign_col) if isinstance(sign_col, str) else sign_col
    keys = []
    for t, (i, j) in enumerate(BLOCK_PAIRS):
        lo_i, hi_i = BLOCK_BOUNDS[i]
        lo_j, hi_j = BLOCK_BOUNDS[j]
        wi, wj = hi_i - lo_i, hi_j - lo_j
        blk_i = F.shiftright(sign, 64 - hi_i).bitwiseAND(F.lit((1 << wi) - 1))
        blk_j = F.shiftright(sign, 64 - hi_j).bitwiseAND(F.lit((1 << wj) - 1))
        keys.append(
            F.struct(
                F.lit(t).alias("table_id"),
                (blk_i * F.lit(1 << wj) + blk_j).alias("block_key"),
            )
        )
    return keys


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    sign_col: str = "simhash",
    max_hamming: int = DEFAULT_MAX_HAMMING,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs within ``max_hamming`` bits (≤3 ⇒ the two-block
    key guarantees recall: 3 flipped bits leave ≥2 of 5 blocks intact, so
    some table pairs them). Returns (a, b, hamming) with a < b, distinct.

    Scale: the explode is ×10; the self-join shuffles on (table_id,
    block_key) — ~26-bit keys spread uniformly for DISTINCT signs, but
    identical signs (boilerplate/empty pages) all share the same 10
    buckets, and the self-join would expand each such bucket
    quadratically. ``max_bucket_size`` drops those degenerate buckets
    with a warning naming their count (dedup.drop_hot_buckets, shared
    with embedding_near_duplicates): members above the cap are ~all
    mutual exact duplicates, better handled by an exact-dup pre-pass
    (dedup.exact_duplicates on the sign itself). The exact
    hamming filter (bit_count, JVM intrinsic) runs only on bucket
    collisions.
    """
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.col(sign_col).alias("sign"),
        F.explode(F.array(*block_keys(sign_col))).alias("k"),
    ).select("id", "sign", "k.table_id", "k.block_key")
    keyed = drop_hot_buckets(keyed, ["table_id", "block_key"],
                             max_bucket_size, "simhash_candidates")
    left = keyed
    right = (
        keyed.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sign", "sign_b")
    )
    pairs = (
        left.join(right, ["table_id", "block_key"])
        .filter(F.col("id") < F.col("id_b"))
        .select(
            F.col("id").alias("a"),
            F.col("id_b").alias("b"),
            F.bit_count(
                F.col("sign").bitwiseXOR(F.col("sign_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def hamming64(a, b):
    """Exact hamming distance between two 64-bit sign columns."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))
