"""URL-seen layer: exact sign shards (the reference's Redis CalcUrlSign
store, scheduler.cc:289-314) — zero false positives, zero false
negatives, round-stamp expiry for the recrawl TTL."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spider_spark.fused import fused_probe_admit
from spider_spark.politeness import init_host_state
from spider_spark.seen import (SignShards, contains, decode_signs,
                               decode_state, encode_state)

N_BUCKETS = 4


def _urls(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"http://h"), F.pmod(F.col("id"), F.lit(7)),
                 F.lit(f".x.com/{tag}/"), F.col("id")).alias("url")
    )


def _with_keys(df):
    return df.withColumn("sign", F.xxhash64("url")).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    )


def _probe(cand, state):
    """``maybe_seen`` per candidate, read from the fused probe+admit stage
    (the only probe path) with a budget above the row count, so admission
    never binds."""
    frontier = cand.select(
        "url", F.lit("h.x.com").alias("host"), F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("referer"),
        F.lit(False).alias("vip"), "sign", "bucket",
        F.lit(1.0).alias("score"), F.lit(0).alias("priority"),
    )
    return fused_probe_admit(frontier, state,
                             init_host_state(cand.sparkSession), None,
                             default_budget=1_000_000, round_no=0)


def test_sign_shards_exact(spark):
    """SignShards is EXACT: zero false positives AND zero false negatives
    (the Redis CalcUrlSign semantics, scheduler.cc:289-314)."""
    shards = SignShards()
    seen = _with_keys(_urls(spark, 0, 1500)).cache()
    state = shards.update(seen, shards.init_state(spark, N_BUCKETS)).cache()
    state.count()
    # no false negatives
    assert _probe(seen, state).filter(~F.col("maybe_seen")).count() == 0
    # no false positives
    fresh = _with_keys(_urls(spark, 50_000, 52_000, tag="w"))
    assert _probe(fresh, state).filter(F.col("maybe_seen")).count() == 0


def test_sign_shards_delete(spark):
    """TTL expiry by round stamp: signs admitted at round 0 and not
    re-admitted leave the state once the ttl window passes them; a
    re-admitted sign takes the new stamp and stays; at ttl=1 even the
    current round's signs expire."""
    shards = SignShards()
    rows = _with_keys(_urls(spark, 0, 400)).cache()
    state = shards.update(rows, shards.init_state(spark, N_BUCKETS),
                          round_no=0, ttl=2).cache()
    state.count()
    # round 0's own update keeps its signs under ttl=2 (window {0})
    assert _probe(rows, state).filter(~F.col("maybe_seen")).count() == 0
    refreshed = rows.limit(120).cache()
    state2 = shards.update(refreshed, state, round_no=1, ttl=2).cache()
    state2.count()
    assert _probe(refreshed, state2).filter(~F.col("maybe_seen")).count() == 0
    expired = rows.join(refreshed.select("url"), "url", "left_anti")
    assert _probe(expired, state2).filter(F.col("maybe_seen")).count() == 0
    state3 = shards.update(refreshed, state2, round_no=2, ttl=1)
    assert _probe(rows, state3).filter(F.col("maybe_seen")).count() == 0


def test_sign_shards_round_guard(spark):
    """Round stamps are uint16: a round that does not fit is refused
    before any plan is built."""
    shards = SignShards()
    state = shards.init_state(spark, N_BUCKETS)
    adds = spark.createDataFrame([], "bucket int, sign long")
    for bad in (-1, 65536):
        with pytest.raises(ValueError, match="uint16"):
            shards.update(adds, state, round_no=bad)
    shards.update(adds, state, round_no=65535)  # the last round that fits


def test_sign_blob_helpers():
    """The state blob round-trips (signs, stamps) through
    encode_state/decode_state at 10 B/url, decode_signs is its sign view
    (NULL and missing state decode to empty), and contains is exact over
    it."""
    signs = np.unique(np.arange(1, 500, dtype=np.uint64)
                      * np.uint64(2654435761))
    stamps = (np.arange(len(signs)) % 7 * 9000).astype(np.uint16)
    blob = encode_state(signs, stamps)
    assert len(blob) == 10 * len(signs)
    pdf = pd.DataFrame({"bucket": [0], "state": [blob]})
    got_signs, got_stamps = decode_state(pdf)
    assert np.array_equal(got_signs, signs)
    assert np.array_equal(got_stamps, stamps)
    assert got_stamps.dtype == np.uint16
    got = decode_signs(pdf)
    assert np.array_equal(got, signs)
    assert contains(got, signs).all()
    other = np.arange(1, 500, dtype=np.uint64) * np.uint64(2654435761) + 1
    assert not contains(got, other).any()
    for empty in (pd.DataFrame({"bucket": [0], "state": [None]}),
                  pd.DataFrame({"bucket": [], "state": []})):
        e, st = decode_state(empty)
        assert len(e) == 0 and e.dtype == np.uint64
        assert len(st) == 0 and st.dtype == np.uint16
        assert len(decode_signs(empty)) == 0
        assert not contains(e, signs).any()
