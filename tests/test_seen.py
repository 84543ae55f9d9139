"""URL-seen layer: exact sign shards (the reference's Redis CalcUrlSign
store, scheduler.cc:289-314) — zero false positives, zero false
negatives, deletion for the recrawl TTL."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spider_spark.fused import fused_probe_admit
from spider_spark.politeness import init_host_state
from spider_spark.seen import SignShards, contains, decode_signs

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
    shards = SignShards()
    rows = _with_keys(_urls(spark, 0, 400)).cache()
    state = shards.update(rows, shards.init_state(spark, N_BUCKETS)).cache()
    state.count()
    dels = rows.limit(120).cache()
    state2 = shards.update(
        rows.sparkSession.createDataFrame([], "bucket int, sign long"),
        state, deletes=dels.select("bucket", "sign"),
    ).cache()
    state2.count()
    assert _probe(dels, state2).filter(F.col("maybe_seen")).count() == 0
    kept = rows.join(dels.select("url"), "url", "left_anti")
    assert _probe(kept, state2).filter(~F.col("maybe_seen")).count() == 0


def test_sign_blob_helpers():
    """The state blob round-trips through decode_signs (NULL and missing
    state decode to empty), and contains is exact over it."""
    signs = np.unique(np.arange(1, 500, dtype=np.uint64)
                      * np.uint64(2654435761))
    blob = pd.DataFrame({"bucket": [0], "state": [signs.tobytes()]})
    got = decode_signs(blob)
    assert np.array_equal(got, signs)
    assert contains(got, signs).all()
    other = np.arange(1, 500, dtype=np.uint64) * np.uint64(2654435761) + 1
    assert not contains(got, other).any()
    for empty in (pd.DataFrame({"bucket": [0], "state": [None]}),
                  pd.DataFrame({"bucket": [], "state": []})):
        e = decode_signs(empty)
        assert len(e) == 0 and e.dtype == np.uint64
        assert not contains(e, signs).any()
