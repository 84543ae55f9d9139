"""URL-seen set: exact sign shards.

The reference keeps its online "have we crawled this" state in a Redis
hash keyed by the 64-bit url sign ``base::CalcUrlSign(url)``
(crawler/crawler2/general_crawler/url.proto:18-27, scheduler.cc:289-314).
The Spark rendering is :class:`SignShards`: per bucket a SORTED numpy
uint64 array of url signs, stored as a ``(bucket int, state binary)``
DataFrame (checkpointable as parquet/Iceberg binary columns). The sign IS
the identity, so hash-collision semantics match the reference exactly and
no false-positive confirm join is needed.

The blob format lives here and only here: :func:`decode_signs` turns one
bucket's state rows into the sorted sign array and :func:`contains` tests
membership. The fused probe+admit kernel (fused.py) and
:meth:`SignShards.update` both go through them.

Cost: 8 B/url — 80 GB for 10^10 URLs, ~1.2 MB/bucket over 65k buckets,
each co-resident with its bucket's candidates. Probe = vectorized binary
search against the sorted array; update = sorted merge; deletion (recrawl
TTL) = set difference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("state", T.BinaryType(), True),
    ]
)


def decode_signs(state_pdf: pd.DataFrame) -> np.ndarray:
    """One bucket's state rows (zero or one ``(bucket, state)`` row, the
    state possibly NULL for a never-written bucket) → its sorted uint64
    sign array (empty when there is no state)."""
    if len(state_pdf) and state_pdf["state"].iloc[0] is not None:
        return np.frombuffer(bytes(state_pdf["state"].iloc[0]),
                             dtype=np.uint64)
    return np.zeros(0, dtype=np.uint64)


def contains(seen: np.ndarray, signs: np.ndarray) -> np.ndarray:
    """Boolean mask: which of ``signs`` (uint64) are in the sorted
    ``seen`` array."""
    if not len(seen):
        return np.zeros(len(signs), dtype=bool)
    idx = np.clip(np.searchsorted(seen, signs), 0, len(seen) - 1)
    return seen[idx] == signs


def _bucket_spread(df: DataFrame) -> DataFrame:
    """Pin the bucket shuffle feeding a cogrouped Arrow kernel to a fixed
    partition count (2× cores).

    The kernels are parallel in the BUCKET key, but their inputs are tiny
    in BYTES (shard blobs + signs) — AQE's partition coalescing sees a few
    MB and folds the exchange down to ONE partition, serializing every
    bucket through a single Python worker (measured 5.7 s single-task
    seen-update per round at bench scale). An explicit
    ``repartition(n, bucket)`` is REPARTITION_BY_NUM, which AQE must
    preserve; both cogroup sides use the same n, so no extra exchange is
    inserted. On a real cluster defaultParallelism tracks executor count,
    so the spread scales with the fleet.
    """
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, "bucket")


class SignShards:
    """Exact seen set of 64-bit url signs. Stateless glue: state lives in the
    ``(bucket, state)`` DataFrame the caller checkpoints. Probing runs
    inside the fused probe+admit stage (fused.py)."""

    def update(self, admitted: DataFrame, state: DataFrame,
               deletes: DataFrame | None = None) -> DataFrame:
        """Fold ``admitted`` (bucket, sign) rows into the shards and drop
        ``deletes`` (bucket, sign) rows; returns the new full state
        DataFrame (all buckets, including untouched ones)."""
        spark = admitted.sparkSession
        dels = (
            deletes
            if deletes is not None
            else spark.createDataFrame([], "bucket int, sign long")
        ).select("bucket", "sign", F.lit(True).alias("is_delete"))
        adds = admitted.select("bucket", "sign",
                               F.lit(False).alias("is_delete"))
        combined = adds.unionByName(dels)

        def fn(key, pdf: pd.DataFrame, state_pdf: pd.DataFrame):
            seen = decode_signs(state_pdf)
            add = pdf.loc[~pdf["is_delete"], "sign"].to_numpy().astype(np.uint64)
            merged = np.union1d(seen, add)
            d = pdf.loc[pdf["is_delete"], "sign"].to_numpy().astype(np.uint64)
            if len(d):
                merged = np.setdiff1d(merged, d, assume_unique=False)
            return pd.DataFrame(
                {"bucket": [int(key[0])], "state": [merged.tobytes()]}
            )

        return (
            _bucket_spread(combined).groupBy("bucket")
            .cogroup(_bucket_spread(state).groupBy("bucket"))
            .applyInPandas(fn, schema=STATE_SCHEMA)
        )

    def init_state(self, spark: SparkSession, n_buckets: int) -> DataFrame:
        return spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket"),
            F.lit(None).cast("binary").alias("state"),
        )
