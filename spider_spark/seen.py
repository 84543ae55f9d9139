"""URL-seen set: exact sign shards stamped with their last crawl round.

The reference keeps its online "have we crawled this" state in a Redis
hash keyed by the 64-bit url sign ``base::CalcUrlSign(url)``, each record
carrying its ``latest_crawl_timestamp`` (url.proto:18-27,
scheduler.cc:289-314). :class:`SignShards` keeps one blob per bucket in a
``(bucket int, state binary)`` DataFrame; the sign IS the identity, so
collision semantics match the reference and no confirm join is needed.

Blob layout, known only to this module (:func:`encode_state` /
:func:`decode_state`): the bucket's n SORTED uint64 signs, then a
parallel uint16 array of the round each was last admitted in — 10 B/url,
100 GB for 10^10 URLs. Probe = binary search over the sign view
(:func:`decode_signs`, :func:`contains`; fused.py); update = sorted merge;
recrawl TTL (scheduler.cc:381-393) = a mask over the stamps.
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


_STAMP = np.uint16  # round of last admission; bounds the round counter


def encode_state(signs: np.ndarray, stamps: np.ndarray) -> bytes:
    """Sorted uint64 signs + their parallel round stamps → one blob."""
    return signs.astype(np.uint64).tobytes() + stamps.astype(_STAMP).tobytes()


def decode_state(state_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """One bucket's state rows (zero or one ``(bucket, state)`` row, the
    state possibly NULL for a never-written bucket) → (sorted uint64
    signs, uint16 stamps), both empty when there is no state."""
    if len(state_pdf) and state_pdf["state"].iloc[0] is not None:
        blob = bytes(state_pdf["state"].iloc[0])
        n = len(blob) // 10
        return (np.frombuffer(blob, np.uint64, count=n),
                np.frombuffer(blob, _STAMP, count=n, offset=8 * n))
    return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=_STAMP)


def decode_signs(state_pdf: pd.DataFrame) -> np.ndarray:
    """The sorted uint64 sign view of one bucket's state rows."""
    return decode_state(state_pdf)[0]


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
               round_no: int = 0, ttl: int | None = None) -> DataFrame:
        """Fold ``admitted`` (bucket, sign) rows into the shards stamped
        ``round_no`` (a re-admitted sign takes the new stamp); with
        ``ttl``, drop stamps ``<= round_no + 1 - ttl`` (expired for round
        ``round_no + 1``). Returns the new state of every bucket."""
        if not 0 <= round_no <= np.iinfo(_STAMP).max:
            raise ValueError(f"round_no {round_no} does not fit the "
                             "uint16 seen-state stamp")

        def fn(key, pdf: pd.DataFrame, state_pdf: pd.DataFrame):
            signs, stamps = decode_state(state_pdf)
            add = pdf["sign"].to_numpy().astype(np.uint64)
            # adds first: np.unique keeps the first occurrence of a sign
            signs, first = np.unique(np.concatenate([add, signs]),
                                     return_index=True)
            stamps = np.concatenate(
                [np.full(len(add), round_no, dtype=_STAMP), stamps])[first]
            if ttl is not None:
                live = stamps > round_no + 1 - ttl
                signs, stamps = signs[live], stamps[live]
            return pd.DataFrame({"bucket": [int(key[0])],
                                 "state": [encode_state(signs, stamps)]})

        return (
            _bucket_spread(admitted.select("bucket", "sign"))
            .groupBy("bucket")
            .cogroup(_bucket_spread(state).groupBy("bucket"))
            .applyInPandas(fn, schema=STATE_SCHEMA)
        )

    def init_state(self, spark: SparkSession, n_buckets: int) -> DataFrame:
        return spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket"),
            F.lit(None).cast("binary").alias("state"),
        )
