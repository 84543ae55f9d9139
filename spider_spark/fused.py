"""Seen-probe + politeness admission: one cogrouped Arrow stage.

Probe and admission run inside ONE ``cogroup(...).applyInPandas`` keyed by
a HOST-derived bucket, so a host's candidates and the bucket's seen-sign
shard meet once:

    probe   : seen.contains — vectorized searchsorted against the sorted
              uint64 sign shard (seen.decode_signs)
    admit   : pandas sort by (priority, -score, url) + per-host cumcount
              < budget — the frontier's deterministic total order

Host state (holdon/dropped) and per-host budgets are joined onto the
candidates BEFORE the stage (broadcast-sized dims), so the kernel sees
them as plain columns.

Skew: buckets are host-keyed, so a mega-host concentrates its rows in one
Arrow group. That group is BOUNDED by construction: the round's frontier
is the kernel's only input, and the frontier merge caps every host at
``RoundSpec.frontier_host_cap`` rows (round.CrawlRun._cap_frontier, the
dispatcher's per-host depth cut) — a host can contribute at most ``cap``
rows to its bucket, and a bucket holds ~n_hosts/n_buckets hosts of ≤ cap
rows each. An in-stage pre-prune cannot do better exactly: admission
keeps the top-budget UNSEEN rows, and seen-ness is only known inside the
probe — pruning before it could evict an unseen row that seen rows
out-rank. Use n_buckets ≫ executor slots.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .seen import _bucket_spread, contains, decode_signs


def fused_probe_admit(candidates: DataFrame, seen_state: DataFrame,
                      host_state: DataFrame, budgets: DataFrame | None,
                      default_budget: int, round_no: int) -> DataFrame:
    """Returns candidates + (maybe_seen, admitted). ``candidates`` must
    carry (url, host, depth, referer, vip, sign, bucket, score,
    priority)."""
    c = candidates.join(host_state, "host", "left")
    if budgets is not None:
        c = c.join(F.broadcast(budgets), "host", "left")
    else:
        c = c.withColumn("budget", F.lit(None).cast("int"))
    c = c.withColumn(
        "_budget", F.coalesce(F.col("budget"), F.lit(default_budget))
    ).withColumn(
        "_blocked",
        F.coalesce(F.col("dropped"), F.lit(False))
        | (F.coalesce(F.col("holdon_until_round"), F.lit(-1)) >= round_no),
    ).drop("budget", "consec_failures", "holdon_until_round", "dropped")

    out_schema = T.StructType(
        [f for f in c.schema.fields if not f.name.startswith("_")]
        + [
            T.StructField("maybe_seen", T.BooleanType(), False),
            T.StructField("admitted", T.BooleanType(), False),
        ]
    )
    keep_cols = [f.name for f in out_schema.fields]

    def fn(_key, cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame):
        if not len(cand_pdf):
            return pd.DataFrame(columns=keep_cols)
        signs = cand_pdf["sign"].to_numpy().astype(np.uint64)
        maybe_seen = contains(decode_signs(state_pdf), signs)
        cand_pdf = cand_pdf.assign(maybe_seen=maybe_seen, admitted=False)

        # J4 VIP override: seen VIP rows stay admission-eligible
        vip = cand_pdf["vip"].fillna(False).to_numpy(dtype=bool)
        unseen = cand_pdf.loc[~maybe_seen | vip]
        if len(unseen):
            # deterministic admission order: the frontier's total order
            s = unseen.sort_values(
                ["host", "priority", "score", "url"],
                ascending=[True, True, False, True],
                kind="mergesort",
            )
            rn = s.groupby("host", sort=False).cumcount()
            ok = (~s["_blocked"].fillna(False).to_numpy()) & (
                rn.to_numpy() < s["_budget"].to_numpy()
            )
            cand_pdf.loc[s.index[ok], "admitted"] = True
        return cand_pdf[keep_cols]

    return (
        _bucket_spread(c).groupBy("bucket")
        .cogroup(_bucket_spread(seen_state).groupBy("bucket"))
        .applyInPandas(fn, schema=out_schema)
    )
