"""Ordering witness for the simulator-lockstep tests: each round's admitted
batch, read back from committed state.

Round r's admitted batch is exactly linkbase delta r (one row per fetch),
committed by manifest r+1. It is read right after ``run_round(r)`` returns
— before ``run()`` may call ``compact_linkbase``, which rewrites each delta
so a url's latest fetch wins and a recrawled url leaves its earlier
round's delta."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.round import CrawlRun


class WitnessRun(CrawlRun):
    """A CrawlRun whose round results also carry ``batch``: the sorted
    urls the round admitted."""

    def run_round(self, r: int) -> dict:
        res = super().run_round(r)
        delta = self.state_asof(r + 1, "linkbase").filter(F.col("round") == r)
        return {**res, "batch": sorted(x["url"] for x in
                                       delta.select("url").collect())}


def batches(results: list[dict]) -> list[list[str]]:
    """Per-round admitted batches with trailing empty rounds dropped (the
    simulator stops at the first empty round)."""
    out = [r["batch"] for r in results]
    while out and not out[-1]:
        out.pop()
    return out
