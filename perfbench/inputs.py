"""Seeded inputs and their expected outputs.

Inputs are written before timing starts; the engine only ever sees the
parquet tables written here. The expected results come from independent
references: ``spider_spark.simulator`` for the crawl (cached per input and
plan, computed after the timed part) and the planted clusters for dedup.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import rulebook, simulator
from spider_spark.politeness import synthetic_robots
from spider_spark.spans import WebSpec, extract_outlinks, generate_documents


def cached(root: str, name: str, params, build) -> str:
    """Directory for ``name`` and everything that shapes it (``params``),
    built once by ``build(tmp_dir)``; a crash mid-build leaves no
    half-written cache behind."""
    tag = hashlib.sha1(repr(params).encode()).hexdigest()[:10]
    path = os.path.join(root, f"{name}-{tag}")
    if os.path.exists(os.path.join(path, "_READY")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_READY"), "w").close()
    os.replace(tmp, path)
    return path


# -- crawl -----------------------------------------------------------------

def build_crawl_inputs(spark: SparkSession, web: WebSpec, seed: int,
                       seed_mod: int, out: str) -> None:
    """docs (the web), seeds (a hash sample of its pages) and a (url, uv)
    signals table over a third of its pages, as ``crawl_job --signals``
    reads it."""
    generate_documents(spark, web).write.parquet(out + "/docs")
    docs = spark.read.parquet(out + "/docs")
    url = docs.select(F.col("doc_id").alias("url"))
    url.filter(
        F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(seed_mod)) == 0
    ).write.parquet(out + "/seeds")
    url.filter(F.pmod(F.xxhash64("url", F.lit(seed + 1)), F.lit(3)) == 0) \
        .select("url", F.pmod(F.xxhash64("url", F.lit(seed + 2)),
                              F.lit(400)).cast("double").alias("uv")) \
        .write.parquet(out + "/signals")


@contextlib.contextmanager
def _memoized_url_rules():
    """The simulator re-evaluates its per-URL rule functions for every raw
    outlink; both are pure functions of their arguments, so memoizing them
    for the duration of one simulation changes no result and makes the
    oracle affordable per seed."""
    orig = rulebook.will_filter_py, simulator.canonicalize
    rulebook.will_filter_py = functools.lru_cache(maxsize=None)(orig[0])
    simulator.canonicalize = functools.lru_cache(maxsize=None)(orig[1])
    try:
        yield
    finally:
        rulebook.will_filter_py, simulator.canonicalize = orig


def crawl_oracle(spark: SparkSession, inputs: str, n_hosts: int,
                 sim_spec: simulator.SimSpec, out: str) -> None:
    """Run the simulator on the same docs, robots, seeds and signals the
    engine reads; store its per-round admitted batches and crawled set."""
    docs = spark.read.parquet(inputs + "/docs")
    adj: dict[str, list[str]] = {}
    pdf = extract_outlinks(docs).toPandas()
    for d, o in zip(pdf["doc_id"], pdf["outlink"]):
        adj.setdefault(d, []).append(o)
    robots = simulator.SimRobots({
        r["host"]: (r["has_robots"], r["allow_all"],
                    list(r["disallow_prefixes"] or []))
        for r in synthetic_robots(spark, n_hosts).collect()
    })
    seeds = [r["url"] for r in spark.read.parquet(inputs + "/seeds")
             .orderBy("url").collect()]
    uv = {r["url"]: r["uv"] for r in
          spark.read.parquet(inputs + "/signals").collect()}
    spec = simulator.SimSpec(**{**sim_spec.__dict__, "signals": uv})
    with _memoized_url_rules():
        res = simulator.simulate(seeds, adj, robots, spec)
    rounds = res["rounds"] + [[]] * (spec.max_rounds - len(res["rounds"]))
    with open(out + "/oracle.json", "w") as f:
        json.dump({"rounds": rounds, "crawled": res["crawled"]}, f)


# -- corpus dedup ------------------------------------------------------------

# near copies replace a 3-word block with words outside the generator's
# vocabulary, so each hop is a guaranteed edit: ~5 of ~58 distinct 3-word
# shingles change per hop (Jaccard ~0.84 ≥ the 0.8 threshold), two hops
# change ~10 (~0.70 < 0.8) — chains are only connected hop by hop
NEAR_BLOCK = 3
NEAR_SLOTS = (5, 25, 45)


def build_corpus(spark: SparkSession, n_base: int, seed: int,
                 out: str) -> None:
    """``n_base`` web-generator pages (60 words of text each), plus planted
    duplicates: an exact copy of ~10% of them and a near-copy chain of 1-3
    hops off another ~10%. Ids sort base < copy, so the expected kept set
    is exactly the base ids."""
    web = WebSpec(n_hosts=max(1, n_base // 20), pages_per_host=20,
                  skew_hosts=1, skew_pages=0, links_per_page=20,
                  seed=2000 + seed)
    text = F.concat_ws(" ", F.transform(
        F.filter("spans", lambda s: s["kind"] == "text"),
        lambda s: s["text"]))
    base = generate_documents(spark, web).select(text.alias("text")) \
        .toPandas()["text"].tolist()
    rng = np.random.default_rng(seed)
    ids, texts = [], []
    for i, t in enumerate(base):
        ids.append(f"b{i:07d}")
        texts.append(t)
    roll = rng.integers(0, 10, size=len(base))
    for i in np.flatnonzero(roll == 0):
        ids.append(f"c{i:07d}")
        texts.append(base[i])
    near, pairs = {}, []
    for i in np.flatnonzero(roll == 1):
        words = base[i].split()
        prev = f"b{i:07d}"
        for hop in range(int(rng.integers(1, 4))):
            p = NEAR_SLOTS[hop] + int(rng.integers(0, 6))
            words[p:p + NEAR_BLOCK] = [
                f"zz{int(w)}" for w in rng.integers(0, 10**6, NEAR_BLOCK)]
            ids.append(f"n{i:07d}_{hop}")
            texts.append(" ".join(words))
            near[ids[-1]] = f"b{i:07d}"
            pairs.append(sorted((prev, ids[-1])))
            prev = ids[-1]
    order = rng.permutation(len(ids))
    pq.write_table(pa.table({"doc_id": [ids[j] for j in order],
                             "text": [texts[j] for j in order]}),
                   out + "/corpus.parquet", row_group_size=4096)
    with open(out + "/truth.json", "w") as f:
        json.dump({"kept": [f"b{i:07d}" for i in range(len(base))],
                   "n_docs": len(ids), "n_exact": int((roll == 0).sum()),
                   "near": near, "pairs": pairs}, f)


def digest(df: DataFrame, col: str) -> tuple[int, int]:
    """Order-independent (row count, sum of xxhash64) of a string column."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(col).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def digest_list(spark: SparkSession, values: list[str]) -> tuple[int, int]:
    return digest(spark.createDataFrame([(v,) for v in values], "v string"),
                  "v")
