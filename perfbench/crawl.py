"""``steady_recrawl``: the long-running crawler as a closed loop.

One SparkSession runs bootstrap and the first rounds (recrawl TTL on,
linkbase compaction every two rounds), then is stopped; a fresh
SparkContext and a fresh ``CrawlRun`` resume from the checkpoint and run the
rest. The next round starts only after the previous one commits.
Every round also carries the signals join and the per-row layers
(canonicalize, rule book, robots, fused probe+admit, seen update).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics

from pyspark.sql import functions as F

from spider_spark import politeness as pol
from spider_spark import simulator, urlkit
from spider_spark.fused import fused_probe_admit
from spider_spark.round import CrawlRun, RoundSpec
from spider_spark.rulebook import rule_book_keep
from spider_spark.seen import SignShards
from spider_spark.spans import WebSpec, extract_outlink_arrays

from . import inputs

WEB = WebSpec(n_hosts=400, pages_per_host=15, skew_hosts=5, skew_pages=1000,
              links_per_page=8)
POLITENESS = pol.PolitenessSpec(qps=1.0, round_seconds=4.0)  # 4 urls/host
TTL_ROUNDS = 3
COMPACT_EVERY = 2
N_BUCKETS = 8
MAX_DEPTH = 3
SEED_MOD = 8  # one page in eight seeds the crawl
# set-ups per run: the first is cold (JIT, first Python workers), the
# second warm
SETUP_REPS = 2


def plan_rounds(seconds: int) -> tuple[int, int]:
    """(rounds before the resume, total rounds), fixed by ``seconds``: about
    one round per 5 s, at least 3 — two before the resume, so that a
    compaction precedes it, and a third of them after it."""
    total = max(3, round(seconds / 5))
    return total - total // 3, total


def round_spec(max_rounds: int) -> RoundSpec:
    return RoundSpec(n_buckets=N_BUCKETS, max_depth=MAX_DEPTH,
                     max_rounds=max_rounds, politeness=POLITENESS,
                     recrawl_ttl_rounds=TTL_ROUNDS,
                     compact_every=COMPACT_EVERY)


def sim_spec(max_rounds: int) -> simulator.SimSpec:
    p = POLITENESS
    return simulator.SimSpec(
        default_budget=p.default_budget, max_depth=MAX_DEPTH,
        max_rounds=max_rounds, policy_level=p.robots_policy_level,
        holdon_failures=p.holdon_failures, holdon_rounds=p.holdon_rounds,
        max_failed_times=p.max_failed_times, round_seconds=p.round_seconds,
        recrawl_ttl_rounds=TTL_ROUNDS,
        frontier_host_cap=RoundSpec().frontier_host_cap)


class Tables:
    """The engine's inputs, bound to one SparkSession."""

    def __init__(self, spark, path: str):
        self.docs = spark.read.parquet(path + "/docs")
        self.seeds = spark.read.parquet(path + "/seeds")
        self.signals = spark.read.parquet(path + "/signals")
        self.robots = pol.synthetic_robots(spark, WEB.n_hosts)


def _wrap_round(bench) -> list:
    tr = bench.tracer
    undo = [tr.wrap(CrawlRun, "run_round", "round",
                    trace_of=lambda a: f"round{a[1]}"),
            tr.wrap(CrawlRun, "compact_linkbase", "compact")]
    if bench.traced:
        undo += [tr.wrap(CrawlRun, "_write", "write"),
                 tr.wrap(CrawlRun, "_write_linkbase_delta", "write")]
    return undo


def run(bench, seed: int, seconds: int) -> dict:
    n_first, n_total = plan_rounds(seconds)
    web = dataclasses.replace(WEB, seed=1000 + seed)
    spark = bench.start_session()
    # regenerated every run (a few seconds): the JVM then does the same
    # work before the timed part whether or not the oracle is cached
    path = os.path.join(bench.run_dir, "inputs")
    inputs.build_crawl_inputs(spark, web, seed, SEED_MOD, path)
    tr = bench.tracer
    ck = os.path.join(bench.run_dir, "ck")

    # set-up, several times: a fresh checkpoint and adjacency cache each
    # time; the last one is the crawl that runs
    t = Tables(spark, path)
    setups = []
    for k in range(SETUP_REPS):
        shutil.rmtree(ck, ignore_errors=True)
        with tr.span("setup", trace=f"setup{k}") as s:
            crawl = CrawlRun(spark, t.docs, t.robots, ck,
                             round_spec(n_first), signals=t.signals)
            crawl.bootstrap(t.seeds)
        setups.append(s["dur"])
        if k < SETUP_REPS - 1:
            crawl.adjacency.unpersist(blocking=True)

    undo = _wrap_round(bench)
    try:
        with tr.span("process1"):
            crawl.run(t.seeds, resume=True)
    finally:
        for u in undo:
            u()
    bench.restart_session()
    p2 = resume(bench, path, (web, seed, SEED_MOD), n_total)

    rounds = tr.named("round")
    compacts = tr.named("compact")
    resumed = tr.named("resume")[0]
    first_resumed = next(s for s in rounds if s["start"] >= resumed["start"])
    round_s = [s["dur"] for s in rounds]
    loop_s = sum(round_s) + sum(s["dur"] for s in compacts)
    n_admitted = sum(p2["admitted"])
    e2e = {
        "setup_s": bench.session_start_s + statistics.median(setups),
        "items_per_s": n_admitted / loop_s,
        "op_p50_s": statistics.median(round_s),
        "resume_s": first_resumed["end"] - resumed["start"],
    }
    bench.note(f"crawl_urls_per_s {e2e['items_per_s']:.1f} 1/s "
               f"({n_admitted} urls admitted in {loop_s:.2f} s of rounds "
               f"and compactions)")
    bench.note(f"round_p50_s {e2e['op_p50_s']:.3f} s (n={len(round_s)} "
               f"rounds: {', '.join(f'{x:.2f}' for x in round_s)})")
    bench.note(f"setup_s {e2e['setup_s']:.3f} s (session "
               f"{bench.session_start_s:.2f} + median of "
               f"{', '.join(f'{x:.2f}' for x in setups)})")
    bench.note(f"resume_s {e2e['resume_s']:.3f} s")

    layers = {}
    if bench.traced:
        layers = _layers(bench, p2, rounds, compacts, n_total)
    return {"e2e": e2e, "layers": layers}


def resume(bench, path: str, key: tuple, n_total: int) -> dict:
    """A fresh ``CrawlRun`` on the fresh session resumes from the
    checkpoint and runs to the end of the plan; then the output checks
    (and, traced, the single-layer replays) run against its state. The
    simulator's result, computed after the timed part, is cached per
    input and plan."""
    spark, tr = bench.spark, bench.tracer
    t = Tables(spark, path)
    undo = _wrap_round(bench)
    try:
        with tr.span("resume"):
            crawl = CrawlRun(spark, t.docs, t.robots,
                             os.path.join(bench.run_dir, "ck"),
                             round_spec(n_total), signals=t.signals)
            crawl.run(t.seeds, resume=True)
    finally:
        for u in undo:
            u()

    # -- output checks (untimed) -------------------------------------------
    oracle = bench.load_json(inputs.cached(
        bench.inputs_dir, "steady_recrawl-oracle", (key, sim_spec(n_total)),
        lambda d: inputs.crawl_oracle(spark, path, WEB.n_hosts,
                                      sim_spec(n_total), d))
        + "/oracle.json")
    lineage = crawl.lineage()
    admitted = {m["round"] - 1: m["metrics"]["admitted"]
                for m in lineage if "metrics" in m}
    want_rounds = oracle["rounds"]
    for r in range(n_total):
        bench.op(f"round {r}", admitted.get(r) == len(want_rounds[r]),
                 f"admitted {admitted.get(r)} vs simulator "
                 f"{len(want_rounds[r])}")
    # compaction keeps one linkbase row per url crawled so far
    for s in tr.named("compact"):
        c = s["result"]["compacted_through"]
        want = len(set().union(*want_rounds[:c + 1]))
        got = s["result"]["rows_after"]
        bench.op(f"compaction through round {c}", got == want,
                 f"linkbase rows {got} vs simulator crawled urls {want}")
    seen = crawl.seen_urls()
    got = inputs.digest_list(spark, seen)
    want = inputs.digest_list(spark, oracle["crawled"])
    bench.op("resume", got == want and seen == oracle["crawled"],
             f"seen set (count, xxhash64 sum) {got} vs simulator {want}, "
             "the simulator running uninterrupted")
    out = {"admitted": [admitted.get(r, 0) for r in range(n_total)],
           "lineage": lineage, "replays": {}}
    if bench.traced:
        out["replays"] = _replays(bench, crawl, t, n_total - 1)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layers(bench, p2, rounds, compacts, n_total) -> dict:
    """Per-round numbers from the event log and spans of both processes,
    plus process 2's single-layer replays."""
    tr, ev = bench.tracer, bench.event_log()
    per_round = [ev.window(s["start"], s["end"]) for s in rounds]
    writes = tr.named("write")
    write_s = []
    for s in rounds:
        mine = [w for w in writes
                if s["start"] <= w["start"] and w["end"] <= s["end"]]
        if mine:
            write_s.append(max(w["end"] for w in mine)
                           - min(w["start"] for w in mine))
    lineage = p2["lineage"]
    frontier_in = {0: lineage[0].get("frontier")}
    for m in lineage[1:]:
        frontier_in[m["round"]] = m["metrics"]["frontier_next"]
    admit_frac = [m["metrics"]["admitted"] / frontier_in[m["round"] - 1]
                  for m in lineage[1:] if frontier_in.get(m["round"] - 1)]
    out = {
        f"round.{k}": _median([w[k] for w in per_round])
        for k in ("driver_gap_s", "jobs", "tasks", "task_s", "cpu_s",
                  "gc_s", "shuffle_mb", "spill_mb", "cache_mb")
    }
    out["round.py4j_calls"] = _median([s["py4j"] for s in rounds])
    out["round.write_s"] = _median(write_s)
    out["round.compact_s"] = _median([s["dur"] for s in compacts])
    out["round.frontier_in"] = _median(
        [frontier_in[r] for r in range(n_total) if r in frontier_in])
    out["round.admit_frac"] = _median(admit_frac)
    for table, files in sorted((lineage[-1].get("files") or {}).items()):
        out[f"round.state_mb.{table}"] = sum(f["bytes"] for f in files) / 1e6
    out.update(p2["replays"])
    return out


def _replays(bench, crawl, t, r: int) -> dict:
    """Re-run single layers on the committed state round ``r`` read, each
    into a ``noop`` sink, untouched by the rest of the round's DAG."""
    tr = bench.tracer

    def timed(name, df):
        with tr.span(f"replay.{name}") as s:
            df.write.format("noop").mode("overwrite").save()
        return s["dur"]

    out = {}
    frontier = crawl.state_asof(r, "frontier")
    seen_state = crawl.state_asof(r, "seen_state")
    host_state = crawl.state_asof(r, "host_state")
    fetched = crawl.state_asof(r + 1, "linkbase").filter(F.col("round") == r)

    keyed = crawl._with_keys(frontier).cache()
    keyed.count()
    probe = fused_probe_admit(keyed, seen_state, host_state, None,
                              POLITENESS.default_budget, r)
    out["fused.probe_admit_s"] = timed("fused", probe)
    row = probe.select(F.avg(F.col("maybe_seen").cast("double"))).first()
    out["fused.seen_hit_frac"] = float(row[0] or 0.0)
    out["fused.max_group_rows"] = keyed.groupBy("bucket").count() \
        .agg(F.max("count")).first()[0] or 0
    keyed.unpersist()

    new_raw = (
        fetched.filter(F.col("success"))
        .select(F.col("url").alias("referer_url"),
                F.col("depth").alias("pdepth"))
        .join(crawl.adjacency, F.col("referer_url") == F.col("doc_id"))
        .select(F.explode("outlinks").alias("url"),
                (F.col("pdepth") + 1).alias("depth"),
                F.col("referer_url").alias("referer"))
        .groupBy("url").agg(F.min("depth").alias("depth"),
                            F.min("referer").alias("referer"))
    ).cache()
    n_raw = new_raw.count()
    out["urlkit.canon_rows"] = n_raw
    out["urlkit.fast_frac"] = float(new_raw.select(F.avg(
        urlkit.is_canonical(F.col("url")).cast("double"))).first()[0] or 0)
    canon = urlkit.canonicalize_urls_df(new_raw, "url")
    out["urlkit.canon_s"] = timed("urlkit", canon)
    parts = canon.filter(F.col("url").isNotNull()).withColumns({
        "host": urlkit.url_host(F.col("url")),
        "path": urlkit.url_path(F.col("url")),
        "query": urlkit.url_query(F.col("url")),
    }).cache()
    n_parts = parts.count()
    kept = parts.filter(rule_book_keep(F.col("url"), F.col("host"),
                                       F.col("path"), F.col("query")))
    n_kept = kept.count()
    out["rulebook.keep_frac"] = n_kept / n_parts if n_parts else 0.0
    n_robots = pol.robots_gate(pol.robots_level(kept, t.robots),
                               POLITENESS.robots_policy_level).count()
    out["politeness.robots_keep_frac"] = n_robots / n_kept if n_kept else 0.0
    parts.unpersist()
    new_raw.unpersist()

    out["politeness.update_s"] = timed("politeness", pol.update_host_state(
        host_state, fetched.select("host", "success"), POLITENESS, r))
    out["seen.update_s"] = timed("seen", SignShards().update(
        crawl._seen_keys(fetched), seen_state))
    out["seen.state_mb"] = (crawl.state_asof(r + 1, "seen_state").select(
        F.sum(F.length("state"))).first()[0] or 0) / 1e6

    adjacency = extract_outlink_arrays(t.docs)
    out["spans.adjacency_s"] = timed("spans", adjacency)
    out["spans.edges"] = adjacency.select(
        F.sum(F.size("outlinks"))).first()[0]
    return out
