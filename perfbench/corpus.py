"""``corpus_dedup``: the training-data dedup chain, no crawl layer.

Calls the ``spider_spark.dedup`` public functions in the order
``jobs/dedup_job.py --method minhash`` uses them — exact groups and
survivors, MinHash-LSH pairs with exact Jaccard verify, connected
components over the pairs, keep rows written — as a closed loop of whole
passes over one planted-duplicate corpus.
"""

from __future__ import annotations

import os
import shutil
import statistics

from spider_spark import dedup

from . import inputs

N_BASE = 3_000  # base pages; planted copies bring the corpus to ~3.9k
SETUP_REPS = 3


def _exact(spark, path, out):
    docs = spark.read.parquet(path).select("doc_id", "text")
    dedup.exact_duplicates(docs).write.mode("overwrite").parquet(
        out + "/exact_groups")
    survivors = dedup.dedup_exact(docs)
    return survivors, survivors.count()


def _pass(bench, path: str, out: str, trace: str,
          name: str = "pass") -> dict:
    """One pipeline pass: a span ``name`` with a span ``<name>.<stage>`` per
    stage. Returns what the checks read; the caller unpersists ``pairs``
    and ``clusters``."""
    spark, tr = bench.spark, bench.tracer
    with tr.span(name, trace=trace) as whole:
        with tr.span(f"{name}.exact", trace=trace):
            survivors, n_surv = _exact(spark, path, out)
        with tr.span(f"{name}.minhash", trace=trace):
            pairs = dedup.minhash_near_duplicates(survivors).persist()
            n_pairs = pairs.count()
        with tr.span(f"{name}.resolve", trace=trace):
            clusters = dedup.resolve_pair_clusters(pairs).persist()
            clusters.count()
            clusters.write.mode("overwrite").parquet(out + "/near_clusters")
        with tr.span(f"{name}.keep", trace=trace):
            dedup.dedup_keep_rows(survivors, clusters).write.mode(
                "overwrite").parquet(out + "/kept")
            spark.read.parquet(out + "/kept").count()
    return {"dur": whole["dur"], "survivors": n_surv, "pairs": pairs,
            "n_pairs": n_pairs, "clusters": clusters}


def _check(bench, k, p: dict, out: str, truth: dict, want) -> None:
    """Every stage's output against the planted truth."""
    spark = bench.spark
    n_groups = spark.read.parquet(out + "/exact_groups").count()
    n_surv = truth["n_docs"] - truth["n_exact"]
    bench.op(f"pass {k} exact",
             (n_groups, p["survivors"]) == (truth["n_exact"], n_surv),
             f"(exact groups, survivors) {(n_groups, p['survivors'])} vs "
             f"planted {(truth['n_exact'], n_surv)}")
    near = truth["near"]
    pairs = {(r["a"], r["b"]) for r in p["pairs"].collect()}
    planted = {tuple(x) for x in truth["pairs"]}
    stray = [x for x in pairs if near.get(x[0], x[0]) != near.get(x[1], x[1])]
    bench.op(f"pass {k} minhash", planted <= pairs and not stray,
             f"{len(planted - pairs)} planted pairs missed, {len(stray)} "
             "pairs across planted clusters")
    keep = dict(p["clusters"].select("id", "keep_id").collect())
    wrong = [i for i, b in near.items() if keep.get(i) != b]
    bench.op(f"pass {k} resolve", not wrong and len(keep) == len(
        set(near) | set(near.values())),
             f"{len(wrong)} near copies not resolved to their base, "
             f"{len(keep)} clustered ids")
    got = inputs.digest(spark.read.parquet(out + "/kept"), "doc_id")
    bench.op(f"pass {k} keep", got == want,
             f"kept (count, xxhash64 sum) {got} vs planted {want}")
    p["pairs"].unpersist()
    p["clusters"].unpersist()


def run(bench, seed: int, seconds: int) -> dict:
    spark = bench.start_session()
    # regenerated every run (a few seconds), so the JVM does the same work
    # before the timed part in every run
    path = os.path.join(bench.run_dir, "inputs")
    os.makedirs(path)
    inputs.build_corpus(spark, N_BASE, seed, path)
    truth = bench.load_json(path + "/truth.json")
    corpus = path + "/corpus.parquet"
    tr = bench.tracer

    scans = []
    for k in range(SETUP_REPS):
        with tr.span("setup", trace=f"scan{k}") as s:
            n_docs = spark.read.parquet(corpus).count()
        scans.append(s["dur"])

    # The first pass in a fresh JVM is ~1.6x slower (JIT, Python worker
    # start): it is what a restarted dedup job pays before its first
    # committed result, reported as resume_s; the passes after it are
    # the warm throughput.
    want = inputs.digest_list(spark, truth["kept"])
    out = os.path.join(bench.run_dir, "first")
    p = _pass(bench, corpus, out, "first", "first")
    _check(bench, "first", p, out, truth, want)
    resume_s = p["dur"]
    shutil.rmtree(out, ignore_errors=True)

    walls = []
    while len(walls) < max(3, round(seconds / 5)):
        out = os.path.join(bench.run_dir, f"pass{len(walls)}")
        p = _pass(bench, corpus, out, f"pass{len(walls)}")
        _check(bench, len(walls), p, out, truth, want)
        walls.append(p["dur"])
        n_pairs = p["n_pairs"]
        shutil.rmtree(out, ignore_errors=True)

    e2e = {
        "setup_s": bench.session_start_s + statistics.median(scans),
        "items_per_s": n_docs / statistics.median(walls),
        "op_p50_s": statistics.median(walls),
        "resume_s": resume_s,
    }
    bench.note(f"dedup_docs_per_s {e2e['items_per_s']:.1f} 1/s ({n_docs} "
               f"docs; pass walls {', '.join(f'{x:.2f}' for x in walls)})")
    bench.note(f"setup_s {e2e['setup_s']:.3f} s (session "
               f"{bench.session_start_s:.2f} + median scan of "
               f"{', '.join(f'{x:.3f}' for x in scans)})")
    bench.note(f"resume_s {e2e['resume_s']:.3f} s (first pass in a fresh "
               "JVM, to its kept rows written)")
    layers = {}
    if bench.traced:
        layers = _layers(bench, corpus, n_pairs)
    return {"e2e": e2e, "layers": layers}


def _layers(bench, corpus: str, n_pairs: int) -> dict:
    """Stage times from the spans, jobs and task totals from the event
    log, and the LSH candidate count from a replay of that stage."""
    spark, tr = bench.spark, bench.tracer
    survivors = dedup.dedup_exact(
        spark.read.parquet(corpus).select("doc_id", "text"))
    with tr.span("replay.lsh"):
        n_cand = dedup.lsh_candidates(survivors).count()
    ev = bench.event_log()
    out = {"dedup.lsh_candidates": n_cand,
           "dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0}
    for stage in ("exact", "minhash", "resolve", "keep"):
        out[f"dedup.{stage}_s"] = statistics.median(
            s["dur"] for s in tr.named(f"pass.{stage}"))
    out["dedup.resolve_jobs"] = statistics.median(
        ev.window(s["start"], s["end"])["jobs"]
        for s in tr.named("pass.resolve"))
    whole = [ev.window(s["start"], s["end"]) for s in tr.named("pass")]
    out["dedup.task_s"] = statistics.median(w["task_s"] for w in whole)
    out["dedup.shuffle_mb"] = statistics.median(w["shuffle_mb"]
                                                for w in whole)
    return out
