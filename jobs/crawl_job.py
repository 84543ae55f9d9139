"""spark-submit entrypoint for the crawl engine.

    spark-submit --master <master> --py-files spider_spark.zip \
        jobs/crawl_job.py --docs <parquet dir> --ckpt <dir> \
        [--seeds <parquet dir with url col>] [--rounds N] [--resume]

Build the zip with:  python -m zipfile -c spider_spark.zip spider_spark

The session is taken from spark-submit's conf (no master hardcoded); on a
cluster the same invocation runs at N or 4N executors via
--num-executors / --conf spark.executor.instances.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True, help="interleaved-docs parquet")
    p.add_argument("--ckpt", required=True, help="checkpoint root dir")
    p.add_argument("--seeds", help="seed parquet (url column); default: "
                                   "deterministic sample of doc_ids")
    p.add_argument("--rounds", type=int, default=5)
    p.add_argument("--qps", type=float, default=10.0)
    p.add_argument("--round-seconds", type=float, default=5.0)
    p.add_argument("--max-depth", type=int, default=4)
    p.add_argument("--n-buckets", type=int, default=128)
    p.add_argument("--n-hosts", type=int, default=0,
                   help="host universe for the synthetic robots dim; 0 = "
                        "derive from docs")
    p.add_argument("--recrawl-ttl", type=int, default=0,
                   help="re-admit urls whose latest crawl is >= this many "
                        "rounds old (0 = never)")
    p.add_argument("--signals", help="(url, uv) parquet from the "
                                     "log-analysis pipeline — joined into "
                                     "the frontier score")
    p.add_argument("--host-ips", help="(host, ip) parquet dim")
    p.add_argument("--ip-budgets", help="(ip, budget) parquet dim")
    p.add_argument("--compact-every", type=int, default=0,
                   help="fold committed linkbase deltas (latest-wins) "
                        "every N rounds; 0 = never")
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()
    for flag, v in (("--recrawl-ttl", args.recrawl_ttl),
                    ("--compact-every", args.compact_every)):
        if v < 0:
            p.error(f"{flag} must be >= 0 (0 = never), got {v}")

    spark = SparkSession.builder.appName("spider-crawl").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from spider_spark import urlkit
    from spider_spark.politeness import PolitenessSpec, synthetic_robots
    from spider_spark.round import CrawlRun, RoundSpec

    docs = spark.read.parquet(args.docs)
    if args.n_hosts:
        n_hosts = args.n_hosts
    else:
        n_hosts = docs.select(
            urlkit.url_host(F.col("doc_id")).alias("h")
        ).distinct().count()
    robots = synthetic_robots(spark, n_hosts)

    run = CrawlRun(
        spark, docs, robots, args.ckpt,
        RoundSpec(
            n_buckets=args.n_buckets, max_depth=args.max_depth,
            max_rounds=args.rounds,
            politeness=PolitenessSpec(qps=args.qps,
                                      round_seconds=args.round_seconds),
            recrawl_ttl_rounds=args.recrawl_ttl or None,
            compact_every=args.compact_every or None,
        ),
        signals=spark.read.parquet(args.signals) if args.signals else None,
        host_ips=spark.read.parquet(args.host_ips) if args.host_ips else None,
        ip_budgets=(spark.read.parquet(args.ip_budgets)
                    if args.ip_budgets else None),
    )
    if args.seeds:
        seeds = spark.read.parquet(args.seeds).select("url")
    else:
        seeds = docs.select(F.col("doc_id").alias("url")).filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0
        )

    t0 = time.time()
    results = run.run(seeds, resume=args.resume)
    wall = time.time() - t0
    scheduled = sum(r["admitted"] for r in results)
    print(json.dumps({
        "rounds": len(results),
        "urls_scheduled": scheduled,
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(scheduled / wall, 1) if wall else None,
        "last_round": run.last_committed_round(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
