"""spark-submit entrypoint for the log-analysis signal pipeline.

    spark-submit --master <master> --py-files spider_spark.zip \
        jobs/signals_job.py --pv <parquet> --out <dir> \
        [--md5-map <parquet>] [--search <parquet>] [--min-uv 1.99]

Re-expresses the reference's pv/search/click → ComputeUV chain (SURVEY
§3.3, log_analysis/uv_data.cc) as one job producing the ``(url, uv)``
signal table that ``jobs/crawl_job.py --signals`` joins into the frontier
score — the operational loop: crawl → logs → signals → next crawl's
ordering.

Inputs:
- ``--pv``: page-view log ``(uid, ts, url)`` — or ``(uid, ts, url_md5,
  ref_md5)`` plus ``--md5-map (md5, url, ts)``, in which case the J5
  md5→literal resolution runs first (latest-timestamp-wins map rows).
  An optional ``kind`` column weights rows per the ComputeUV table
  (wiki 5.0, forum/blog 0.4, …); absent → weight 1.0.
- ``--search``: search log ``(uid, ts, url[, click_url])``. Search
  result rows enter at weight 2.0 (search_log); rows with a non-null
  ``click_url`` also emit that target at weight 10.0 (search_click) —
  the strongest signal in the reference's table.

``--min-uv`` drops weak urls; the reference's production floor is
UV_LOWERBOUND = 1.99 (uv_data.cc:47), default here 0.0 (keep all).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pv", required=True, help="page-view log parquet")
    p.add_argument("--out", required=True, help="output dir for (url, uv)")
    p.add_argument("--md5-map", help="(md5, url, ts) parquet for J5 "
                                     "resolution of url_md5/ref_md5 logs")
    p.add_argument("--search", help="search log parquet")
    p.add_argument("--min-uv", type=float, default=0.0,
                   help="drop urls below this uv (reference floor: 1.99)")
    args = p.parse_args()

    spark = SparkSession.builder.appName("spider-signals").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from spider_spark import frontier, logs

    t0 = time.time()
    pv = spark.read.parquet(args.pv)
    if "url_md5" in pv.columns and not args.md5_map:
        p.error("the --pv log has a url_md5 column: pass --md5-map "
                "(md5, url, ts) to resolve it to literal urls")
    if "url_md5" not in pv.columns and "url" not in pv.columns:
        p.error("the --pv log needs a url column or a url_md5 column "
                f"(with --md5-map); it has {pv.columns}")
    if "url_md5" in pv.columns:
        md5_map = spark.read.parquet(args.md5_map)
        if "ref_md5" not in pv.columns:
            pv = pv.withColumn("ref_md5", F.lit(None).cast("string"))
        pv = logs.resolve_md5_urls(pv, md5_map).withColumn(
            "url",
            F.coalesce(
                F.col("url") if "url" in pv.columns else F.lit(None),
                F.col("url_literal"),
            ),
        ).filter(F.col("url").isNotNull())
    kind = (F.col("kind") if "kind" in pv.columns
            else F.lit("default")).alias("source_kind")
    sources = [pv.select(F.col("uid").alias("user_id"), "url", kind)]

    if args.search:
        search = spark.read.parquet(args.search)
        sources.append(search.select(
            F.col("uid").alias("user_id"), "url",
            F.lit("search_log").alias("source_kind"),
        ))
        if "click_url" in search.columns:
            sources.append(
                search.filter(F.col("click_url").isNotNull()).select(
                    F.col("uid").alias("user_id"),
                    F.col("click_url").alias("url"),
                    F.lit("search_click").alias("source_kind"),
                )
            )

    all_logs = sources[0]
    for s in sources[1:]:
        all_logs = all_logs.unionByName(s)

    signals = frontier.uv_aggregate(all_logs)
    if args.min_uv > 0:
        signals = signals.filter(F.col("uv") >= args.min_uv)
    signals.write.mode("overwrite").parquet(args.out)

    out = spark.read.parquet(args.out)
    print(json.dumps({
        "urls": out.count(),
        "uv_sum": round(out.agg(F.sum("uv")).first()[0] or 0.0, 3),
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
