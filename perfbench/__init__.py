"""Crawl-engine benchmark: seeded workloads driven through the public
``spider_spark`` API, with output checks and a traced per-layer mode.
Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``."""
