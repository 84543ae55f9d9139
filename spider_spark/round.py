"""The micro-batch crawl round: the engine's flagship pipeline.

One round re-expresses the reference's full batch cycle (SURVEY.md §3.1,
prepare_crawl_data.sh → run_schedule.sh → fetchers → merges) and the online
queue cycle (§3.2, scheduler.cc:316-438) as ONE DataFrame DAG per round,
with durable state between rounds:

    frontier ──(fused seen-probe + per-host admission, fused.py)──▶
             admitted ∪ carry
    admitted ──(simulated fetch over the documents table)──▶ results
     results ──(span outlink extraction → canonicalize → rules → robots
                → depth cap → in-batch dedup)──▶ new candidates
    frontier' = carry ∪ new;   seen' += admitted;   linkbase += results

State tables checkpointed per round (parquet dirs laid out Iceberg-style —
snapshot-per-round with a JSON lineage manifest; production target is an
Iceberg catalog, the layout keys are identical):

    {ckpt}/round=NNNN/{frontier,seen_state,host_state}/   + linkbase/round=NNNN/
    {ckpt}/round=NNNN/manifest.json    (lineage + metrics; commit marker)

Resume = read the highest round with a manifest (donelist protocol role,
link_merge.sh:30-57).

Determinism: no wall clock, no rand() — the round counter is the logical
time (the reference's µs timestamps, crawl_info.proto:10-15, become
``round_no``), every tie is broken by url ordering, and the simulated fetch
is a pure function of the documents table.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import politeness as pol
from . import urlkit
from .fused import fused_probe_admit
from .seen import SignShards
from .spans import extract_outlink_arrays

# logical clock anchor: round r fetches stamp 2020-01-01 + r days
_EPOCH_2020 = 1_577_836_800

# one linkbase row per fetch attempt (mr_selector_r1_mapper.cc:198-201
# record, reduced to the fields the downstream loops consume)
LINKBASE_SCHEMA = (
    "url string, host string, depth int, success boolean, "
    "response_code int, http_header string, last_fetch_ts long, "
    "update_fail_cnt int"
)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("referer", T.StringType(), True),
        T.StructField("vip", T.BooleanType(), False),
    ]
)


@dataclass(frozen=True)
class RoundSpec:
    """Knobs of one crawl run. Defaults mirror the reference's deployed
    config (BASELINE.md §A)."""

    n_buckets: int = 256         # seen-shard / fused-kernel bucket count.
    # A bucket is ONE Arrow group whose input is bounded by
    # Σ over its hosts of min(host_rows, frontier_host_cap) — so per-group
    # rows ≈ frontier_size / n_buckets on a spread frontier and ≤
    # hosts_per_bucket × cap under skew. Size it ≫ executor slots AND so
    # frontier/n_buckets fits one Arrow batch comfortably (≤ ~10^7 rows);
    # at a 10^10-row frontier that means n_buckets ≥ ~2048, not this
    # library default.
    max_depth: int = 4           # extractor depth gate, url.proto:9-11
    max_rounds: int = 50
    politeness: pol.PolitenessSpec = field(default_factory=pol.PolitenessSpec)
    recrawl_ttl_rounds: int | None = None  # scheduler.cc:381-393: a url
    # whose latest crawl is ≥ ttl rounds old stops counting as seen (its
    # sign is deleted from the shard), so rediscovery re-admits it.
    compact_every: int | None = None  # fold committed linkbase deltas
    # (latest-round-wins, compact_linkbase) every N committed rounds —
    # bounds the delta-partition count a long crawl accumulates
    rule_book_strict: bool = False  # swap in the selector's STRICT rule
    # tables (kPathPostfixBlackList2 / kFilterQueryArray2 / the widened
    # rule book — crawler_selector_util.cc:42-51,147-237): additionally
    # drops search-result pages (q=/wd=/keyword= queries, search.* paths)
    # and ad-click endpoints. The reference flips this per-deployment
    # (FLAGS-driven); default mirrors the normal selector.
    frontier_host_cap: int | None = 100_000  # per-host frontier depth cap
    # applied at the carry ∪ new merge (reducer_compress_control.cc:128-169
    # — the dispatcher sorts each host's pending URLs and drops overflow
    # past the PV-derived budget, FLAGS_ignore_overload_urls). Keeps the
    # frontier bounded when discovery rate ≫ qps AND bounds the fused
    # kernel's per-host Arrow-group contribution: with the cap, a
    # mega-host can put at most `cap` rows into its host bucket. Overflow
    # rows are dropped (re-extraction rediscovers them); order kept is
    # (vip desc, depth asc, url asc) — VIPs always survive the cut.


def score_expr(depth, uv=None):
    """Frontier score: depth-decay base plus the log-derived UV signal when
    a signal table is wired in (mr_selector_r1_mapper.cc:166-174 uv_rank
    case / uv_data.cc:544-591 weights — the signal VALUES are produced by
    frontier.uv_aggregate over pv/search logs; here they join the score).
    Pure function of (depth, uv) so the Python simulator reproduces it
    exactly."""
    base = F.lit(1000.0) / (depth.cast("double") + F.lit(1.0))
    if uv is None:
        return base
    return base + F.coalesce(uv.cast("double"), F.lit(0.0))


def band_base(score):
    """Deterministic priority band (scheduler.cc:192-205 thresholds, band
    base without the in-band random spread — determinism rule §4)."""
    return (
        F.when(score >= 500, 0)
        .when(score >= 100, 10)
        .when(score >= 10, 30)
        .otherwise(50)
    ).cast("int")


class CrawlRun:
    """Drives crawl rounds over a documents table with durable checkpoints."""

    def __init__(self, spark: SparkSession, docs: DataFrame, robots: DataFrame,
                 ckpt_dir: str, spec: RoundSpec = RoundSpec(),
                 budgets: DataFrame | None = None,
                 signals: DataFrame | None = None,
                 host_ips: DataFrame | None = None,
                 ip_budgets: DataFrame | None = None,
                 extract_rules: list[tuple[str, str, str]] | None = None):
        self.spark = spark
        self.spec = spec
        self.ckpt = ckpt_dir
        self.robots = robots
        # load-time CHECK on window-keyed budget dims (the reference
        # CHECK-fails bad windows in SetIpLoadRecords at config load; a
        # silently-unmatchable window would fall back to the default
        # budget all day with no error) — once per run, never per round
        pol.validate_budget_windows(budgets)
        self.budgets = budgets
        # per-referer extract whitelist (E3, extractor.cc:202-281): ordered
        # (host_glob, path_glob, target_regex) rules gating which outlinks
        # each referer may emit — a bounded config (url_extract_rule file)
        self.extract_rules = extract_rules
        # per-ip politeness dim (load_controller.h:18-52): (host, ip) +
        # (ip, budget) broadcast dims; admission caps each ip's admitted
        # rows per round when both are present
        self.host_ips = host_ips
        self.ip_budgets = ip_budgets
        # (url, uv) signal table from the log-analysis half
        # (frontier.uv_aggregate over pv/search/click logs) — joined into
        # the frontier score each round, closing the reference's §3.3→§3.1
        # loop. At 10^9 urls this is a url-keyed shuffle join; the frontier
        # and signal table share the url domain so AQE plans it sort-merge.
        # aggregate to one row per url: the per-round left join multiplies
        # frontier rows on duplicate signal urls (a url admitted twice in
        # one round, double budget slots, double linkbase rows) — trivially
        # produced by appending log-analysis outputs across days. max(uv)
        # is the deterministic merge (the selector keeps the strongest
        # signal record per url, mr_selector_r1_reducer.cc:62-108).
        self.signals = (
            signals.select(F.col("url"), F.col("uv").cast("double"))
            .groupBy("url").agg(F.max("uv").alias("uv"))
            if signals is not None else None
        )
        self.shards = SignShards()
        # Pre-extract the adjacency once: (doc_id, outlink). At scale this
        # is the Iceberg documents table scanned with column pruning (spans
        # only); the extraction is JVM-side higher-order functions. Persist
        # both — every round's actions re-derive from them, and without the
        # persist a generator-backed docs DataFrame re-runs generation +
        # extraction per action (the dominant cost in profiling).
        self.docs = docs
        # explicit partition counts: a parquet-backed docs table can read
        # as a handful of 128MB splits, and every downstream stage of the
        # cached adjacency would inherit that ceiling (measured 2-3x
        # scaling loss) — spread to the session's full parallelism
        n_part = spark.sparkContext.defaultParallelism * 2
        # PACKED adjacency: one row per page with its outlink array — the
        # per-round join probes ~links_per_page× fewer rows and the edge
        # explode runs only on the matched (fetched) pages. This ONE cached
        # table also serves the simulated fetch (L4): its pruned doc_id
        # column is the url-existence table (see run_round step 3), so no
        # second cached table is built. The fetch and extraction joins
        # stay SEPARATE thin joins on purpose — see the run_round step-3
        # note for the measured anti-fusion tradeoff.
        # dropDuplicates guarantees the at-most-one-fetch-row invariant
        # even on a malformed docs table with repeated doc_ids; it rides
        # the repartition exchange (same key), no extra shuffle.
        adjacency = (
            extract_outlink_arrays(docs).repartition(n_part, "doc_id")
            .dropDuplicates(["doc_id"])
        )
        # the default columnar compression stays ON for this corpus-scale
        # cache: at 10^11 edges the outlink array column is ~6 TB raw, and
        # dict/RLE over repeated host prefixes is the difference between
        # caching it and spilling it
        self.adjacency = adjacency.persist()

    def _persist_round(self, df: DataFrame) -> DataFrame:
        """Persist a per-round cache with in-memory columnar compression
        OFF. These caches (probed frontier, fetched batch, deduped
        outlinks, merged next frontier, bootstrap candidates) are
        round-snapshot-scale — O(frontier + batch) rows of short strings,
        ~1.5 GB/executor at a 10^10-URL frontier on 1000 executors — so
        memory does not bind for them, and skipping the dict/RLE codec
        saves CPU on their many per-round consumer scans (measured within
        noise on a local box; the choice rests on the memory argument).
        The conf is read at cache-BUILD time, so toggling it around
        ``.persist()`` scopes the choice to this one cache; the
        finally-restore keeps the session default — which the corpus-scale
        adjacency cache uses — untouched even if plan analysis throws."""
        spark = df.sparkSession
        key = "spark.sql.inMemoryColumnarStorage.compressed"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            return df.persist()
        finally:
            spark.conf.set(key, prev)

    # -- candidate hygiene: one place that turns raw urls into frontier rows
    def _prepare_candidates(self, urls: DataFrame,
                            from_code: str = "E",
                            fast_col: str | None = None) -> DataFrame:
        """canonicalize → rule filter → robots gate → frontier columns.
        ``urls`` needs (url, depth, referer). ``from_code`` is the source
        tag (crawled_resource.proto:41-50): 'U' seeds, 'E' extracted — it
        feeds the VIP flag (P9/J4: VIP rows bypass the seen-drop,
        mr_selector_r1_reducer.cc:62-108). ``fast_col`` optionally names a
        precomputed ``is_canonical`` boolean on ``urls`` (see
        canonicalize_urls_df)."""
        from .selector import apply_extract_rules, is_vip

        c = urlkit.canonicalize_urls_df(urls, "url", fast_col=fast_col)
        c = c.filter(F.col("url").isNotNull())
        # E3 whitelist gates the canonical url against the referer's rule
        # (extractor.cc:243-252 FullMatch on gurl.spec()) before everything
        # else — NULL-referer rows (seeds, enqueued sources) bypass
        c = apply_extract_rules(c, self.extract_rules)
        c = c.withColumn("vip", is_vip(F.lit(from_code), F.col("url")))
        # post-UDF the url is a plain attribute; host/path/query are single
        # regexp_extracts computed once as named columns (keeps the plan flat)
        c = c.withColumns(
            {
                "host": urlkit.url_host(F.col("url")),
                "path": urlkit.url_path(F.col("url")),
                "query": urlkit.url_query(F.col("url")),
            }
        )
        # P7's full config: host black/restrict lists + the ~70-row site
        # rule book (crawler_selector_util.cc:32-237, shipped as data in
        # rulebook.py) — the reference selector's WillFilterAccordingRules
        # gate, scheme check relaxed to admit https. This is the ONLY
        # rule gate in the round: the looser standalone
        # urlkit.url_rule_filter (approximate data, pre-rulebook) used to
        # run as well, which made the non-strict round STRICTER than the
        # reference selector (e.g. dropped ?wd=/.mp4 urls the reference
        # keeps) and paid two extra alternation regexes per row. Runs on
        # the post-dedup candidate set; And/Or short-circuiting keeps the
        # common row at two set probes + two alternation regexes.
        # Measured cost at bench scale (cpus=32, alternating A/B, best
        # pairs): ~1 s/round — mostly per-round planning/codegen of the
        # wide expression, not row eval (0.3 s per 2M rows measured warm;
        # the built Column is memoized in rulebook to kill the py4j
        # construction cost). The reference selector applies this gate to
        # every candidate, so the round does too.
        from .rulebook import rule_book_keep

        c = c.filter(rule_book_keep(
            F.col("url"), F.col("host"), F.col("path"), F.col("query"),
            strict=self.spec.rule_book_strict,
        ))
        # black-hole gate (resource_saver.cc:239): drop same-host
        # query→query outlinks of faceted-navigation trap hosts. Costs
        # one literal host probe on the common row (And short-circuits).
        from .selector import is_black_hole_link

        c = c.filter(~is_black_hole_link(
            F.col("host"), F.col("query"), F.col("referer")))
        c = pol.robots_level(c, self.robots)
        c = pol.robots_gate(c, self.spec.politeness.robots_policy_level)
        c = c.filter(F.col("depth") <= self.spec.max_depth)
        return c.select("url", "host", "depth", "referer", "vip")

    def _with_keys(self, frontier: DataFrame) -> DataFrame:
        # host-keyed buckets: the fused kernel groups probe+admission per
        # bucket, so a host's rows must share one (see fused.py for the
        # skew bound)
        if self.signals is not None:
            frontier = frontier.join(self.signals, "url", "left")
            score = score_expr(F.col("depth"), F.col("uv"))
        else:
            score = score_expr(F.col("depth"))
        out = (
            frontier.withColumn("sign", urlkit.url_sign64(F.col("url")))
            .withColumn("bucket",
                        urlkit.host_bucket(F.col("host"), self.spec.n_buckets))
            .withColumn("score", score)
            .withColumn("priority", band_base(score))
        )
        return out.drop("uv") if self.signals is not None else out

    def _cap_frontier(self, frontier: DataFrame, cap: int) -> DataFrame:
        """T3-style per-host frontier depth cut at the merge
        (reducer_compress_control.cc:128-169: sort the host's pending URLs,
        keep the budget head, drop overflow). Order is (vip desc, depth
        asc, url asc) — deterministic, signal-free, VIP-preserving; the
        Python simulator applies the identical rule.

        Plan shape — the common round must not pay for the rare mega-host:

        1. **hot-host split**: per-host counts (partial-agg, output ≤ one
           row per host) find the over-cap hosts. They are structurally
           few — each holds > cap rows, so there are < N/cap of them
           (< 10⁵ at a 10¹⁰-row frontier with the default cap) — and are
           BROADCAST; under-cap hosts bypass via a broadcast anti-join
           (no shuffle). When no host exceeds the cap the window stages
           see zero rows.
        2. **two-level salted windows** over the hot rows only: level 1
           keeps each (host, salt)'s local top-cap — the global per-host
           top-cap is a subset of the union — so no single task sorts a
           mega-host's full candidate set; level 2 ranks ≤ cap ×
           salt_buckets survivors.

        The groupBy-merge exchange feeding this is identical in the count
        subquery and both branches, so Spark computes it once
        (ReusedExchange).
        """
        order = (F.desc("vip"), F.asc("depth"), F.asc("url"))
        hot = (
            frontier.groupBy("host").count()
            .filter(F.col("count") > cap).select("host")
        )
        cold = frontier.join(F.broadcast(hot), "host", "left_anti")
        capped = frontier.join(F.broadcast(hot), "host", "left_semi")
        n_salt = self.spec.politeness.salt_buckets
        if n_salt > 1:
            salt = F.pmod(F.xxhash64("url"), F.lit(n_salt))
            w1 = Window.partitionBy("host", salt.alias("_s")).orderBy(*order)
            capped = (
                capped.withColumn("_r1", F.row_number().over(w1))
                .filter(F.col("_r1") <= cap).drop("_r1")
            )
        w2 = Window.partitionBy("host").orderBy(*order)
        capped = (
            capped.withColumn("_r2", F.row_number().over(w2))
            .filter(F.col("_r2") <= cap).drop("_r2")
        )
        return cold.unionByName(capped)

    def _seen_keys(self, df: DataFrame) -> DataFrame:
        """(bucket, sign) under the SAME keying _with_keys uses — the
        layout contract the resume validator guards."""
        return df.select(
            urlkit.host_bucket(F.col("host"), self.spec.n_buckets)
            .alias("bucket"),
            urlkit.url_sign64(F.col("url")).alias("sign"),
        )

    # -- per-round paths ----------------------------------------------------

    def _round_dir(self, r: int) -> str:
        return os.path.join(self.ckpt, f"round={r:04d}")

    def _write(self, df: DataFrame, r: int, name: str) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self._round_dir(r), name)
        )

    # state-table schemas are fixed by this module / politeness.py — bind
    # them on read: parquet schema inference costs a driver-side Spark job
    # + footer read per call (~90 ms × 3 state reads per round, measured
    # in the cProfile of the round's driver thread), and on an object
    # store it is a remote round-trip.
    _STATE_SCHEMAS = {
        "frontier": FRONTIER_SCHEMA,
        "seen_state": "bucket int, state binary",
        "host_state": pol.HOST_STATE_SCHEMA,
    }

    def _read(self, r: int, name: str) -> DataFrame:
        reader = self.spark.read
        schema = self._STATE_SCHEMAS.get(name)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(os.path.join(self._round_dir(r), name))

    def _table_files(self, path: str) -> list[dict]:
        """Per-data-file stats for one just-written state table — the
        Iceberg manifest-list role (snapshot → manifest → data files with
        row counts/sizes). Read from the parquet footers driver-side:
        zero extra Spark jobs, and on an object store the same footers are
        what a real Iceberg commit records. Files are the partition unit
        (one file per written partition), so this IS the per-partition
        lineage the commit marker carries."""
        import pyarrow.parquet as pq

        out = []
        for fn in sorted(os.listdir(path)):
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            p = os.path.join(path, fn)
            out.append({
                "file": fn,
                "bytes": os.path.getsize(p),
                "rows": pq.ParquetFile(p).metadata.num_rows,
            })
        return out

    def _snapshot_files(self, r: int, lb_delta_round: int | None) -> dict:
        """Manifest `files` section: every state table this commit wrote,
        with per-file (= per-partition) row counts and sizes."""
        files = {
            name: self._table_files(os.path.join(self._round_dir(r), name))
            for name in ("frontier", "seen_state", "host_state")
        }
        if lb_delta_round is not None:
            files["linkbase_delta"] = self._table_files(
                self._lb_delta_dir(lb_delta_round)
            )
        return files

    # -- linkbase: append-only per-round delta partitions (Iceberg-append
    #    role; a full rewrite per round would be O(rounds²) at scale).
    #    Writing round r's delta dir with overwrite keeps re-runs idempotent;
    #    reads prune to committed rounds via the partition column.

    def _lb_delta_dir(self, r: int) -> str:
        return os.path.join(self.ckpt, "linkbase", f"round={r}")

    def _write_linkbase_delta(self, df: DataFrame, r: int) -> None:
        df.write.mode("overwrite").parquet(self._lb_delta_dir(r))

    def _linkbase(self, upto_round: int) -> DataFrame:
        floor = self._compaction_floor()
        if upto_round < floor:
            raise ValueError(
                f"linkbase snapshots below round {floor} were compacted "
                f"away; cannot time-travel to round {upto_round}"
            )
        # explicit schema: a checkpoint that predates a LINKBASE_SCHEMA
        # widening holds old narrow files next to new wide ones, and a
        # bare read resolves the schema from ONE footer — silently
        # dropping the new columns from new rows (or the old rows' NULLs
        # surprise downstream). Binding the expected schema makes old
        # rows read the missing columns as NULL deterministically,
        # without mergeSchema's every-footer scan.
        return self.spark.read.schema(LINKBASE_SCHEMA + ", round int").parquet(
            os.path.join(self.ckpt, "linkbase")
        ).filter(F.col("round") <= upto_round)

    def _compaction_floor(self) -> int:
        """Oldest round the linkbase can still serve exactly (-1 = all)."""
        self._recover_swap()
        path = os.path.join(self.ckpt, "linkbase", "_compaction.json")
        if not os.path.exists(path):
            return -1
        with open(path) as f:
            return json.load(f).get("compacted_through", -1)

    def _recover_swap(self) -> None:
        """Complete a compaction swap interrupted by a crash.

        The swap protocol writes ``_swap_pending.json`` only AFTER the
        staged rewrite is complete on disk, so the pending marker is the
        commit point: if it exists, the staged partitions are
        authoritative and :meth:`_apply_swap` (idempotent) finishes the
        exchange. Without the marker a leftover staging dir is an
        incomplete write and is garbage (compact_linkbase removes it
        before re-staging). Every ``_linkbase`` read runs this first, so
        a crash mid-swap can never serve a truncated linkbase."""
        lb_root = os.path.join(self.ckpt, "linkbase")
        pending_path = os.path.join(lb_root, "_swap_pending.json")
        if not os.path.exists(pending_path):
            return
        with open(pending_path) as f:
            pending = json.load(f)
        self._apply_swap(lb_root, pending)

    def _apply_swap(self, lb_root: str, pending: dict) -> None:
        """Exchange old delta dirs for staged compacted partitions.

        Idempotent and crash-resumable at any step: old dirs are RENAMED
        into ``_compact_trash/`` (never deleted before finalize), and the
        marker's ``staged_rounds`` list disambiguates a ``round=N`` dir
        under the linkbase root — for a staged round, the dir is OLD
        exactly while ``stage/round=N`` still exists (the per-round order
        is trash-old then move-staged); for an unstaged target it is
        always old. Underscore-prefixed dirs are invisible to Spark's
        file listing, so readers never see the trash or staging areas."""
        import shutil

        stage = os.path.join(lb_root, "_compact_staging")
        trash = os.path.join(lb_root, "_compact_trash")
        os.makedirs(trash, exist_ok=True)
        staged = set(pending["staged_rounds"])
        for r in pending["targets"]:
            lb_dir = self._lb_delta_dir(r)
            st = os.path.join(stage, f"round={r}")
            if r in staged:
                if os.path.isdir(st):
                    if os.path.isdir(lb_dir):  # old, not yet trashed
                        os.rename(lb_dir, os.path.join(trash, f"round={r}"))
                    os.rename(st, lb_dir)
                # else: already exchanged in a previous attempt
            elif os.path.isdir(lb_dir):
                # nothing staged for r — every row was superseded; the
                # old dir is retired wholesale
                os.rename(lb_dir, os.path.join(trash, f"round={r}"))
        present = [d for d in os.listdir(lb_root) if d.startswith("round=")]
        if not present:
            # keep the partitioned layout readable (schema-bearing empty
            # delta, same as bootstrap's seed)
            self._write_linkbase_delta(
                self.spark.createDataFrame([], LINKBASE_SCHEMA), 0,
            )
        with open(os.path.join(lb_root, "_compaction.json"), "w") as f:
            json.dump({"compacted_through": pending["compacted_through"],
                       "rows_before": pending["rows_before"],
                       "rows_after": pending["rows_after"]}, f)
        # refresh the affected snapshots' linkbase lineage: compaction
        # replaced delta r's files (a compacted round=r partition now
        # holds the urls whose LATEST fetch was round r, or nothing), so
        # manifest r+1's recorded files would point at retired paths.
        # Runs before the pending marker is removed → crash-resumable
        # with the rest of the swap; idempotent like the renames above.
        for r in pending["targets"]:
            d = self._lb_delta_dir(r)

            def refresh(m, d=d):
                m["files"]["linkbase_delta"] = (
                    self._table_files(d) if os.path.isdir(d) else []
                )
                m["linkbase_compacted_through"] = pending[
                    "compacted_through"]

            self._update_manifest(
                os.path.join(self._round_dir(r + 1), "manifest.json"),
                refresh,
            )
        # the swap is complete and recorded — only now is data destroyed
        os.remove(os.path.join(lb_root, "_swap_pending.json"))
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)

    def compact_linkbase(self, through_round: int | None = None,
                         max_fail: int | None = None,
                         commands: DataFrame | None = None,
                         max_update_failed: int = 3) -> dict:
        """U4 made concrete: batch+delta compaction of the linkbase
        (mr_combine_batch_delta_reducer.cc:33-100 semantics — per url keep
        only the record with the LATEST crawl timestamp; with ``max_fail``,
        purge dead links whose trailing refreshes all failed, the reducer's
        ``update_fail_cnt >= FLAGS_max_update_failed_num`` rule).

        At 10^10-URL scale the per-round delta list grows without bound —
        every ``_linkbase`` read unions O(rounds) partitions and re-fetched
        urls carry one superseded row per refresh. Compaction folds all
        committed deltas ``0..C`` into per-round partitions that hold only
        each url's latest record, **partitioned by that latest round**, so
        every existing reader keeps its exact semantics:

        - ``_linkbase(upto)`` for ``upto >= C``: same url set (dupes only
          removed — every consumer is url-distinct or latest-wins).
        - recrawl-TTL (``round == exp_round`` / ``round > exp_round``
          pruning in :meth:`run_round`): a url now sits exactly in its
          latest-fetch partition, which is precisely the set the original
          expiring-minus-later anti-join computed.
        - time travel below ``C`` is gone by design; the floor is recorded
          in ``linkbase/_compaction.json`` and ``_linkbase`` fails fast.

        Only COMMITTED deltas compact (delta r commits with manifest r+1;
        a crash mid-round leaves an uncommitted ``round=R`` dir that must
        survive untouched for the re-run). The rewrite is staged fully
        before any delete, so a crash mid-compaction loses no data: either
        the old dirs are still present, or the staged partitions are
        complete on disk.

        The dead-link purge (``max_fail``) deletes from the page BASE only
        — seen shards are independent state, exactly the reference's split
        (web-db 'D' records vs the crawler's Redis seen set). Trailing
        failure counting uses a JVM ``aggregate`` over the per-url record
        array (records-per-url is bounded by rounds, and by ttl when
        recrawl is on — never web-scale).

        ``commands`` renders the reference's explicit D/R command records
        (mr_link_merge_reducer.cc:85-99): a (url, cmd, round) table where
        commands at least as new as the url's latest stored record apply —
        ``D`` deletes the url from the base (DMCA / cleanup feed), each
        ``R`` increments ``update_fail_cnt``, and the url dies when the
        counter reaches ``max_update_failed`` (FLAGS_max_update_failed_num,
        default 3). Strictly-older commands are ignored (a fresh fetch
        supersedes them), exactly the reducer's timestamp guard.

        Returns {"compacted_through", "rows_before", "rows_after",
        "dead_links", "cmd_deleted"}.
        """
        import shutil

        last = self.last_committed_round()
        if last is None:
            raise ValueError(f"no committed rounds under {self.ckpt}")
        committed_max = last - 1  # manifest r+1 commits delta r
        c = committed_max if through_round is None else min(
            through_round, committed_max
        )
        if c < self._compaction_floor():
            raise ValueError(
                f"already compacted through {self._compaction_floor()}"
            )
        lb_root = os.path.join(self.ckpt, "linkbase")
        present = [
            int(d.split("=")[1]) for d in os.listdir(lb_root)
            if d.startswith("round=")
        ]
        targets = sorted(r for r in present if r <= c)
        if not targets:
            return {"compacted_through": c, "rows_before": 0,
                    "rows_after": 0, "dead_links": 0, "cmd_deleted": 0}

        lb = self._linkbase(c)
        rows_before = lb.count()
        # schema-agnostic latest-wins: every non-key column rides the
        # sorted record struct (round leads, so array_sort orders by it)
        data_cols = [col for col in lb.columns
                     if col not in ("url", "round")]
        recs = F.array_sort(
            F.collect_list(F.struct("round", *data_cols))
        )
        per_url = lb.groupBy("url").agg(recs.alias("recs"))
        last_rec = F.element_at("recs", -1)
        scored = per_url.select(
            "url",
            *[last_rec[col].alias(col) for col in data_cols],
            last_rec["round"].alias("round"),
            F.aggregate(
                "recs", F.lit(0),
                lambda acc, x: F.when(x["success"], F.lit(0))
                .otherwise(acc + 1),
            ).alias("_trailing_fails"),
        ).persist()
        dead = (
            scored.filter(F.col("_trailing_fails") >= max_fail).count()
            if max_fail is not None else 0
        )
        out = scored
        cmd_deleted = 0
        if commands is not None:
            # D/R command merge (mr_link_merge_reducer.cc:85-99): commands
            # with round >= the stored record's round apply; D kills, each
            # R bumps update_fail_cnt, threshold kills. JVM higher-order
            # functions over the per-url command array — commands-per-url
            # is a bounded feed, never web-scale.
            cmds = commands.groupBy("url").agg(
                F.collect_list(
                    F.struct(F.col("round").alias("cmd_round"),
                             F.col("cmd"))
                ).alias("_cmds")
            )
            out = out.join(cmds, "url", "left")
            # coalesce: pre-widening rows read update_fail_cnt as NULL
            # under the bound schema, and NULL + n_r would make dead_cmd
            # NULL — the row would then vanish from BOTH the deleted count
            # (filter(_dead_cmd) drops NULL) and the survivors
            base_fail = F.coalesce(F.col("update_fail_cnt"), F.lit(0))
            applicable = F.filter(
                F.coalesce(
                    F.col("_cmds"),
                    F.array().cast("array<struct<cmd_round:int,cmd:string>>"),
                ),
                lambda x: x["cmd_round"] >= F.col("round"),
            )
            has_d = F.exists(applicable, lambda x: x["cmd"] == "D")
            n_r = F.size(F.filter(applicable, lambda x: x["cmd"] == "R"))
            new_fail = (base_fail + n_r).cast("int")
            dead_cmd = has_d | (
                (n_r > 0) & (new_fail >= F.lit(max_update_failed))
            )
            out = out.withColumn("_dead_cmd", dead_cmd).withColumn(
                "update_fail_cnt", new_fail)
            # dedicated count: one extra pass over the PERSISTED per-url
            # aggregate (+ the broadcast command join) — it cannot ride
            # the staged write's Observation because dead rows are
            # filtered out before the write. Compaction is a rare
            # maintenance op; the pass is bounded by distinct urls.
            cmd_deleted = out.filter(F.col("_dead_cmd")).count()
            out = out.filter(~F.col("_dead_cmd")).drop("_cmds", "_dead_cmd")
        if max_fail is not None:
            out = out.filter(F.col("_trailing_fails") < max_fail)
        out = out.drop("_trailing_fails")

        stage = os.path.join(lb_root, "_compact_staging")
        if os.path.isdir(stage):
            # no pending marker (recover_swap ran above) → incomplete
            # staging from a crash mid-write; safe to discard
            shutil.rmtree(stage)
        shutil.rmtree(os.path.join(lb_root, "_compact_trash"),
                      ignore_errors=True)  # orphan from a finalize crash
        from pyspark.sql import Observation
        obs = Observation("compact_rows")
        out.observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").partitionBy("round").parquet(stage)
        rows_after = int(obs.get["n"])
        scored.unpersist()
        # stage is complete on disk — the pending marker is the COMMIT
        # POINT of the swap: from here a crash at any step is completed
        # idempotently by _recover_swap/_apply_swap. Before the marker,
        # the old dirs are untouched and the stage is discardable.
        staged_rounds = sorted(
            int(d.split("=")[1]) for d in os.listdir(stage)
            if d.startswith("round=")
        )
        pending = {"targets": targets, "staged_rounds": staged_rounds,
                   "compacted_through": c,
                   "rows_before": rows_before, "rows_after": rows_after}
        with open(os.path.join(lb_root, "_swap_pending.json"), "w") as f:
            json.dump(pending, f)
        self._apply_swap(lb_root, pending)
        return {"compacted_through": c, "rows_before": rows_before,
                "rows_after": rows_after, "dead_links": dead,
                "cmd_deleted": cmd_deleted}

    def enqueue(self, urls: DataFrame, from_code: str = "M",
                depth: int = 0) -> int:
        """U2/U5 loop closure: merge an external source's urls into the
        last committed frontier — the selector-r1 multi-source union
        (mr_selector_r1_mapper.cc:127-440) rendered against the round's
        own state. The canonical feed is the updater: ``selector.
        updater_candidates(run._linkbase(r), now_ts)`` over the round's
        own linkbase → ``run.enqueue(tasks, from_code='M')`` → the next
        ``run_round``/``run(resume=True)`` re-fetches them ('M' bypasses
        the seen-drop, see selector.is_vip). Returns the merged frontier
        row count."""
        r = self.last_committed_round()
        if r is None:
            raise ValueError(f"no committed rounds under {self.ckpt}; "
                             "bootstrap first")
        self._recover_enqueue()  # complete/garbage-collect a prior crash
        # same state-layout guard as resume — validate before touching
        # state
        self._validate_resume_spec()
        cand = self._prepare_candidates(
            urls.select(
                F.col("url"), F.lit(depth).alias("depth"),
                F.lit(None).cast("string").alias("referer"),
            ),
            from_code=from_code,
        )
        # depth merge prefers the EXISTING frontier row (_src=0): enqueuing
        # a url already pending must not reset its depth to the enqueue
        # default (0) — that would both reorder the host-cap/admission sort
        # and restart the max_depth budget for its future outlinks. Only
        # genuinely new urls take the enqueued depth. (min(struct) picks
        # the lowest _src first, then the lowest depth within it.)
        merged = (
            self._read(r, "frontier").withColumn("_src", F.lit(0))
            .unionByName(cand.withColumn("_src", F.lit(1)))
            .groupBy("url")
            .agg(F.min("host").alias("host"),
                 F.min(F.struct("_src", "depth"))["depth"].alias("depth"),
                 F.min("referer").alias("referer"),
                 F.max("vip").alias("vip"))
        )
        if self.spec.frontier_host_cap is not None:
            merged = self._cap_frontier(merged, self.spec.frontier_host_cap)
        # crash-safe exchange (the round's own write-then-commit
        # discipline): stage the merged frontier BESIDE the live one,
        # commit with a marker, then swap — a crash at any step either
        # leaves the old frontier untouched (no marker → staging is
        # garbage) or is completed idempotently by _recover_enqueue. An
        # in-place overwrite would destroy a COMMITTED round's frontier
        # before the new one exists.
        from pyspark.sql import Observation

        rdir = self._round_dir(r)
        staged = os.path.join(rdir, "_frontier_staged")
        obs = Observation(f"enqueue_r{r}")
        merged.observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(staged)
        with open(os.path.join(rdir, "_enqueue_pending.json"), "w") as f:
            json.dump({"round": r}, f)
        self._finish_enqueue_swap(rdir)
        return int(obs.get["n"])

    def _finish_enqueue_swap(self, rdir: str) -> None:
        """Idempotent completion of a marked enqueue exchange: trash the
        old frontier (skipped if already trashed), move the staged one in,
        drop the marker, clean the trash."""
        import shutil

        staged = os.path.join(rdir, "_frontier_staged")
        trash = os.path.join(rdir, "_frontier_trash")
        fdir = os.path.join(rdir, "frontier")
        if os.path.isdir(staged):
            if os.path.isdir(fdir) and not os.path.isdir(trash):
                os.rename(fdir, trash)
            if not os.path.isdir(fdir):
                os.rename(staged, fdir)
        marker = os.path.join(rdir, "_enqueue_pending.json")
        if os.path.exists(marker):
            # the swap replaced a COMMITTED round's frontier — refresh
            # the manifest's per-file lineage AND its frontier count so
            # the snapshot record matches the files on disk. This runs
            # BEFORE the marker is removed (and is idempotent), so a
            # crash anywhere in the sequence is completed by
            # _recover_enqueue on the next run — the marker is the
            # refresh's durability guard too.
            def refresh(m):
                m["files"]["frontier"] = self._table_files(fdir)
                total = sum(x["rows"] for x in m["files"]["frontier"])
                if "metrics" in m:
                    m["metrics"]["frontier_next"] = total
                if m.get("seeded"):
                    m["frontier"] = total
                m["enqueued"] = True

            self._update_manifest(os.path.join(rdir, "manifest.json"),
                                  refresh)
            os.remove(marker)
        shutil.rmtree(trash, ignore_errors=True)

    def _recover_enqueue(self) -> None:
        """Resume-time repair for a crash mid-enqueue: a marker means the
        staged frontier is authoritative — finish the swap; no marker
        means any staging leftovers are incomplete garbage."""
        import shutil

        r = self.last_committed_round()
        if r is None:
            return
        rdir = self._round_dir(r)
        if os.path.exists(os.path.join(rdir, "_enqueue_pending.json")):
            self._finish_enqueue_swap(rdir)
        else:
            shutil.rmtree(os.path.join(rdir, "_frontier_staged"),
                          ignore_errors=True)
            shutil.rmtree(os.path.join(rdir, "_frontier_trash"),
                          ignore_errors=True)

    def hub_candidates(self, min_outlinks: int = 5) -> DataFrame:
        """A8 hub-page dig over the round's OWN crawl output
        (tools/hub_page_dig/mr_hub_page_dig_mapper.cc:17-73 + reducer
        kOutLinkMinNum=5): a fetched page with ≥ ``min_outlinks`` DISTINCT
        outlinks is a hub worth re-digging. The reference job scans the
        crawled page base and counts per-referer distinct outlinks; here
        the crawled set is the committed linkbase's success urls and the
        per-page outlinks ride the persisted PACKED adjacency, so the
        count is ``size(array_distinct(outlinks))`` — no explode, no
        shuffle beyond the url-keyed join. Feed hubs back with
        ``run.enqueue(hubs, from_code='N')`` (the navi-boost source slot);
        being non-VIP they re-admit when their recrawl TTL expires.
        Returns (url, n_outlinks)."""
        r = self.last_committed_round()
        if r is None:
            raise ValueError(f"no committed rounds under {self.ckpt}")
        crawled = (
            self._linkbase(r - 1).filter(F.col("success"))
            .select("url").distinct()
        )
        return (
            crawled.join(
                self.adjacency, crawled["url"] == self.adjacency["doc_id"]
            )
            .select(
                "url",
                F.size(F.array_distinct("outlinks")).alias("n_outlinks"),
            )
            .filter(F.col("n_outlinks") >= min_outlinks)
        )

    def last_committed_round(self) -> int | None:
        if not os.path.isdir(self.ckpt):
            return None
        rounds = []
        for d in os.listdir(self.ckpt):
            mf = os.path.join(self.ckpt, d, "manifest.json")
            if d.startswith("round=") and os.path.exists(mf):
                rounds.append(int(d.split("=")[1]))
        return max(rounds) if rounds else None

    # -- snapshot lineage / time travel (Iceberg snapshot-log role) ----------

    def lineage(self) -> list[dict]:
        """The committed snapshot chain, oldest → newest. Each entry is a
        round's commit manifest: round, parent_round, metrics, and the
        per-partition ``files`` lineage (file, rows, bytes per state
        table). This is the Iceberg snapshot-log / lineage-table role
        (SURVEY §2.11): a monitoring job reads it without touching any
        state parquet. ``files`` always reflects the CURRENT disk state
        (post-commit mutations refresh it and leave a flag: ``enqueued``
        for a frontier merge — which also refreshes the frontier count —
        and ``linkbase_compacted_through`` for delta compaction, after
        which files diverges from the historical ``metrics`` by
        design)."""
        if not os.path.isdir(self.ckpt):
            return []
        rounds = sorted(
            int(d.split("=")[1]) for d in os.listdir(self.ckpt)
            if d.startswith("round=")
            and os.path.exists(os.path.join(self.ckpt, d, "manifest.json"))
        )
        out = []
        for r in rounds:
            with open(os.path.join(self._round_dir(r), "manifest.json")) as f:
                out.append(json.load(f))
        return out

    def lineage_df(self) -> DataFrame:
        """The per-file lineage as a queryable fact table: one row per
        (round, state table, data file) with row/byte counts — the
        Iceberg ``files`` metadata-table role. Built from the commit
        manifests alone (no state parquet is opened); size is
        rounds × tables × partitions, monitoring scale, so a driver-side
        createDataFrame is the right tool."""
        rows = [
            (m["round"], table, fo["file"], fo["rows"], fo["bytes"])
            for m in self.lineage()
            for table, files in (m.get("files") or {}).items()
            for fo in files
        ]
        return self.spark.createDataFrame(
            rows, "round int, table string, file string, "
                  "rows long, bytes long",
        )

    def state_asof(self, r: int, name: str) -> DataFrame:
        """Time-travel read: a state table exactly as committed round
        ``r`` saw it. ``name`` ∈ {frontier, seen_state, host_state,
        linkbase}; the linkbase snapshot is the union of deltas ≤ r-1
        (delta r commits with manifest r+1). Raises if round r was never
        committed — an uncommitted round's files may be a torn write."""
        if not os.path.exists(
            os.path.join(self._round_dir(r), "manifest.json")
        ):
            raise ValueError(
                f"round {r} has no commit manifest at {self.ckpt}; "
                "only committed snapshots are readable"
            )
        if name == "linkbase":
            return self._linkbase(r - 1)
        if name not in self._STATE_SCHEMAS:
            raise ValueError(f"unknown state table {name!r}")
        return self._read(r, name)

    # -- the round ------------------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Round -1: install seeds as the initial frontier (from='U' seeds,
        mr_selector_r1_mapper.cc seed case)."""
        # Materialize the packed-adjacency cache here, with the rest of the
        # one-time setup (seed canonicalize, state-table init): it is a
        # pure function of the docs table — an index build at load time,
        # not round work — and leaving it lazy made round 0 alone pay the
        # full-corpus span scan (the largest single stage of a bench crawl;
        # event-log: ~264 s task time at the large web). Every PER-ROUND
        # extraction cost — the fetch/extraction joins, outlink explode,
        # dedupe aggregate, canonicalize UDF, rule gates — still runs
        # inside the timed rounds. On the resume path (no bootstrap) the
        # first round materializes it lazily, same as before.
        self.adjacency.count()
        cand = self._prepare_candidates(
            seeds.select(
                F.col("url"), F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("referer")
            ),
            from_code="U",
        )
        cand = cand.groupBy("url", "host").agg(
            F.min("depth").alias("depth"), F.min("referer").alias("referer"),
            F.max("vip").alias("vip"),
        )
        cand_cache = None
        if self.spec.frontier_host_cap is not None:
            # round 0 must honor the same per-host bound the merge applies
            # — otherwise a host-concentrated seed list hands the fused
            # kernel an uncapped Arrow group on the very first round.
            # persist first: the cap's hot-host count subquery and its two
            # broadcast-join branches each scan the input, and without the
            # barrier the whole canonicalize/rules chain re-runs per
            # consumer (same reason run_round persists nxt — event-log
            # verified: the seed canonicalize stage ran 3x per bootstrap)
            cand_cache = self._persist_round(cand)
            cand = self._cap_frontier(cand_cache, self.spec.frontier_host_cap)
        # the frontier count rides the write job (Observation) — a
        # separate cand.count() would re-run the canonicalize UDF /
        # robots / rule chain a second time over the whole seed list
        from pyspark.sql import Observation

        obs = Observation("bootstrap_frontier")
        self._write(
            cand.observe(obs, F.count(F.lit(1)).alias("n")), 0, "frontier"
        )
        if cand_cache is not None:
            cand_cache.unpersist()
        self._write(
            self.shards.init_state(self.spark, self.spec.n_buckets), 0,
            "seen_state",
        )
        self._write(pol.init_host_state(self.spark), 0, "host_state")
        # empty linkbase delta seeds the partitioned layout
        empty_lb = self.spark.createDataFrame([], LINKBASE_SCHEMA)
        self._write_linkbase_delta(empty_lb, 0)
        # lb_delta_round=None: the seed delta at linkbase/round=0 is a
        # schema-bearing placeholder that run_round(0) OVERWRITES — delta
        # r's lineage belongs to manifest r+1 (the commit that wrote it);
        # recording the placeholder here would leave manifest 0 pointing
        # at deleted files and double-count delta 0 across snapshots
        self._manifest(
            0,
            {"seeded": True, "frontier": int(obs.get["n"]),
             "spec": self._spec_fingerprint(),
             "files": self._snapshot_files(0, lb_delta_round=None)},
        )

    def _spec_fingerprint(self) -> dict:
        """The knobs that shape the persisted state layout. Resuming with a
        different value would probe seen_state under mismatched bucket keys
        (every probe misses → seen URLs re-admitted) — so the round-0
        manifest records them and resume validates. The round has one
        layout (host-keyed exact sign shards); its two constant entries
        keep checkpoints written under the former layout switches
        comparable, so only the default layout resumes."""
        return {"seen_mode": "sign", "fused": True,
                "n_buckets": self.spec.n_buckets}

    def _validate_resume_spec(self) -> None:
        path = os.path.join(self._round_dir(0), "manifest.json")
        if not os.path.exists(path):
            return
        with open(path) as f:
            recorded = json.load(f).get("spec")
        current = self._spec_fingerprint()
        if recorded != current:
            raise ValueError(
                f"checkpoint at {self.ckpt} was written with state-layout "
                f"spec {recorded}, but this run uses {current}; resuming "
                "would probe seen_state under mismatched bucket keys"
            )

    def _write_manifest_json(self, path: str, payload: dict) -> None:
        """Write-then-rename: the manifest IS the round's commit marker
        (and lineage record), so an in-place truncate-dump torn by a crash
        would leave a round half-committed — `last_committed_round` counts
        the file's existence, and every reader json-parses it."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def _update_manifest(self, path: str, mutate) -> None:
        """Load-mutate-atomically-rewrite a commit manifest's lineage.
        No-op when the manifest doesn't exist."""
        if not os.path.exists(path):
            return
        with open(path) as f:
            m = json.load(f)
        mutate(m)
        self._write_manifest_json(path, m)

    def _manifest(self, r: int, extra: dict) -> None:
        path = os.path.join(self._round_dir(r), "manifest.json")
        self._write_manifest_json(path, {"round": r, **extra})

    def run_round(self, r: int) -> dict:
        """Execute round r reading state from round r's dir, writing r+1."""
        frontier = self._with_keys(self._read(r, "frontier"))
        seen_state = self._read(r, "seen_state")
        host_state = self._read(r, "host_state")

        # 1+2. seen-probe + politeness admission in one cogrouped Arrow
        #    stage (fused.py). The admission split
        #    feeds four consumers (fetch, carryover, seen-update, metrics)
        #    — cache it so the probe subtree runs once per round.
        # time-of-day windows (host_load_control.txt): the budget dim may
        # be window-keyed; resolve it to this round's minute-of-day
        budgets_r = pol.window_budgets(
            self.budgets, r, self.spec.politeness
        )
        flagged = fused_probe_admit(
            frontier, seen_state, host_state, budgets_r,
            self.spec.politeness.default_budget, r,
        )
        # J4 VIP override (mr_selector_r1_reducer.cc:62-108): a seen
        # record drops the URL unless it is VIP — homepages / seeds /
        # search-click pages re-admit for freshness
        adm = flagged.filter(
            ~F.col("maybe_seen") | F.col("vip")
        ).drop("maybe_seen")
        if self.host_ips is not None and self.ip_budgets is not None:
            adm = pol.ip_cap_admitted(adm, self.host_ips, self.ip_budgets)
        adm = self._persist_round(adm)
        admitted = adm.filter(F.col("admitted")).drop("admitted")
        carry = adm.filter(~F.col("admitted")).drop("admitted")

        # 3. simulated fetch (L4): success iff the url is a doc_id. The
        #    url table is the cached adjacency's doc_id column — the
        #    columnar cache prunes to that one column and the alias keeps
        #    its hash partitioning, so this side needs no second cached
        #    table and no shuffle. Deliberately NOT fused with the
        #    extraction join: carrying the outlinks array through this
        #    join fattens the cached fetched table (admitted × fanout
        #    strings) and makes every round sort the fat adjacency side —
        #    A/B at local[16]/xlarge showed the fused form ~1.5-2× slower
        #    (43-47 s vs 58-88 s) despite one fewer shuffle; the two THIN
        #    joins win at every scale where fanout matters.
        doc_urls = self.adjacency.select(F.col("doc_id").alias("url"))
        fetched = self._persist_round(
            admitted.join(
                doc_urls.withColumn("exists", F.lit(True)), "url", "left"
            ).withColumn(
                "success", F.coalesce(F.col("exists"), F.lit(False))
            ).drop("exists")
        )

        # 4. outlink extraction from fetched pages (E1-E3 over spans).
        #    Parent depth rides the SAME join — one pass over the packed
        #    adjacency, edges exploded only for the matched pages, and
        #    the exploded edges stream straight into the dedupe aggregate
        #    (never cached).
        new_raw = (
            fetched.filter(F.col("success"))
            .select(F.col("url").alias("referer_url"),
                    F.col("depth").alias("pdepth"))
            .join(
                self.adjacency,
                F.col("referer_url") == F.col("doc_id"),
                "inner",
            )
            .select(
                F.explode("outlinks").alias("url"),
                (F.col("pdepth") + 1).alias("depth"),
                F.col("referer_url").alias("referer"),
            )
        )
        # pre-UDF dedupe: many pages link to the same targets, so collapse
        # raw outlinks (min depth / min referer — same rule the frontier
        # merge applies) BEFORE the canonicalize UDF and rule gates run.
        # Measured ~9x fewer rows through the Python stage at bench scale.
        # persist: the canonicalizer's JVM-fast-path split filters on the
        # groupBy key, so Catalyst pushes each branch's filter BELOW this
        # aggregate and the whole explode+aggregate runs twice (event-log
        # verified: 2×~45 s task time per round at bench scale). The cache
        # is an optimizer barrier — both branches scan the ~10× smaller
        # deduped output instead.
        # the canonicalizer's fast/slow regex is paid ONCE here, at persist
        # time, and stored as a boolean: every downstream consumer branch
        # re-filters the cached rows, and FAST_CANON_RE over the full
        # deduped set costs real task time per re-eval (event-log measured
        # ~0.6 µs/row/eval — seconds per round across the merge branches)
        new_raw = self._persist_round(
            new_raw.groupBy("url").agg(
                F.min("depth").alias("depth"),
                F.min("referer").alias("referer")
            ).withColumn(
                "_fast_canon", urlkit.is_canonical(F.col("url"))
            )
        )
        new_cand = self._prepare_candidates(new_raw, fast_col="_fast_canon")

        # 5. next frontier = carry ∪ new, minus just-admitted, deduped by
        #    url keeping min depth (deterministic referer = min by url;
        #    vip = any source says vip).
        nxt = (
            carry.select("url", "host", "depth", "referer", "vip")
            .unionByName(new_cand)
            .join(admitted.select("url"), "url", "left_anti")
        )
        # merge keyed on url ALONE (host is a pure function of the url, so
        # min(host) is exact): the groupBy's hash key then matches the
        # anti-join's, and Catalyst reuses the exchange instead of
        # shuffling the frontier a second time
        nxt = (
            nxt.groupBy("url")
            .agg(F.min("host").alias("host"),
                 F.min("depth").alias("depth"),
                 F.min("referer").alias("referer"),
                 F.max("vip").alias("vip"))
        )
        nxt_cache = None
        if self.spec.frontier_host_cap is not None:
            # the cap's hot-host count subquery and its two broadcast-join
            # branches all scan the merged frontier — cache it so the
            # merge chain (union + anti-join + groupBy) runs once. A/B'd
            # round 4: WITHOUT the persist the chain (canonicalize UDF
            # included) recomputes per consumer — exchange reuse does not
            # cover the broadcast subquery here — and the round is ~30%
            # slower at cpus=32 (29-30 s vs 37-49 s on the large web).
            nxt_cache = self._persist_round(nxt)
            nxt = self._cap_frontier(nxt_cache, self.spec.frontier_host_cap)

        # 6. state updates. Recrawl TTL (scheduler.cc:381-393): the seen
        #    state written for round r+1 drops signs whose LATEST crawl
        #    round is exactly (r+1) - ttl — computed from the partition-
        #    pruned linkbase deltas in (exp_round, r-1] plus this round's
        #    fetches, so the anti-join spans at most ttl deltas.
        deletes = None
        ttl = self.spec.recrawl_ttl_rounds
        if ttl is not None and r + 1 - ttl >= 0:
            exp_round = r + 1 - ttl
            self._recover_swap()  # direct dir read — complete any mid-swap
            lb_all = self.spark.read.schema(
                LINKBASE_SCHEMA + ", round int"
            ).parquet(os.path.join(self.ckpt, "linkbase"))
            expiring = lb_all.filter(F.col("round") == exp_round).select(
                "url", "host"
            )
            later = (
                lb_all.filter(
                    (F.col("round") > exp_round) & (F.col("round") < r)
                ).select("url")
                .unionByName(fetched.select("url"))
            )
            expired = expiring.join(later.distinct(), "url", "left_anti")
            deletes = self._seen_keys(expired)
        new_seen = self.shards.update(
            admitted.select("bucket", "sign"), seen_state, deletes=deletes,
        )
        new_host_state = pol.update_host_state(
            host_state, fetched.select("host", "success"),
            self.spec.politeness, r,
        )
        # linkbase record fidelity (mr_selector_r1_mapper.cc:198-201: the
        # reference row carries response_code, file_time, escaped http
        # header, update_fail_cnt alongside the url/score): the simulated
        # fetch renders deterministic equivalents keyed off the logical
        # clock (round r ≙ one day after 2020-01-01), so the U5 updater
        # (selector.updater_candidates parses Last-Modified/Date) and the
        # D/R command merge (update_fail_cnt) run over the round's OWN
        # output — the §3.1 step-11 loop closure.
        fetch_day = F.date_add(F.to_date(F.lit("2020-01-01")), r)
        hdr_date = F.concat(F.date_format(fetch_day, "dd MMM yyyy"),
                            F.lit(" 00:00:00 GMT"))
        lb_add = fetched.select(
            "url", "host", "depth", "success",
            F.when(F.col("success"), 200).otherwise(404)
            .cast("int").alias("response_code"),
            F.when(
                F.col("success"),
                F.concat(F.lit("HTTP/1.1 200 OK\r\nDate: "), hdr_date,
                         F.lit("\r\nLast-Modified: "), hdr_date,
                         F.lit("\r\n")),
            ).otherwise(F.lit("")).alias("http_header"),
            F.lit(_EPOCH_2020 + r * 86_400).cast("long")
            .alias("last_fetch_ts"),
            F.lit(0).alias("update_fail_cnt"),
        )

        # 7. commit round r+1 (write, then manifest = commit marker).
        #    Materialize the shared caches once (the fetched count doubles
        #    as the admitted metric), then run the four state writes as
        #    CONCURRENT Spark jobs — they share the cached upstream, so
        #    wall time is max(write) not sum(write). Counts ride the write
        #    jobs via Observation.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        # No separate fetched.count() barrier: the linkbase write's
        # Observation counts the same rows (lb_add = one row per fetched
        # candidate), and the cached adm/fetched partitions are computed
        # once regardless — BlockManager's per-block locking makes
        # whichever concurrent write job arrives first compute a
        # partition while the others block on it. Dropping the count
        # removes one full pass over the probe+admit+fetch subtree per
        # round (event-log: ~2.5 s wall/round at bench scale).
        obs_next = Observation(f"frontier_next_r{r}")
        obs_host = Observation(f"hosts_r{r}")
        obs_lb = Observation(f"lb_r{r}")
        writes = [
            lambda: self._write(
                nxt.observe(obs_next, F.count(F.lit(1)).alias("n")),
                r + 1, "frontier"),
            lambda: self._write(new_seen, r + 1, "seen_state"),
            lambda: self._write(
                new_host_state.observe(
                    obs_host, F.count(F.lit(1)).alias("n")),
                r + 1, "host_state"),
            lambda: self._write_linkbase_delta(
                lb_add.observe(
                    obs_lb,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("success"), 1).otherwise(0))
                    .alias("ok"),
                ), r),
        ]
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(w) for w in writes]
            for f in futures:
                f.result()

        # lineage metrics ride the write jobs (zero extra actions):
        # commit marker records what each state table received this round
        metrics = {
            "admitted": int(obs_lb.get["n"]),
            "frontier_next": obs_next.get["n"],
            "hosts_tracked": obs_host.get["n"],
            "linkbase_delta_rows": obs_lb.get["n"],
            "fetch_ok": int(obs_lb.get["ok"] or 0),
        }
        adm.unpersist()
        fetched.unpersist()
        new_raw.unpersist()
        if nxt_cache is not None:
            nxt_cache.unpersist()
        self._manifest(
            r + 1,
            {"metrics": metrics, "parent_round": r,
             "spec": self._spec_fingerprint(),
             # Iceberg-snapshot role: the commit marker carries the
             # per-partition (= per-file) lineage of every state table
             # this round wrote — row counts + sizes from the parquet
             # footers, no extra Spark jobs
             "files": self._snapshot_files(r + 1, lb_delta_round=r)},
        )
        return {"round": r, **metrics}

    def run(self, seeds: DataFrame, resume: bool = False) -> list[dict]:
        """Run to frontier exhaustion (or max_rounds). Returns each round's
        metrics (the commit manifest's ``metrics`` plus ``round``); the
        admitted batch of round r is linkbase delta r
        (``state_asof(r + 1, "linkbase").filter(round == r)``) until a
        compaction folds it."""
        start = 0
        if resume:
            last = self.last_committed_round()
            if last is None:
                self.bootstrap(seeds)
            else:
                self._recover_enqueue()
                self._validate_resume_spec()
                start = last
        else:
            self.bootstrap(seeds)
        out = []
        for r in range(start, self.spec.max_rounds):
            res = self.run_round(r)
            out.append(res)
            ce = self.spec.compact_every
            if ce and (r + 1) % ce == 0:
                self.compact_linkbase()
            if res["frontier_next"] == 0 and res["admitted"] == 0:
                break
            # admitted == 0 with frontier_next > 0 means every remaining
            # host is blocked/held — the loop simply advances the round
            # counter (the logical clock) until holdons expire
        return out

    def seen_urls(self) -> list[str]:
        """Final URL-seen set (from the authoritative linkbase).

        Manifest r+1 is the commit marker for round r's linkbase delta
        (round=r), so with last committed manifest R the committed deltas
        are rounds 0..R-1 — a crash mid-round R leaves an UNcommitted
        round=R delta on disk that must not count as seen."""
        r = self.last_committed_round()
        if r is None:  # crash before manifest 0 — nothing is committed
            return []
        lb = self._linkbase(r - 1)
        return sorted(row["url"] for row in lb.select("url").distinct().collect())
