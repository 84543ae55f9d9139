"""Politeness: robots gating, per-host QPS round assignment, failure holdon.

Re-expresses the reference's LoadController + robots pipeline (cites into
/root/reference):

- robots levels 0..3 (disallow / no-robots / others-allow / explicit-allow)
  and spider policy: the strict spider crawls only level ≥ 2, the permissive
  one ignores robots — crawler/crawler/control/robots/
  robots_parser_mapper.py:26-49,88-105; enum proto2/resource.proto:61-66.
- skew-aware robots join: the reference replicates robots rows of
  big-family hosts to every bucket and scatters their URLs randomly
  (robots/data_prepare.cc:71-139). In Spark the robots dim is simply
  **broadcast** — the skew workaround dissolves; the residual skew in
  *stateful host-grouped* stages is bounded by the round's per-host
  frontier cap (round.CrawlRun._cap_frontier, salted two-level windows).
- LoadController (crawler/crawler/crawl/load_controller.h:18-52, .cc:149-242):
  per-host/ip (max_qps, max_connections) with a QPS window check, holdon
  after consecutive failures, drop at max_failed_times. Batch rendering:
  each crawl round admits at most ``budget = qps × round_seconds`` URLs per
  host, in priority order (fused.fused_probe_admit); hosts in holdon admit
  nothing; budgets come from a broadcast config dim (host_load_control.txt
  role).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# LoadController defaults (load_controller.h:41-48)
DEFAULT_QPS = 3.0
DEFAULT_MAX_CONNECTIONS = 5
HOLDON_FAILURES = 10       # consecutive failures → holdon
HOLDON_SECONDS = 5
MAX_FAILED_TIMES = 100     # drop host/ip

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("has_robots", T.BooleanType(), False),
        T.StructField("allow_all", T.BooleanType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
    ]
)

HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("consec_failures", T.IntegerType(), False),
        T.StructField("holdon_until_round", T.IntegerType(), False),
        T.StructField("dropped", T.BooleanType(), False),
    ]
)


@dataclass(frozen=True)
class PolitenessSpec:
    qps: float = DEFAULT_QPS
    round_seconds: float = 5.0
    holdon_failures: int = HOLDON_FAILURES
    holdon_rounds: int = 1           # ≈ HOLDON_SECONDS / round_seconds
    max_failed_times: int = MAX_FAILED_TIMES
    robots_policy_level: int = 2     # strict spider: crawl level ≥ 2
    salt_buckets: int = 16           # two-level host-cap salt (skew guard)

    @property
    def default_budget(self) -> int:
        return max(1, int(self.qps * self.round_seconds))


# --------------------------------------------------------------------------
# Robots gate (L6 + J2)
# --------------------------------------------------------------------------

def robots_level(urls: DataFrame, robots: DataFrame,
                 host_col: str = "host", path_col: str = "path") -> DataFrame:
    """Attach ``robots_level`` 0..3 per URL (robots_parser_mapper.py:88-105):
    0 = explicitly disallowed, 1 = no robots.txt, 2 = allowed because others
    are allowed (allow_all), 3 = explicitly allowed (no matching disallow in
    a present robots file). Robots dim is broadcast; the prefix match is a
    JVM-side ``exists`` over the prefix array — no Python."""
    j = urls.join(F.broadcast(robots), host_col, "left")
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: F.col(path_col).startswith(p),
    )
    level = (
        F.when(F.col("has_robots").isNull() | ~F.col("has_robots"), 1)
        .when(disallowed, 0)
        .when(F.col("allow_all"), 2)
        .otherwise(3)
    )
    return j.withColumn("robots_level", level).drop(
        "has_robots", "allow_all", "disallow_prefixes"
    )


def robots_gate(urls_with_level: DataFrame, policy_level: int = 2) -> DataFrame:
    """Strict-spider policy: keep robots_level ≥ policy (1 = no-robots hosts
    pass only permissive policy; the reference's RushSpider uses 0)."""
    return urls_with_level.filter(F.col("robots_level") >= policy_level)


# --------------------------------------------------------------------------
# Time-of-day budget windows (L1 fidelity)
# --------------------------------------------------------------------------

def minute_of_round(round_no: int, spec: PolitenessSpec) -> int:
    """Logical clock → minute-of-day: round r ends at r × round_seconds
    on the wall the reference's HH:MM windows measure."""
    return int(round_no * spec.round_seconds // 60) % 1440


def validate_budget_windows(budgets: DataFrame | None) -> None:
    """Load-time CHECK on a window-keyed budget dim, matching the
    reference's SetIpLoadRecords (load_controller.cc:46-92 CHECK-fails a
    record whose begin > end or whose bounds are unparsable at config-load
    time). A silently-unmatchable window — begin_min > end_min (the
    midnight-wrapping shape the reference rejects) or NULL bounds — would
    otherwise make the host fall back to the default budget all day with
    no error. One action over a broadcast-sized config dim, run once per
    crawl (CrawlRun.__init__), never per round."""
    if budgets is None or "begin_min" not in budgets.columns:
        return
    bad = budgets.filter(
        F.col("begin_min").isNull() | F.col("end_min").isNull()
        | (F.col("begin_min") > F.col("end_min"))
    )
    sample = bad.select("host", "begin_min", "end_min").head(5)
    if sample:
        raise ValueError(
            "invalid budget windows (begin_min > end_min or NULL bounds) "
            f"— the reference CHECK-fails these at load time: {sample}"
        )


def window_budgets(budgets: DataFrame | None, round_no: int,
                   spec: PolitenessSpec) -> DataFrame | None:
    """L1 time windows (host_load_control.txt record ``host max_conn qps
    HH:MM-HH:MM``, both ends closed; parse load_controller.cc:46-92): when
    the budget dim carries ``begin_min``/``end_min`` columns, keep the
    rows whose window covers this round's minute-of-day and emit the
    plain (host, budget) dim the admission stage consumes. Hosts with no
    covering window fall back to the default budget (default_ip_load
    role). Windows per host must not overlap (the reference CHECKs this);
    on overlap the smallest budget wins deterministically."""
    if budgets is None or "begin_min" not in budgets.columns:
        return budgets
    minute = minute_of_round(round_no, spec)
    return (
        budgets.filter((F.col("begin_min") <= minute)
                       & (F.col("end_min") >= minute))
        .groupBy("host").agg(F.min("budget").alias("budget"))
    )


def ip_cap_admitted(adm: DataFrame, host_ips: DataFrame,
                    ip_budgets: DataFrame,
                    default_ip_budget: int | None = None) -> DataFrame:
    """Second-stage per-IP connection cap — the ip dimension of the
    reference's LoadController (load_controller.h:18-52 keys records by IP;
    host_load_control.txt:1-7 carries per-ip qps/connection limits), at
    batch granularity: each ip's admitted rows per round ≤ its budget.

    Runs AFTER host admission and only over the admitted subset — bounded
    by Σ(host budgets), orders of magnitude below the frontier, so the
    per-ip window is cheap at any scale and the fused host-bucket kernel
    stays intact (two hosts sharing an ip need not share a bucket).

    ``host_ips`` (host, ip) and ``ip_budgets`` (ip, budget) are
    broadcast-sized dims. Rows demoted by the cap flip to admitted=False
    (carryover). Hosts without a known ip, or ips without a budget row
    when ``default_ip_budget`` is None, are uncapped. Demotion order is
    the global frontier order (priority asc, score desc, url asc).
    """
    # one ip per host, deterministically (min): a multi-A-record host
    # would otherwise MULTIPLY its admitted rows through the left join —
    # duplicate fetches, duplicate linkbase rows, inflated metrics. The
    # reference assigns each url one ip (url_to_ip.cc:53-91, its random
    # pick made deterministic per the north rule).
    one_ip = host_ips.groupBy("host").agg(F.min("ip").alias("ip"))
    j = adm.join(F.broadcast(one_ip), "host", "left")
    taken = j.filter(F.col("admitted"))
    rest = j.filter(~F.col("admitted"))
    b = ip_budgets.withColumnRenamed("budget", "_ip_budget")
    taken = taken.join(F.broadcast(b), "ip", "left")
    if default_ip_budget is not None:
        budget_col = F.coalesce(F.col("_ip_budget"),
                                F.lit(default_ip_budget))
    else:
        budget_col = F.col("_ip_budget")  # null → uncapped
    # only budgeted-ip rows enter the window: when host_ips covers a
    # subset of hosts (the realistic wiring), the majority null-ip rows
    # would otherwise all land in the window's single NULL partition —
    # one task ranking ~the whole round's admitted set
    taken = taken.withColumn("_cap", budget_col)
    uncapped = taken.filter(
        F.col("ip").isNull() | F.col("_cap").isNull()
    ).drop("_cap", "_ip_budget")
    w = Window.partitionBy("ip").orderBy(
        F.asc("priority"), F.desc("score"), F.asc("url")
    )
    capped = (
        taken.filter(F.col("ip").isNotNull() & F.col("_cap").isNotNull())
        .withColumn("_iprn", F.row_number().over(w))
        .withColumn("admitted", F.col("_iprn") <= F.col("_cap"))
        .drop("_iprn", "_cap", "_ip_budget")
    )
    return capped.unionByName(uncapped).unionByName(rest).drop("ip")


def update_host_state(host_state: DataFrame, fetch_results: DataFrame,
                      spec: PolitenessSpec, round_no: int) -> DataFrame:
    """Fold a round's per-host fetch outcomes into the politeness state
    (load_controller.cc:204-242 semantics at batch granularity): a round
    that ends in failures for a host extends its consecutive-failure run;
    any success resets it; runs ≥ holdon threshold put the host on holdon;
    runs ≥ max_failed_times drop it."""
    per_host = fetch_results.groupBy("host").agg(
        F.max(F.when(F.col("success"), 1).otherwise(0)).alias("any_success"),
        F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("failures"),
    )
    merged = host_state.join(per_host, "host", "full")
    consec = F.when(
        F.coalesce(F.col("any_success"), F.lit(0)) == 1, F.lit(0)
    ).otherwise(
        F.coalesce(F.col("consec_failures"), F.lit(0))
        + F.coalesce(F.col("failures"), F.lit(0)).cast("int")
    )
    # (re)stamp holdon only when THIS round added failures: a host on
    # holdon admits nothing, so it has no fetch rows — an unconditional
    # stamp would re-extend the holdon every round it sits blocked and
    # starve the host permanently instead of releasing it after
    # holdon_rounds (load_controller.cc holdon is a fixed-duration pause,
    # and the simulator twin only updates hosts that fetched)
    holdon = F.when(
        (F.coalesce(F.col("failures"), F.lit(0)) > 0)
        & (consec >= spec.holdon_failures),
        F.lit(round_no + spec.holdon_rounds),
    ).otherwise(F.coalesce(F.col("holdon_until_round"), F.lit(-1)))
    dropped = F.coalesce(F.col("dropped"), F.lit(False)) | (
        consec >= spec.max_failed_times
    )
    return merged.select(
        F.col("host"),
        consec.cast("int").alias("consec_failures"),
        holdon.cast("int").alias("holdon_until_round"),
        dropped.alias("dropped"),
    )


def init_host_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], HOST_STATE_SCHEMA)


# --------------------------------------------------------------------------
# robots.txt parsing (the other half of L6: raw fetched robots bodies →
# rules dim; robots_parser_mapper.py:26-49 CanFetch / 51-119 parse loop)
# --------------------------------------------------------------------------

def parse_robots_txt(robots_bodies: DataFrame, host_col: str = "host",
                     body_col: str = "body",
                     agent: str = "spider") -> DataFrame:
    """Vectorized robots.txt parser: per host body → ROBOTS_SCHEMA row.

    Honors the reference's policy shape (robots_parser_mapper.py): rules
    under ``User-agent: *`` or a group matching ``agent`` apply; a group
    with no Disallow lines (or an empty ``Disallow:``) allows all. Runs as
    a grouped pandas kernel over Arrow batches — no per-row Python in the
    Spark plan, parsing is plain-python over each (small) body.
    """
    agent_l = agent.lower()

    def parse_one(body: str) -> tuple[bool, bool, list[str]]:
        if body is None or not body.strip():
            return (False, True, [])
        # group assembly (RFC 9309): CONSECUTIVE User-agent lines form one
        # group whose rules apply to all listed agents — overwriting a
        # per-line "applies" flag would drop the group when a matching UA
        # line is followed by a non-matching one. A rule line closes the
        # header; the next User-agent line starts a new group.
        groups: list[tuple[list[str], list[tuple[str, str]]]] = []
        cur_agents: list[str] = []
        cur_rules: list[tuple[str, str]] = []
        for line in body.splitlines():
            line = line.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, val = line.partition(":")
            key, val = key.strip().lower(), val.strip()
            if key == "user-agent":
                if cur_rules:
                    groups.append((cur_agents, cur_rules))
                    cur_agents, cur_rules = [], []
                cur_agents.append(val)
            elif cur_agents:
                cur_rules.append((key, val))
        if cur_agents:
            groups.append((cur_agents, cur_rules))
        # specific groups take precedence over `*` groups (RFC 9309 §2.2.1
        # most-specific-match; the reference's CanFetch checks the named
        # agent before the wildcard, robots_parser_mapper.py:26-49)
        specific = [
            g for g in groups
            if any(a != "*" and agent_l in a.lower() for a in g[0])
        ]
        star = [g for g in groups if any(a == "*" for a in g[0])]
        selected = specific or star
        if not selected:
            return (True, True, [])
        prefixes = [
            v for _, rules in selected
            for k, v in rules if k == "disallow" and v
        ]
        return (True, not prefixes, prefixes)

    @pandas_udf(
        "struct<has_robots:boolean,allow_all:boolean,"
        "disallow_prefixes:array<string>>"
    )
    def _parse(bodies: pd.Series) -> pd.DataFrame:
        rows = [parse_one(b) for b in bodies]
        return pd.DataFrame(
            rows, columns=["has_robots", "allow_all", "disallow_prefixes"]
        )

    return robots_bodies.select(
        F.col(host_col).alias("host"), _parse(F.col(body_col)).alias("r")
    ).select("host", "r.has_robots", "r.allow_all", "r.disallow_prefixes")


# --------------------------------------------------------------------------
# URL categorizer gate (P8: category id per url from a broadcast rule
# table; drop below-threshold ids — uv_data.cc:183-189, scheduler.cc:171-189)
# --------------------------------------------------------------------------

CATEGORY_SPLIT_FOR_CRAWLER = 100  # kSplitLineForCrawler role


def categorize_url(urls: DataFrame, rules: DataFrame,
                   url_col: str = "url") -> DataFrame:
    """Attach ``category_id`` from the first matching regex rule
    (rule dim: pattern, category_id, rule_order); unmatched URLs get
    category 0.

    The rule book is a static bounded config file in the reference
    (uv_data.cc:183-189), so it is collected driver-side and folded into
    ONE flat array expression: per row, ``array_min`` over
    (rule_order, category_id) structs of the matching rules — first-match
    semantics with NO join, NO window, NO shuffle (the previous plan
    nested-loop-joined then ran a per-url row_number window). array_min
    skips the NULL structs of non-matching rules; a flat literal array is
    linear in plan size."""
    rows = sorted(
        rules.select("pattern", "category_id", "rule_order").collect(),
        key=lambda r: r["rule_order"],
    )
    if not rows:
        return urls.withColumn("category_id", F.lit(0))
    structs = [
        F.when(
            F.col(url_col).rlike(r["pattern"]),
            F.struct(
                F.lit(r["rule_order"]).alias("o"),
                F.lit(r["category_id"]).alias("c"),
            ),
        )
        for r in rows
    ]
    best = F.array_min(F.array(*structs))
    return urls.withColumn(
        "category_id", F.coalesce(best["c"], F.lit(0))
    )


def category_gate(categorized: DataFrame,
                  threshold: int = CATEGORY_SPLIT_FOR_CRAWLER,
                  keep_special: DataFrame | None = None) -> DataFrame:
    """Drop category ids below the crawler threshold; ``keep_special``
    (url list) overrides — list/special pages always pass."""
    kept = categorized.filter(F.col("category_id") >= threshold)
    if keep_special is not None:
        extra = categorized.join(
            F.broadcast(keep_special), "url", "left_semi"
        )
        kept = kept.unionByName(extra).dropDuplicates(["url"])
    return kept


# --------------------------------------------------------------------------
# Synthetic robots dim (deterministic; for tests & bench)
# --------------------------------------------------------------------------

def synthetic_robots(spark: SparkSession, n_hosts: int,
                     seed: int = 42) -> DataFrame:
    """Deterministic robots rules over the generator's host universe:
    every 7th host disallows ``/p/1``-prefixed paths, every 13th host has no
    robots.txt, the rest allow all. Pure column math — reproducible in the
    Python simulator and in the DuckDB oracle."""
    h = spark.range(n_hosts).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        (F.col("id") % 13 != 0).alias("has_robots"),
        (F.col("id") % 7 != 0).alias("allow_all"),
        F.when(F.col("id") % 7 == 0, F.array(F.lit("/p/1")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow_prefixes"),
    )
    return h
