"""URL primitives: canonicalization, fingerprints, host parsing, sharding.

Semantics follow the reference's URL kernel (all cites into /root/reference):

- ``NormalizeUrl``   crawler/crawler/api/base.cc:19-61 — trim, strip leading
  %xx escapes, drop URLs longer than kMaxLinkSize=4096
  (crawler/crawler/proto2/resource.proto:8-11), cut ``#fragment``, prepend
  ``http://`` when schema-less, validity check.
- ``AssignShardId``  crawler/crawler/api/base.cc:63-75 — 64-bit hash of the
  canonical url mod shard count (reference uses CityHash64; we use Spark's
  built-in ``xxhash64`` — same role, JVM-side, whole-stage-codegen'd; the
  choice is documented in FIXTURES.md §hash-parity).
- ``ReverseUrl``     crawler/crawler/api/base.cc:93-139 — host-segment
  reversal ``news.sina.com.cn/x → cn.com.sina.news/x``; IPv4 hosts unchanged.
- ``ParseHost``      crawler/crawler/api/base.cc:141-201 — host/domain split.

Everything here is a pure column expression (JVM-side, codegen'd) — no Python
in the hot path. The only pandas UDF is :func:`resolve_links_udf` which needs
``urllib.parse.urljoin`` for relative-link resolution (ExtractHtml's
GURL::Resolve, crawler/crawler/util/text_handler.cc:102-137).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

MAX_URL_LEN = 4096  # kMaxLinkSize, resource.proto:8-11


# --------------------------------------------------------------------------
# Canonicalization (column expressions)
# --------------------------------------------------------------------------

@pandas_udf(StringType())
def _canonicalize_udf(url: pd.Series) -> pd.Series:
    """Vectorized canonicalizer (pandas string kernels over the Arrow batch —
    no per-row Python). A deliberate pandas UDF rather than a column
    expression: the staged rule book re-inlined as one Catalyst expression
    tree blows up codegen (each alias duplicates its whole subtree), while
    here it is one opaque vectorized kernel and an optimizer barrier that
    keeps downstream plans small.
    """
    u = url.str.strip()
    u = u.str.replace(r"^(?:%[0-9a-fA-F]{2})+", "", regex=True)
    u = u.str.replace(r"#.*$", "", regex=True)
    has_scheme = u.str.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", na=False)
    u = u.where(has_scheme, "http://" + u)
    parts = u.str.extract(
        r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?"
    )
    scheme = parts[0].str.lower()
    hostport = parts[1].fillna("")
    path, query = parts[2], parts[3]
    # authority edge cases, matching urllib.parse.urlsplit (the simulator
    # twin): strip 'userinfo@' (up to the LAST '@' per RFC 3986), and treat
    # a bare trailing ':' as "no port" rather than part of the host
    hostport = hostport.str.replace(r"^.*@", "", regex=True)
    host = hostport.str.replace(r":\d*$", "", regex=True).str.lower()
    port = hostport.str.extract(r":(\d+)$")[0]
    port_num = pd.to_numeric(port, errors="coerce")
    default_port = ((scheme == "http") & (port_num == 80)) | (
        (scheme == "https") & (port_num == 443)
    )
    keep_port = port.notna() & ~default_port
    # normalized numeric form (":00" → ":0", ":0080" → ":80")
    port_str = port_num.astype("Int64").astype("string").fillna("")
    hp = host.where(~keep_port, host + ":" + port_str)
    path = path.fillna("")
    path = path.where(path != "", "/")
    out = scheme + "://" + hp + path
    has_query = query.notna() & (query != "")
    out = out.where(~has_query, out + "?" + query.fillna(""))
    # GURL-validity role (api/base.cc:59): host must be a dotted name or
    # IPv4 literal — no spaces/garbage; ports must fit 16 bits
    host_ok = host.str.match(r"^[a-z0-9_-]+(\.[a-z0-9_-]+)*$", na=False)
    port_bad = (port_num > 65535).fillna(False)
    bad = host.isna() | (host == "") | ~host_ok | scheme.isna() | (
        out.str.len() > MAX_URL_LEN
    ) | port_bad
    return out.mask(bad)


# The kernel is pure; the marker only stops Catalyst from re-extracting the
# eval per consumer operator. Without it, a Filter on the UDF output and the
# Project above it EACH get their own ArrowEvalPython node (ExtractPythonUDFs
# has no cross-operator CSE), so every slow-path row crossed the Arrow
# boundary twice — event-log verified: the crawl round's frontier-merge stage
# carried two identical _canonicalize_udf nodes at ~30 s python-worker time
# each. Nondeterministic expressions cannot be duplicated or pushed through,
# so the plan keeps exactly one eval.
_canonicalize_udf = _canonicalize_udf.asNondeterministic()


def canonicalize_url(url: Column) -> Column:
    """Canonical "click url": the engine's global document identity.

    Rules (NormalizeUrl, api/base.cc:19-61):
    1. trim surrounding whitespace
    2. strip any leading percent-escape runs (``%20http://…``)
    3. cut ``#fragment``
    4. prepend ``http://`` when no scheme present
    5. lowercase scheme+host (path/query case preserved)
    6. strip default port ``:80`` (http) / ``:443`` (https)
    7. drop trailing ``?`` with empty query; empty path → ``/``
    8. NULL out URLs longer than MAX_URL_LEN or with empty host
    """
    return _canonicalize_udf(url)


# A url matching this is PROVABLY a fixpoint of the canonicalizer: lowercase
# http(s) scheme, lowercase dotted host with no userinfo and no port, a '/'
# path with no fragment/whitespace, and either no query or a non-empty one.
# (Ports are excluded entirely — port normalization has too many cases to
# prove in one regex — so ported urls just take the slow path.)
FAST_CANON_RE = (
    r"^https?://[a-z0-9_-]+(\.[a-z0-9_-]+)*/[^#?\s]*(\?[^#\s]+)?$"
)


def is_canonical(url: Column) -> Column:
    """True ⇒ canonicalize_url(url) == url (sufficient, not necessary)."""
    return url.rlike(FAST_CANON_RE) & (F.length(url) <= MAX_URL_LEN)


def canonicalize_urls_df(df, url_col: str = "url",
                         fast_col: str | None = None):
    """DataFrame-level canonicalizer with a JVM fast path.

    Python UDFs inside a WHEN branch are pulled out and evaluated
    unconditionally, so the split has to happen at the DataFrame level:
    rows already in canonical form (the overwhelming majority of crawl
    outlinks — they come out of urljoin against canonical page urls)
    short-circuit on one JVM regex; only the messy minority crosses the
    Arrow boundary into the pandas kernel. Cuts the python-worker demand
    of the crawl round's biggest stage by ~an order of magnitude, which
    is also what the stage's core-scaling needs (each python stage pairs
    a JVM task thread WITH a python worker process).

    ``fast_col``: name of a precomputed ``is_canonical`` boolean column
    (dropped from the output). The split filters run once per consumer
    branch, and ``FAST_CANON_RE`` costs ~0.6 µs/row/eval JVM-side — a
    caller that persists its input can pay the regex once at persist
    time and hand the stored boolean to every downstream re-scan.
    """
    if fast_col is not None:
        fast = F.col(fast_col)
        a = df.filter(fast).drop(fast_col)
        b = df.filter(~fast).drop(fast_col)
    else:
        fast = is_canonical(F.col(url_col))
        a = df.filter(fast)
        b = df.filter(~fast)
    b = b.withColumn(url_col, _canonicalize_udf(F.col(url_col)))
    return a.unionByName(b)


def url_host(url: Column) -> Column:
    """Lowercased host (no port) of a canonical url."""
    return F.lower(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
            r":\d+$",
            "",
        )
    )


def url_path(url: Column) -> Column:
    """Path component (starts with '/', no query)."""
    p = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, r"\?([^#]*)", 1)


# --------------------------------------------------------------------------
# Fingerprints & sharding
# --------------------------------------------------------------------------

def url_sign64(url: Column) -> Column:
    """64-bit URL fingerprint (CalcUrlSign role; reference uses CityHash64 —
    crawler/crawler2/general_crawler/scheduler.cc:289-314)."""
    return F.xxhash64(url)


def shard_id(url: Column, n_shards: int) -> Column:
    """AssignShardId (api/base.cc:63-75): hash(click_url) % shards."""
    return F.pmod(F.xxhash64(url), F.lit(n_shards)).cast("int")


def host_bucket(host: Column, n_buckets: int) -> Column:
    """Host-affinity partition key (schedule.cc:64-69: CityHash64(host)%n).
    All URLs of one host land in one bucket — the politeness unit."""
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


# --------------------------------------------------------------------------
# Host reversal & domain split
# --------------------------------------------------------------------------

def reverse_host(host: Column) -> Column:
    """ReverseUrl host part (api/base.cc:93-139): dotted segments reversed;
    IPv4 literals unchanged."""
    rev = F.concat_ws(".", F.reverse(F.split(host, r"\.")))
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return F.when(is_ip, host).otherwise(rev)


def reverse_url(url: Column) -> Column:
    """Full reversed-url key (gen_hbase_key.h:20-26): reversed host + rest."""
    host = url_host(url)
    scheme = F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    return F.concat(scheme, F.lit("://"), reverse_host(host), rest)


# ParseHost host-shape gate (api/base.cc:166-201): non-empty dotted labels,
# no leading/trailing/doubled dots (the reference returns false on each)
_VALID_HOST_RE = r"^[^.\s]+(\.[^.\s]+)*$"


def _parse_host_cols(host: Column) -> tuple[Column, Column, Column]:
    """(tld, domain, subdomain) per ParseHost (api/base.cc:166-201) against
    the FULL tld.dat table (data_tld.PUBLIC_SUFFIXES, 3,599 entries).

    The reference scans the host's dots left→right and stops at the first
    dot whose suffix is in the table — i.e. the LONGEST PROPER suffix
    match (the whole host itself never matches). ``domain`` = one label +
    matched suffix; ``subdomain`` = the rest (may be ``''``); all three
    NULL when no suffix matches, the host is blank, or it has
    leading/trailing/doubled dots — the reference's ``return false``.
    Faithful to the reference DATA, quirks included: its tld.dat carries
    ``uk`` and ``sch.uk`` but NOT ``co.uk``, so ``www.shop.co.uk`` parses
    as domain ``co.uk`` (matching the C++ behavior, not publicsuffix.org).

    Column-expression variant: per depth k the membership probe is an
    ``array_contains`` over a LITERAL array (one plan literal, linear
    scan per row — ~3.6k string compares worst-case). Fine up to ~10^8
    rows; the 10^10-scale path is :func:`attach_registered_domain`,
    whose per-depth BROADCAST HASH joins probe in O(1)."""
    from .data_tld import MAX_SUFFIX_LABELS, SUFFIXES_BY_DEPTH

    h = F.lower(F.trim(host))
    valid = h.rlike(_VALID_HOST_RE)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    tld = F.lit(None).cast("string")
    for k in range(1, MAX_SUFFIX_LABELS + 1):  # longest match wins: the
        # later (longer) when-branch is checked FIRST in the fold below
        cand = F.concat_ws(".", F.slice(parts, n - k + 1, k))
        hit = (n >= k + 1) & F.array_contains(
            F.lit(SUFFIXES_BY_DEPTH[k]).cast("array<string>"), cand
        )
        tld = F.when(hit, cand).otherwise(tld)
    k_m = F.size(F.split(tld, r"\."))  # matched suffix label count
    domain = F.concat_ws(".", F.slice(parts, n - k_m, k_m + 1))
    subdomain = F.when(
        n - k_m - 1 <= 0, F.lit("")
    ).otherwise(F.concat_ws(".", F.slice(parts, 1, n - k_m - 1)))
    ok = valid & tld.isNotNull()
    null_s = F.lit(None).cast("string")
    return (
        F.when(ok, tld).otherwise(null_s),
        F.when(ok, domain).otherwise(null_s),
        F.when(ok, subdomain).otherwise(null_s),
    )


def registered_domain(host: Column) -> Column:
    """ParseHost's domain extraction (api/base.cc:141-201) over the full
    tld.dat table; NULL when no public suffix matches (ParseHost false).
    See :func:`_parse_host_cols` for semantics and the scale note."""
    return _parse_host_cols(host)[1]


def parse_host(host: Column) -> Column:
    """Full ParseHost: struct(tld, domain, subdomain) or all-NULL fields."""
    tld, domain, sub = _parse_host_cols(host)
    return F.struct(tld.alias("tld"), domain.alias("domain"),
                    sub.alias("subdomain"))


def attach_registered_domain(df, host_col: str = "host",
                             out_prefix: str = "") -> "DataFrame":
    """DataFrame-level ParseHost — the 10^10-row path.

    Same semantics as :func:`parse_host`, but each depth's membership
    probe is a BROADCAST HASH join against that depth's suffix dim
    (3,599 entries split 256/3,275/68 across depths 1/2/3): O(1) hash
    probes per row instead of a literal-array scan, no shuffle of ``df``.
    Adds ``{out_prefix}tld``, ``{out_prefix}domain``,
    ``{out_prefix}subdomain`` (NULL on no-match/invalid)."""
    from .data_tld import MAX_SUFFIX_LABELS, SUFFIXES_BY_DEPTH

    spark = df.sparkSession
    h = F.lower(F.trim(F.col(host_col)))
    valid = h.rlike(_VALID_HOST_RE)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    out = df.withColumn("_parts", parts)
    n = F.size("_parts")
    for k in range(1, MAX_SUFFIX_LABELS + 1):
        dim = spark.createDataFrame(
            [(s,) for s in SUFFIXES_BY_DEPTH[k]], f"_cand{k} string"
        ).withColumn(f"_hit{k}", F.lit(True))
        cand = F.when(
            n >= k + 1, F.concat_ws(".", F.slice("_parts", n - k + 1, k))
        )
        out = out.withColumn(f"_cand{k}", cand).join(
            F.broadcast(dim), f"_cand{k}", "left"
        )
    tld = F.coalesce(*[
        F.when(F.col(f"_hit{k}"), F.col(f"_cand{k}"))
        for k in range(MAX_SUFFIX_LABELS, 0, -1)  # longest wins
    ])
    k_m = F.size(F.split(tld, r"\."))
    domain = F.concat_ws(".", F.slice("_parts", n - k_m, k_m + 1))
    subdomain = F.when(
        n - k_m - 1 <= 0, F.lit("")
    ).otherwise(F.concat_ws(".", F.slice("_parts", 1, n - k_m - 1)))
    ok = valid & tld.isNotNull()
    null_s = F.lit(None).cast("string")
    out = out.withColumns({
        f"{out_prefix}tld": F.when(ok, tld).otherwise(null_s),
        f"{out_prefix}domain": F.when(ok, domain).otherwise(null_s),
        f"{out_prefix}subdomain": F.when(ok, subdomain).otherwise(null_s),
    })
    drop = ["_parts"] + [c for k in range(1, MAX_SUFFIX_LABELS + 1)
                         for c in (f"_cand{k}", f"_hit{k}")]
    return out.drop(*drop).select(
        *df.columns,
        f"{out_prefix}tld", f"{out_prefix}domain", f"{out_prefix}subdomain",
    )


def parse_host_py(host: str) -> tuple[str, str, str] | None:
    """Pure-Python ParseHost twin (simulator/tests differential oracle).
    Returns (tld, domain, subdomain) or None — api/base.cc:166-201."""
    from .data_tld import PUBLIC_SUFFIXES

    h = host.strip().lower()
    # same validity contract as the Column variants' _VALID_HOST_RE:
    # non-empty dot-separated labels, no whitespace anywhere (subsumes
    # the ".."/leading/trailing-dot checks)
    if not re.match(r"^[^.\s]+(\.[^.\s]+)*$", h):
        return None
    labels = h.split(".")
    for k in range(len(labels) - 1, 0, -1):  # longest PROPER suffix
        sfx = ".".join(labels[-k:])
        if sfx in PUBLIC_SUFFIXES:
            domain = ".".join(labels[-(k + 1):])
            sub = ".".join(labels[:-(k + 1)])
            return (sfx, domain, sub)
    return None


# --------------------------------------------------------------------------
# URL filter rule book (P7, crawler_selector_util.cc:32-305) — rules as data
# --------------------------------------------------------------------------

BAD_PATH_SUFFIXES = [
    ".exe", ".zip", ".rar", ".mp3", ".mp4", ".avi", ".apk", ".dmg", ".iso",
    ".gz", ".tar", ".7z", ".pdf", ".doc", ".xls", ".ppt", ".swf",
]
BAD_QUERY_TOKENS = ["login", "register", "logout", "signup", "url=", "wd="]
MAX_PATH_DEPTH = 10      # IsUrlPathValid, crawler_selector_util.cc:239-259
MAX_QUERY_LEN = 1000     # IsUrlQueryValid, crawler_selector_util.cc:283-305


def url_rule_filter(url: Column, path: Column | None = None,
                    query: Column | None = None) -> Column:
    """Boolean keep-predicate re-expressing WillFilterAccordingRules
    (crawler_selector_util.cc:413): path-suffix blacklist, query-token
    blacklist, path depth >= 10 drop, query > 1000B drop.
    Host blacklists join against a broadcast rule table instead (see
    politeness.robots_gate). Pass precomputed ``path``/``query`` columns
    when available so the regexp extraction isn't re-inlined per predicate.
    """
    if path is None:
        path = url_path(url)
    if query is None:
        query = url_query(url)
    # one compiled regex per rule family instead of a 17-predicate
    # endswith/contains chain (measured 4x faster on the outlink firehose)
    suffix_re = "(?i)\\.(" + "|".join(
        s.lstrip(".") for s in BAD_PATH_SUFFIXES
    ) + ")$"
    token_re = "(?i)(" + "|".join(
        t.replace("=", "\\=") for t in BAD_QUERY_TOKENS
    ) + ")"
    depth = F.size(F.split(path, "/")) - 1
    return (
        ~path.rlike(suffix_re)
        & ~query.rlike(token_re)
        & (depth < MAX_PATH_DEPTH)
        & (F.length(query) <= MAX_QUERY_LEN)
    )


# --------------------------------------------------------------------------
# Relative-link resolution (the one pandas UDF in this module)
# --------------------------------------------------------------------------

@pandas_udf(StringType())
def _urljoin_udf(base: pd.Series, link: pd.Series) -> pd.Series:
    """Arrow-batched urljoin (GURL::Resolve role, text_handler.cc:116-128).
    Vectorized over the batch with pandas string fast paths: absolute links
    (the overwhelming majority in crawl data) bypass urljoin entirely."""
    from urllib.parse import urljoin

    out = link.copy()
    absolute = link.str.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", na=False)
    rel_idx = out.index[~absolute & link.notna() & base.notna()]
    if len(rel_idx):
        out.loc[rel_idx] = [
            urljoin(b, l) for b, l in zip(base.loc[rel_idx], link.loc[rel_idx])
        ]
    return out


def resolve_link(base_url: Column, link: Column) -> Column:
    """Resolve a possibly-relative link against its page URL."""
    return _urljoin_udf(base_url, link)
