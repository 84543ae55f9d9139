"""Table-driven URL-kernel tests (mirrors the reference's gtest style,
crawler/crawler/api/base_test.cc)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spider_spark import urlkit
from spider_spark.simulator import canonicalize as py_canonicalize

# (raw, expected canonical) — rule book from NormalizeUrl (api/base.cc:19-61)
CANON_CASES = [
    ("http://www.example.com/a", "http://www.example.com/a"),
    ("  http://www.example.com/a  ", "http://www.example.com/a"),  # trim
    ("%20%0Ahttp://x.com/a", "http://x.com/a"),          # leading %xx strip
    ("http://x.com/a#frag", "http://x.com/a"),           # fragment cut
    ("www.example.com/a", "http://www.example.com/a"),   # scheme prepend
    ("HTTP://WWW.Example.COM/Path", "http://www.example.com/Path"),
    ("http://x.com:80/a", "http://x.com/a"),             # default port
    ("https://x.com:443/a", "https://x.com/a"),
    ("http://x.com:8080/a", "http://x.com:8080/a"),      # explicit port kept
    ("http://x.com", "http://x.com/"),                   # empty path → /
    ("http://x.com?", "http://x.com/"),                  # bare ? dropped
    ("http://x.com/a?q=1", "http://x.com/a?q=1"),        # query kept
    ("http://x.com/A/B?Q=Z", "http://x.com/A/B?Q=Z"),    # case preserved
    ("http://" + "x" * urlkit.MAX_URL_LEN + ".com/", None),  # too long
    ("not a url at all", None),                          # garbage host
    ("javascript:alert(1)", None),                       # non-numeric port
    ("http://", None),                                   # empty host
]


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r["c"]
        for r in df.select(
            urlkit.canonicalize_url(F.col("url")).alias("c")
        ).collect()
    ]


def test_canonicalize_table(spark):
    got = _canon(spark, [c[0] for c in CANON_CASES])
    for (raw, want), g in zip(CANON_CASES, got):
        assert g == want, f"{raw!r}: got {g!r} want {want!r}"


def test_canonicalize_matches_simulator_twin(spark):
    """Differential: Spark pandas-UDF kernel vs the urllib-based simulator
    twin must agree on every case (independent implementations)."""
    urls = [c[0] for c in CANON_CASES] + [
        "http://a.b.c.example.com/x/y/z?k=v",
        "ftp://files.example.com/pub",
        "http://x.com/%7Euser",
    ]
    got = _canon(spark, urls)
    for u, g in zip(urls, got):
        assert g == py_canonicalize(u), u


def test_host_path_query(spark):
    df = spark.createDataFrame(
        [("http://a.example.com:8080/x/y?q=1#f",)], "url string"
    )
    row = df.select(
        urlkit.url_host(F.col("url")).alias("h"),
        urlkit.url_path(F.col("url")).alias("p"),
        urlkit.url_query(F.col("url")).alias("q"),
    ).collect()[0]
    assert row["h"] == "a.example.com"
    assert row["p"] == "/x/y"
    assert row["q"] == "q=1"


def test_sign_and_shard_stability(spark):
    """Fingerprint/shard must be stable across runs (determinism rule §4)."""
    df = spark.createDataFrame([("http://x.com/a",)], "url string")
    out1 = df.select(
        urlkit.url_sign64(F.col("url")).alias("s"),
        urlkit.shard_id(F.col("url"), 64).alias("sh"),
    ).collect()[0]
    out2 = df.select(
        urlkit.url_sign64(F.col("url")).alias("s"),
        urlkit.shard_id(F.col("url"), 64).alias("sh"),
    ).collect()[0]
    assert out1 == out2
    assert 0 <= out1["sh"] < 64


def test_reverse_host(spark):
    df = spark.createDataFrame(
        [("news.sina.com.cn",), ("10.1.2.3",)], "host string"
    )
    got = [
        r["r"]
        for r in df.select(
            urlkit.reverse_host(F.col("host")).alias("r")
        ).collect()
    ]
    assert got == ["cn.com.sina.news", "10.1.2.3"]  # api/base.cc:93-139


# ParseHost cases ported from the reference's api/base_test.cc:194-263,
# plus full-table cases (the data quirks are the reference's own: tld.dat
# carries 'uk'/'sch.uk' but not 'co.uk')
PARSE_HOST_CASES = [
    ("     ", None),
    ("newS.sIna.com.cN", ("com.cn", "sina.com.cn", "news")),
    ("sina.com.cn", ("com.cn", "sina.com.cn", "")),
    ("www.sina.com.cn", ("com.cn", "sina.com.cn", "www")),
    ("www.sina.com", ("com", "sina.com", "www")),
    ("192.168.11.55", None),
    ("dict.cn..cn.com.cn", None),
    (".dict.cn", None),
    ("dict.cn.", None),
    ("www.sohu.comm", None),
    ("www.shop1.co.uk", ("uk", "co.uk", "www.shop1")),
    ("x.school2.act.edu.au", ("act.edu.au", "school2.act.edu.au", "x")),
    ("lab.u9.ac.jp", ("ac.jp", "u9.ac.jp", "lab")),
    ("nomatch.localdomain", None),
]


def test_parse_host_reference_cases(spark):
    df = spark.createDataFrame(
        [(h,) for h, _ in PARSE_HOST_CASES], "host string"
    )
    got = {
        r["host"]: (r["p"]["tld"], r["p"]["domain"], r["p"]["subdomain"])
        for r in df.select(
            "host", urlkit.parse_host(F.col("host")).alias("p")
        ).collect()
    }
    for h, exp in PARSE_HOST_CASES:
        assert got[h] == (exp or (None, None, None)), h
        assert urlkit.parse_host_py(h) == exp, h


def test_attach_registered_domain_matches_column_variant(spark):
    """The broadcast-join scale path and the literal-array column variant
    agree with the pure-python twin on a mixed host corpus."""
    hosts = [h for h, _ in PARSE_HOST_CASES if h.strip()] + [
        f"sub{i}.site{i}.{sfx}"
        for i, sfx in enumerate(
            ["com", "com.cn", "ac.jp", "co.kr", "net", "org", "gs.aa.no",
             "example.zz"] * 3
        )
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    attached = {
        r["host"]: (r["tld"], r["domain"], r["subdomain"])
        for r in urlkit.attach_registered_domain(df).collect()
    }
    col_variant = {
        r["host"]: r["d"]
        for r in df.select(
            "host", urlkit.registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    for h in hosts:
        exp = urlkit.parse_host_py(h)
        assert attached[h] == (exp or (None, None, None)), h
        assert col_variant[h] == (exp[1] if exp else None), h


def test_url_rule_filter(spark):
    keep = [
        "http://x.com/page",
        "http://x.com/a?q=hello",
    ]
    drop = [
        "http://x.com/file.exe",                       # suffix blacklist
        "http://x.com/file.ZIP",                       # case-insensitive
        "http://x.com/a?do=login",                     # query token
        "http://x.com/" + "/".join("d" * 12),          # path depth
        "http://x.com/a?" + "q" * 1200,                # query too long
    ]
    df = spark.createDataFrame([(u,) for u in keep + drop], "url string")
    got = df.filter(urlkit.url_rule_filter(F.col("url"))).collect()
    assert sorted(r["url"] for r in got) == sorted(keep)


def test_resolve_link(spark):
    df = spark.createDataFrame(
        [
            ("http://x.com/a/b", "c.html"),
            ("http://x.com/a/b", "/root.html"),
            ("http://x.com/a/b", "http://y.com/z"),
        ],
        "base string, link string",
    )
    got = [
        r["r"]
        for r in df.select(
            urlkit.resolve_link(F.col("base"), F.col("link")).alias("r")
        ).collect()
    ]
    assert got == [
        "http://x.com/a/c.html",
        "http://x.com/root.html",
        "http://y.com/z",
    ]


def test_parse_host_py_rejects_whitespace_host(spark):
    """The python twin enforces the same host-validity contract as the
    Column variants' _VALID_HOST_RE (review r4: 'a b.com' used to parse
    on the python side while both Column variants return NULL)."""
    from pyspark.sql import functions as F

    for bad in ("a b.com", " ", "x..com", ".x.com", "x.com."):
        assert urlkit.parse_host_py(bad) is None, bad
    df = spark.createDataFrame([("a b.com",)], "host string")
    row = df.select(
        urlkit.registered_domain(F.col("host")).alias("d")).first()
    assert row["d"] is None
