"""Robots gating + holdon state + per-ip admission cap (L1/L6/J2 semantics,
load_controller.cc:149-242 at batch granularity)."""

from __future__ import annotations

import pytest

from spider_spark import politeness as pol


@pytest.fixture(scope="module")
def robots(spark):
    r = pol.synthetic_robots(spark, 20).cache()
    r.count()
    return r


def test_robots_levels(spark, robots):
    urls = spark.createDataFrame(
        [
            ("http://host0.example.com/p/0", "host0.example.com", "/p/0"),
            ("http://host0.example.com/p/1", "host0.example.com", "/p/1"),
            ("http://host13.example.com/p/1", "host13.example.com", "/p/1"),
            ("http://host1.example.com/p/5", "host1.example.com", "/p/5"),
            ("http://nohost.example.com/p/0", "nohost.example.com", "/p/0"),
        ],
        "url string, host string, path string",
    )
    got = {
        r["url"]: r["robots_level"]
        for r in pol.robots_level(urls, robots).collect()
    }
    # host0: id%13==0 → no robots.txt → level 1 regardless of rules
    assert got["http://host0.example.com/p/0"] == 1
    assert got["http://host0.example.com/p/1"] == 1
    # host13: 13%13==0 → no robots → level 1
    assert got["http://host13.example.com/p/1"] == 1
    # host1: robots present, allow_all → level 2
    assert got["http://host1.example.com/p/5"] == 2
    # unknown host → no robots → level 1
    assert got["http://nohost.example.com/p/0"] == 1


def test_robots_disallow_prefix(spark, robots):
    urls = spark.createDataFrame(
        [
            ("http://host7.example.com/p/1", "host7.example.com", "/p/1"),
            ("http://host7.example.com/p/10", "host7.example.com", "/p/10"),
            ("http://host7.example.com/p/2", "host7.example.com", "/p/2"),
        ],
        "url string, host string, path string",
    )
    got = {
        r["url"]: r["robots_level"]
        for r in pol.robots_level(urls, robots).collect()
    }
    # host7: 7%7==0 → disallow prefix /p/1, allow_all False
    assert got["http://host7.example.com/p/1"] == 0    # disallowed
    assert got["http://host7.example.com/p/10"] == 0   # prefix match
    assert got["http://host7.example.com/p/2"] == 3    # explicit allow


def test_update_host_state(spark):
    spec = pol.PolitenessSpec(holdon_failures=3, holdon_rounds=2,
                              max_failed_times=6)
    state = pol.init_host_state(spark)
    results = spark.createDataFrame(
        [("f.com", False)] * 3 + [("s.com", True), ("s.com", False)],
        "host string, success boolean",
    )
    st1 = pol.update_host_state(state, results, spec, round_no=1)
    d = {r["host"]: r.asDict() for r in st1.collect()}
    assert d["f.com"]["consec_failures"] == 3
    assert d["f.com"]["holdon_until_round"] == 3  # 1 + 2
    assert not d["f.com"]["dropped"]
    # any success resets the run
    assert d["s.com"]["consec_failures"] == 0

    # keep failing → dropped at max_failed_times
    more = spark.createDataFrame([("f.com", False)] * 3,
                                 "host string, success boolean")
    st2 = pol.update_host_state(st1, more, spec, round_no=2)
    d2 = {r["host"]: r.asDict() for r in st2.collect()}
    assert d2["f.com"]["consec_failures"] == 6
    assert d2["f.com"]["dropped"]


def test_ip_cap_null_ips_bypass_window(spark):
    """Rows whose host has no ip mapping (or whose ip has no budget) must
    not enter the per-ip ranking window: correctness — they stay
    admitted untouched; plan — the window's input filters to non-null
    ips, so the (typically majority) unmapped rows can never serialize
    through the window's single NULL partition."""
    adm = spark.createDataFrame(
        [(f"http://h{i % 4}.com/{i}", f"h{i % 4}.com", 30, 1.0, True)
         for i in range(20)],
        "url string, host string, priority int, score double, "
        "admitted boolean",
    )
    host_ips = spark.createDataFrame(
        [("h0.com", "1.1.1.1"), ("h1.com", "1.1.1.1")],
        "host string, ip string",
    )  # h2/h3 unmapped → null ip
    ip_budgets = spark.createDataFrame(
        [("1.1.1.1", 3)], "ip string, budget int")
    out = pol.ip_cap_admitted(adm, host_ips, ip_budgets)
    rows = {r["url"]: r["admitted"] for r in out.collect()}
    assert len(rows) == 20
    mapped = [u for u in rows if u.startswith(("http://h0", "http://h1"))]
    unmapped = [u for u in rows if not u.startswith(("http://h0", "http://h1"))]
    assert sum(rows[u] for u in mapped) == 3           # capped to budget
    assert all(rows[u] for u in unmapped)              # untouched
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the Window node's child subtree must carry the isnotnull(ip) filter
    assert "isnotnull(ip" in plan, plan


def test_ip_cap_multi_ip_host_does_not_duplicate_rows(spark):
    """A host with several A-records (two host_ips rows) must not
    multiply its admitted rows through the dim join — one deterministic
    ip per host (min), row count preserved."""
    adm = spark.createDataFrame(
        [(f"http://m.com/{i}", "m.com", 30, 1.0, True) for i in range(6)],
        "url string, host string, priority int, score double, "
        "admitted boolean",
    )
    host_ips = spark.createDataFrame(
        [("m.com", "2.2.2.2"), ("m.com", "1.1.1.1")],
        "host string, ip string",
    )
    ip_budgets = spark.createDataFrame(
        [("1.1.1.1", 2), ("2.2.2.2", 100)], "ip string, budget int")
    out = pol.ip_cap_admitted(adm, host_ips, ip_budgets)
    rows = out.collect()
    assert len(rows) == 6  # no duplication
    # deterministic pick = min ip → budget 2 applies
    assert sum(r["admitted"] for r in rows) == 2
