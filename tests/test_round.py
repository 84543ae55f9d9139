"""E2E crawl rounds vs the pure-Python reference simulator — the north-rule
contract: equality of (round → admitted-url batch) sequences and of the
final URL-seen set under the same seed list + politeness budget."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from crawl_witness import WitnessRun, batches
from spider_spark import simulator as sim
from spider_spark.politeness import PolitenessSpec, synthetic_robots
from spider_spark.round import CrawlRun, RoundSpec
from spider_spark.spans import WebSpec, extract_outlinks, generate_documents

SPEC = WebSpec(n_hosts=10, pages_per_host=4, skew_hosts=2, skew_pages=16,
               links_per_page=3)
PSPEC = PolitenessSpec(qps=1.0, round_seconds=3.0)  # budget 3/host/round
RSPEC = RoundSpec(n_buckets=8, max_depth=3, max_rounds=10, politeness=PSPEC)
SEEDS = [SPEC.url_of(1), SPEC.url_of(2), SPEC.url_of(7)]


@pytest.fixture(scope="module")
def world(spark):
    docs = generate_documents(spark, SPEC).cache()
    robots = synthetic_robots(spark, SPEC.n_hosts).cache()
    adj = collections.defaultdict(list)
    for r in extract_outlinks(docs).collect():
        adj[r["doc_id"]].append(r["outlink"])
    rob = sim.SimRobots({
        r["host"]: (r["has_robots"], r["allow_all"],
                    list(r["disallow_prefixes"] or []))
        for r in robots.collect()
    })
    return docs, robots, dict(adj), rob


@pytest.fixture(scope="module")
def spark_result(spark, world, tmp_path_factory):
    docs, robots, _, _ = world
    ck = str(tmp_path_factory.mktemp("ck"))
    run = WitnessRun(spark, docs, robots, ck, RSPEC)
    seeds_df = spark.createDataFrame([(u,) for u in SEEDS], "url string")
    return run, batches(run.run(seeds_df))


@pytest.fixture(scope="module")
def sim_result(world):
    _, _, adj, rob = world
    return sim.simulate(
        SEEDS, adj, rob,
        sim.SimSpec(default_budget=PSPEC.default_budget,
                    max_depth=RSPEC.max_depth, max_rounds=RSPEC.max_rounds),
    )


def test_crawl_ordering_matches_simulator(spark, spark_result, sim_result):
    _, rounds = spark_result
    assert rounds == sim_result["rounds"]
    # the per-round caches are built with columnar compression off; the
    # session default, which the adjacency cache uses, is restored
    assert spark.conf.get(
        "spark.sql.inMemoryColumnarStorage.compressed") == "true"


def test_seen_set_matches_simulator(spark_result, sim_result):
    run, _ = spark_result
    assert run.seen_urls() == sim_result["seen"]


def test_resume_from_checkpoint(spark, world, tmp_path_factory):
    """Donelist-protocol resume (link_merge.sh:30-57 role): a fresh driver
    resuming mid-crawl must end at the same seen set as an uninterrupted
    run."""
    docs, robots, adj, rob = world
    ck = str(tmp_path_factory.mktemp("ck_resume"))
    short = RoundSpec(n_buckets=8, max_depth=2, max_rounds=2,
                      politeness=PSPEC)
    run1 = CrawlRun(spark, docs, robots, ck, short)
    seeds_df = spark.createDataFrame([(u,) for u in SEEDS], "url string")
    run1.run(seeds_df)
    assert run1.last_committed_round() == 2

    # resume with a new driver object and a longer horizon
    full = RoundSpec(n_buckets=8, max_depth=2, max_rounds=10,
                     politeness=PSPEC)
    run2 = CrawlRun(spark, docs, robots, ck, full)
    run2.run(seeds_df, resume=True)

    ref = sim.simulate(
        SEEDS, adj, rob,
        sim.SimSpec(default_budget=PSPEC.default_budget, max_depth=2,
                    max_rounds=10),
    )
    assert run2.seen_urls() == ref["seen"]


def test_failures_and_budgets_match_simulator(spark, world,
                                              tmp_path_factory):
    """E2E with fetch FAILURES (seeds pointing at nonexistent pages →
    consec-failure runs → holdon) and a per-host budget dim — the
    update_host_state path exercised end-to-end against the simulator."""
    docs, robots, adj, rob = world
    # hosts 1 and 2 get seeds for pages that don't exist → failures
    bad_seeds = [f"http://host1.example.com/p/{900 + i}" for i in range(4)]
    bad_seeds += [f"http://host2.example.com/p/{950 + i}" for i in range(2)]
    seeds = SEEDS + bad_seeds
    pspec = PolitenessSpec(qps=1.0, round_seconds=2.0,  # budget 2
                           holdon_failures=2, holdon_rounds=2)
    budgets_rows = [("host1.example.com", 4), ("host3.example.com", 1)]
    budgets = spark.createDataFrame(budgets_rows, "host string, budget int")
    rspec = RoundSpec(n_buckets=8, max_depth=2, max_rounds=12,
                      politeness=pspec)
    ck = str(tmp_path_factory.mktemp("ck_fail"))
    run = WitnessRun(spark, docs, robots, ck, rspec, budgets=budgets)
    rounds = batches(run.run(
        spark.createDataFrame([(u,) for u in seeds], "url string")))

    simout = sim.simulate(
        seeds, adj, rob,
        sim.SimSpec(default_budget=pspec.default_budget,
                    budgets=dict(budgets_rows), max_depth=2, max_rounds=12,
                    holdon_failures=2, holdon_rounds=2),
    )
    assert rounds == simout["rounds"]
    assert run.seen_urls() == simout["seen"]


def test_span_invariant_through_pipeline(spark, world):
    """Docs fetched by the engine keep span sequences byte-identical to the
    source table (the per-row invariant)."""
    from spider_spark.spans import span_signature

    docs, _, _, _ = world
    before = span_signature(docs)
    # round-trip through parquet (what the round's linkbase join does)
    import tempfile
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(d + "/docs")
    after = span_signature(spark.read.parquet(d + "/docs"))
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


@pytest.fixture(scope="module")
def one_round_ckpt(spark, world, tmp_path_factory):
    """A checkpoint with round 0 committed under n_buckets=8."""
    docs, robots, _, _ = world
    ck = str(tmp_path_factory.mktemp("ck_layout"))
    spec = RoundSpec(n_buckets=8, max_depth=2, max_rounds=1, politeness=PSPEC)
    CrawlRun(spark, docs, robots, ck, spec).run(
        spark.createDataFrame([(u,) for u in SEEDS], "url string"))
    return ck


def _set_spec(**kv):
    def mutate(m):
        m["spec"].update(kv)
    return mutate


def _drop_spec(m):
    del m["spec"]


def _parent_default_spec(m):
    m["spec"] = {"seen_mode": "sign", "fused": True, "n_buckets": 8}


@pytest.mark.parametrize("mutate,n_buckets,resumes", [
    (None, 16, False),                           # bucket count changed
    (_set_spec(seen_mode="bloom"), 8, False),    # former Bloom layout
    (_set_spec(fused=False), 8, False),          # former sign-keyed buckets
    (_drop_spec, 8, False),                      # no recorded layout
    (_parent_default_spec, 8, True),             # default layout: resumes
], ids=["n_buckets", "bloom", "unfused", "no_spec", "default"])
def test_resume_state_layout_guard(spark, world, one_round_ckpt, tmp_path,
                                   mutate, n_buckets, resumes):
    """Resume validates the state layout the round-0 manifest records: a
    mismatch would probe seen_state under the wrong bucket keys and
    silently miss every seen url, so it must fail fast. A checkpoint
    written under the default layout (the only one left) resumes."""
    import json
    import os
    import shutil

    docs, robots, _, _ = world
    ck = str(tmp_path / "ck")
    shutil.copytree(one_round_ckpt, ck)
    mf = os.path.join(ck, "round=0000", "manifest.json")
    if mutate is not None:
        with open(mf) as f:
            m = json.load(f)
        mutate(m)
        with open(mf, "w") as f:
            json.dump(m, f)
    spec = RoundSpec(n_buckets=n_buckets, max_depth=2, max_rounds=2,
                     politeness=PSPEC)
    run = CrawlRun(spark, docs, robots, ck, spec)
    seeds_df = spark.createDataFrame([(u,) for u in SEEDS], "url string")
    if resumes:
        assert [r["round"] for r in run.run(seeds_df, resume=True)] == [1]
        assert run.last_committed_round() == 2
    else:
        with pytest.raises(ValueError, match="state-layout"):
            run.run(seeds_df, resume=True)


def test_seen_urls_ignores_uncommitted_delta(spark, world, tmp_path_factory):
    """Crash mid-round R leaves a linkbase delta round=R with no manifest
    R+1 (the commit marker): seen_urls() must not count it."""
    docs, robots, _, _ = world
    ck = str(tmp_path_factory.mktemp("ck_crash"))
    spec = RoundSpec(n_buckets=8, max_depth=2, max_rounds=2, politeness=PSPEC)
    run = CrawlRun(spark, docs, robots, ck, spec)
    seeds_df = spark.createDataFrame([(u,) for u in SEEDS], "url string")
    run.run(seeds_df)
    before = run.seen_urls()
    # simulate the crash: an orphan delta for round R (= last manifest),
    # whose commit marker (manifest R+1) was never written
    r = run.last_committed_round()
    orphan = spark.createDataFrame(
        [("http://host9.example.com/p/999", "host9.example.com", 1, True)],
        "url string, host string, depth int, success boolean",
    )
    run._write_linkbase_delta(orphan, r)
    assert run.seen_urls() == before


# --------------------------------------------------------------------------
# VIP seen-bypass (J4) + signal-driven scoring — round-2 wiring
# --------------------------------------------------------------------------

_DOC_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")
_ROBOTS_DDL = ("host string, has_robots boolean, allow_all boolean, "
               "disallow_prefixes array<string>")


def _mk_docs(spark, adj: dict[str, list[str]]):
    rows = [
        (u, [("anchor", f'<a href="{t}">x</a>', t, i)
             for i, t in enumerate(links)])
        for u, links in adj.items()
    ]
    return spark.createDataFrame(rows, _DOC_DDL)


def _allow_all_robots(spark, hosts: list[str]):
    return spark.createDataFrame(
        [(h, True, True, []) for h in hosts], _ROBOTS_DDL
    )


def _sim_robots_allow(hosts: list[str]) -> sim.SimRobots:
    return sim.SimRobots({h: (True, True, []) for h in hosts})


def _run_engine(spark, docs, robots, ck, rspec, seeds, signals=None):
    run = WitnessRun(spark, docs, robots, ck, rspec, signals=signals)
    return run, batches(run.run(
        spark.createDataFrame([(u,) for u in seeds], "url string")))


def test_vip_homepage_refresh_matches_simulator(spark, tmp_path_factory):
    """J4 VIP override (mr_selector_r1_reducer.cc:62-108): a homepage
    rediscovered after being crawled is re-admitted (seen-drop bypass);
    plain pages are not. Twinned by the simulator."""
    home = "http://a.example.com/"
    p1, p2 = "http://a.example.com/p/1", "http://a.example.com/p/2"
    adj = {home: [p1, p2], p1: [home, p2], p2: [home, p1]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["a.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=4, max_rounds=6,
        politeness=PolitenessSpec(qps=1.0, round_seconds=5.0),
    )
    ck = str(tmp_path_factory.mktemp("ck_vip"))
    _, rounds = _run_engine(spark, docs, robots, ck, rspec, [home])

    simout = sim.simulate(
        [home], adj, _sim_robots_allow(["a.example.com"]),
        sim.SimSpec(default_budget=5, max_depth=4, max_rounds=6),
    )
    assert rounds == simout["rounds"]
    # the homepage must appear in MORE than one round (the refresh), and
    # plain pages exactly once
    n_home = sum(home in r for r in rounds)
    n_p1 = sum(p1 in r for r in rounds)
    assert n_home >= 2 and n_p1 == 1


def test_signal_scoring_reorders_admission(spark, tmp_path_factory):
    """Log-signal-driven frontier scoring (mr_selector_r1_mapper.cc:166-174
    uv_rank case): a (url, uv) signal table reorders per-host admission
    away from the depth/url default; engine and simulator move together."""
    seed = "http://c.example.com/p/0"
    pages = [f"http://b.example.com/p/{i}" for i in range(1, 5)]
    adj = {seed: pages}
    hosts = ["b.example.com", "c.example.com"]
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, hosts)
    uv = {pages[2]: 50.0, pages[1]: 20.0}  # favor p/3 then p/2
    signals = spark.createDataFrame(list(uv.items()), "url string, uv double")
    rspec = RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=8,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),  # budget 1
    )
    ck = str(tmp_path_factory.mktemp("ck_sig"))
    _, rounds = _run_engine(spark, docs, robots, ck, rspec, [seed],
                            signals=signals)

    simout = sim.simulate(
        [seed], adj, _sim_robots_allow(hosts),
        sim.SimSpec(default_budget=1, max_depth=3, max_rounds=8, signals=uv),
    )
    base = sim.simulate(
        [seed], adj, _sim_robots_allow(hosts),
        sim.SimSpec(default_budget=1, max_depth=3, max_rounds=8),
    )
    assert rounds == simout["rounds"]
    assert simout["rounds"] != base["rounds"]  # the signal actually reorders
    # uv-ranked page admitted before lexically-earlier siblings
    flat = [u for r in rounds for u in r if u.startswith("http://b.")]
    assert flat.index(pages[2]) == 0 and flat.index(pages[1]) == 1


def test_per_ip_cap_matches_simulator(spark, tmp_path_factory):
    """Per-ip politeness (load_controller.h:18-52): two hosts sharing one
    ip with an ip budget below the sum of host budgets — the cap demotes
    rows each round identically in engine and simulator."""
    seed = "http://d.example.com/p/0"
    b_pages = [f"http://b.example.com/p/{i}" for i in range(1, 5)]
    c_pages = [f"http://c.example.com/p/{i}" for i in range(1, 5)]
    adj = {seed: b_pages + c_pages}
    hosts = ["b.example.com", "c.example.com", "d.example.com"]
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, hosts)
    host_ips = spark.createDataFrame(
        [("b.example.com", "10.0.0.9"), ("c.example.com", "10.0.0.9"),
         ("d.example.com", "10.0.0.7")],
        "host string, ip string",
    )
    ip_budgets = spark.createDataFrame(
        [("10.0.0.9", 3)], "ip string, budget int"
    )
    rspec = RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=8,
        politeness=PolitenessSpec(qps=1.0, round_seconds=3.0),  # 3/host
    )
    ck = str(tmp_path_factory.mktemp("ck_ipcap"))
    run = WitnessRun(spark, docs, robots, ck, rspec,
                     host_ips=host_ips, ip_budgets=ip_budgets)
    rounds = batches(run.run(spark.createDataFrame([(seed,)], "url string")))

    simout = sim.simulate(
        [seed], adj, _sim_robots_allow(hosts),
        sim.SimSpec(default_budget=3, max_depth=3, max_rounds=8,
                    host_ips={"b.example.com": "10.0.0.9",
                              "c.example.com": "10.0.0.9",
                              "d.example.com": "10.0.0.7"},
                    ip_budgets={"10.0.0.9": 3}),
    )
    assert rounds == simout["rounds"]
    # the cap must bind: 8 same-ip candidates vs host budget 3+3, ip 3
    per_round_ip = [
        sum(u.startswith(("http://b.", "http://c.")) for u in r)
        for r in rounds
    ]
    assert max(per_round_ip, default=0) == 3
    assert run.seen_urls() == simout["seen"]


def test_recrawl_ttl_matches_simulator(spark, tmp_path_factory):
    """Batch recrawl TTL (scheduler.cc:381-393): signs older than ttl
    rounds leave the seen shard, so a rediscovered url re-admits. Ring web
    + budget 1 → a rolling refresh cycle, twinned by the simulator."""
    s = "http://r.example.com/p/0"
    p1, p2, p3 = (f"http://r.example.com/p/{i}" for i in (1, 2, 3))
    adj = {s: [p1], p1: [p2], p2: [p3], p3: [p1]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["r.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=8, max_rounds=7,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),  # budget 1
        recrawl_ttl_rounds=3,
    )
    ck = str(tmp_path_factory.mktemp("ck_ttl"))
    _, rounds = _run_engine(spark, docs, robots, ck, rspec, [s])

    simout = sim.simulate(
        [s], adj, _sim_robots_allow(["r.example.com"]),
        sim.SimSpec(default_budget=1, max_depth=8, max_rounds=7,
                    recrawl_ttl_rounds=3),
    )
    assert rounds == simout["rounds"]
    # the TTL must actually bind: p1 crawled at r1 AND again after expiry
    n_p1 = sum(p1 in r for r in rounds)
    assert n_p1 >= 2


def test_ttl_resume_and_manifest_lineage(spark, tmp_path_factory):
    """A TTL crawl interrupted and resumed by a fresh driver reaches the
    same seen set as the uninterrupted twin; every committed manifest
    carries lineage metrics + the state-layout spec."""
    import json
    import os

    s = "http://r2.example.com/p/0"
    p1, p2, p3 = (f"http://r2.example.com/p/{i}" for i in (1, 2, 3))
    adj = {s: [p1], p1: [p2], p2: [p3], p3: [p1]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["r2.example.com"])

    def spec(max_rounds):
        return RoundSpec(
            n_buckets=4, max_depth=8, max_rounds=max_rounds,
            politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
            recrawl_ttl_rounds=3,
        )

    ck = str(tmp_path_factory.mktemp("ck_ttl_resume"))
    seeds_df = spark.createDataFrame([(s,)], "url string")
    CrawlRun(spark, docs, robots, ck, spec(3)).run(seeds_df)
    run2 = CrawlRun(spark, docs, robots, ck, spec(7))
    run2.run(seeds_df, resume=True)

    simout = sim.simulate(
        [s], adj, _sim_robots_allow(["r2.example.com"]),
        sim.SimSpec(default_budget=1, max_depth=8, max_rounds=7,
                    recrawl_ttl_rounds=3),
    )
    # under TTL the linkbase holds everything EVER crawled, while the live
    # dedup state drops expired entries — compare against the former
    assert run2.seen_urls() == simout["crawled"]

    last = run2.last_committed_round()
    assert last is not None and last >= 4
    with open(os.path.join(ck, f"round={last:04d}", "manifest.json")) as f:
        m = json.load(f)
    assert m["parent_round"] == last - 1
    assert m["spec"]["seen_mode"] == "sign" and m["spec"]["fused"] is True
    for k in ("admitted", "frontier_next", "hosts_tracked",
              "linkbase_delta_rows", "fetch_ok"):
        assert k in m["metrics"], m


def test_kitchen_sink_composition_matches_simulator(spark, tmp_path_factory):
    """ALL round-2 features at once — VIP homepages, uv signals, per-host
    budget dim, failures/holdon, shared-ip cap, recrawl TTL — composed in
    one crawl, matched round-for-round against the simulator."""
    hosts = [f"h{i}.example.com" for i in range(4)]
    home = {h: f"http://{h}/" for h in hosts}
    page = {(h, k): f"http://{h}/p/{k}" for h in hosts for k in range(5)}
    adj = {}
    for h in hosts:
        adj[home[h]] = [page[(h, k)] for k in range(5)]
        for k in range(5):
            nxt_host = hosts[(hosts.index(h) + 1) % 4]
            adj[page[(h, k)]] = [home[nxt_host], page[(nxt_host, k)]]
    # h3's pages 3,4 do not exist → failures; seed each homepage
    for k in (3, 4):
        del adj[page[("h3.example.com", k)]]
    seeds = [home[h] for h in hosts[:2]] + [page[("h2.example.com", 0)]]
    uv = {page[("h0.example.com", 4)]: 40.0, page[("h1.example.com", 2)]: 25.0}
    budgets_rows = [("h0.example.com", 3), ("h3.example.com", 1)]
    host_ips = {"h0.example.com": "10.1.1.1", "h1.example.com": "10.1.1.1",
                "h2.example.com": "10.2.2.2", "h3.example.com": "10.3.3.3"}
    ip_budgets = {"10.1.1.1": 4}

    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, hosts)
    rspec = RoundSpec(
        n_buckets=4, max_depth=6, max_rounds=9,
        politeness=PolitenessSpec(qps=1.0, round_seconds=2.0,  # budget 2
                                  holdon_failures=2, holdon_rounds=2),
        recrawl_ttl_rounds=4,
    )
    ck = str(tmp_path_factory.mktemp("ck_sink"))
    run = WitnessRun(
        spark, docs, robots, ck, rspec,
        budgets=spark.createDataFrame(budgets_rows, "host string, budget int"),
        signals=spark.createDataFrame(list(uv.items()), "url string, uv double"),
        host_ips=spark.createDataFrame(list(host_ips.items()), "host string, ip string"),
        ip_budgets=spark.createDataFrame(list(ip_budgets.items()), "ip string, budget int"),
    )
    rounds = batches(run.run(
        spark.createDataFrame([(u,) for u in seeds], "url string")))

    simout = sim.simulate(
        seeds, adj, _sim_robots_allow(hosts),
        sim.SimSpec(default_budget=2, budgets=dict(budgets_rows),
                    max_depth=6, max_rounds=9,
                    holdon_failures=2, holdon_rounds=2,
                    signals=uv, host_ips=host_ips, ip_budgets=ip_budgets,
                    recrawl_ttl_rounds=4),
    )
    assert rounds == simout["rounds"]
    assert run.seen_urls() == simout["crawled"]
    # the composition must actually exercise the features:
    flat = [u for r in rounds for u in r]
    assert any(flat.count(home[h]) >= 2 for h in hosts)  # vip/ttl refresh
    per_round_shared_ip = [
        sum(u.startswith(("http://h0.", "http://h1.")) for u in r)
        for r in rounds
    ]
    assert max(per_round_shared_ip) <= 4  # ip cap binds (host budgets sum 5)


def test_linkbase_compaction_preserves_crawl(spark, tmp_path_factory):
    """U4 (mr_combine_batch_delta_reducer.cc:33-100): compacting committed
    linkbase deltas mid-crawl (latest-round-wins, partitioned by latest
    round) must not change the crawl — the resumed run's ordering and
    final seen set equal the uninterrupted simulator twin, including the
    TTL expiry path whose partition pruning reads the compacted layout."""
    s = "http://rc.example.com/p/0"
    p1, p2, p3 = (f"http://rc.example.com/p/{i}" for i in (1, 2, 3))
    adj = {s: [p1], p1: [p2], p2: [p3], p3: [p1]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["rc.example.com"])

    def spec(max_rounds):
        return RoundSpec(
            n_buckets=4, max_depth=8, max_rounds=max_rounds,
            politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
            recrawl_ttl_rounds=3,
        )

    ck = str(tmp_path_factory.mktemp("ck_compact"))
    seeds_df = spark.createDataFrame([(s,)], "url string")
    run1 = WitnessRun(spark, docs, robots, ck, spec(5))
    res1 = run1.run(seeds_df)

    met = run1.compact_linkbase()
    assert met["compacted_through"] == run1.last_committed_round() - 1
    # the ring refetches p1 → superseded rows must be gone (1 row/url)
    assert met["rows_after"] < met["rows_before"]
    lb = run1._linkbase(met["compacted_through"])
    assert lb.count() == lb.select("url").distinct().count()
    # time travel below the floor fails fast
    with pytest.raises(ValueError, match="compacted"):
        run1._linkbase(met["compacted_through"] - 1)

    # compaction refreshed the affected snapshots' linkbase lineage: the
    # recorded files match what is on disk NOW (not the retired deltas),
    # and the divergence from the historical metrics is flagged
    import os as _os

    c = met["compacted_through"]
    for m in run1.lineage():
        r = m["round"] - 1  # manifest r+1 records delta r
        if m.get("seeded"):
            assert "linkbase_delta" not in m.get("files", {})
            continue
        if r <= c:
            assert m["linkbase_compacted_through"] == c
            d = _os.path.join(ck, "linkbase", f"round={r}")
            want = (sorted(fn for fn in _os.listdir(d)
                           if fn.endswith(".parquet"))
                    if _os.path.isdir(d) else [])
            assert [x["file"] for x in m["files"]["linkbase_delta"]] == want

    run2 = WitnessRun(spark, docs, robots, ck, spec(7))
    rounds = batches(res1 + run2.run(seeds_df, resume=True))

    simout = sim.simulate(
        [s], adj, _sim_robots_allow(["rc.example.com"]),
        sim.SimSpec(default_budget=1, max_depth=8, max_rounds=7,
                    recrawl_ttl_rounds=3),
    )
    assert rounds == simout["rounds"]
    assert run2.seen_urls() == simout["crawled"]


def test_linkbase_compaction_dead_link_purge(spark, tmp_path_factory):
    """The reducer's dead-link rule (update_fail_cnt >= max,
    mr_combine_batch_delta_reducer.cc:74-99): a url whose trailing
    fetches all failed leaves the page base; healthy urls keep exactly
    their latest record."""
    s = "http://dx.example.com/"
    ok1, miss = "http://dx.example.com/a", "http://dx.example.com/missing"
    adj = {s: [ok1, miss], ok1: []}  # miss has no doc → fetch fails
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["dx.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=4,
        politeness=PolitenessSpec(qps=1.0, round_seconds=5.0),
    )
    ck = str(tmp_path_factory.mktemp("ck_dead"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.run(spark.createDataFrame([(s,)], "url string"))

    met = run.compact_linkbase(max_fail=1)
    assert met["dead_links"] == 1
    left = {
        r["url"]: r for r in
        run._linkbase(met["compacted_through"]).collect()
    }
    assert miss not in left
    assert set(left) == {s, ok1}
    assert all(r["success"] for r in left.values())


def test_auto_compaction_every_n_rounds(spark, tmp_path_factory):
    """RoundSpec.compact_every folds deltas mid-run without changing the
    crawl: the TTL ring with compaction every 2 rounds still matches the
    simulator, and the delta-partition count stays bounded."""
    import os

    s = "http://ra.example.com/p/0"
    p1, p2, p3 = (f"http://ra.example.com/p/{i}" for i in (1, 2, 3))
    adj = {s: [p1], p1: [p2], p2: [p3], p3: [p1]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["ra.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=8, max_rounds=7,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
        recrawl_ttl_rounds=3, compact_every=2,
    )
    ck = str(tmp_path_factory.mktemp("ck_autocompact"))
    run, rounds = _run_engine(spark, docs, robots, ck, rspec, [s])

    simout = sim.simulate(
        [s], adj, _sim_robots_allow(["ra.example.com"]),
        sim.SimSpec(default_budget=1, max_depth=8, max_rounds=7,
                    recrawl_ttl_rounds=3),
    )
    assert rounds == simout["rounds"]
    assert run.seen_urls() == simout["crawled"]
    n_deltas = sum(
        d.startswith("round=")
        for d in os.listdir(os.path.join(ck, "linkbase"))
    )
    # 7 rounds + seed would leave 8 deltas uncompacted; folding keeps the
    # live count at (uncompacted tail) + (compacted latest-round dirs)
    assert n_deltas < 8


def test_compaction_swap_crash_recovery(spark, tmp_path_factory, monkeypatch):
    """The swap's commit point is _swap_pending.json (written only after
    the staged rewrite is complete): a crash after the old delta dirs are
    deleted but before the staged partitions are renamed in must lose no
    data — the next linkbase read completes the swap."""
    import os

    s = "http://cw.example.com/p/0"
    p1, p2 = (f"http://cw.example.com/p/{i}" for i in (1, 2))
    adj = {s: [p1], p1: [p2], p2: [s]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["cw.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=8, max_rounds=4,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
        recrawl_ttl_rounds=3,
    )
    ck = str(tmp_path_factory.mktemp("ck_crash"))
    run, _ = _run_engine(spark, docs, robots, ck, rspec, [s])
    baseline = run.seen_urls()
    assert baseline  # non-trivial crawl

    import spider_spark.round as round_mod

    def injected_crash(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(round_mod.os, "rename", injected_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run.compact_linkbase()
    monkeypatch.undo()

    lb_root = os.path.join(ck, "linkbase")
    # mid-swap state on disk: commit marker present, old dirs gone,
    # staged partitions not yet moved in
    assert os.path.exists(os.path.join(lb_root, "_swap_pending.json"))
    assert os.path.isdir(os.path.join(lb_root, "_compact_staging"))
    # any read path recovers the swap and serves the full linkbase
    assert run.seen_urls() == baseline
    assert not os.path.exists(os.path.join(lb_root, "_swap_pending.json"))
    assert not os.path.isdir(os.path.join(lb_root, "_compact_staging"))
    assert run._compaction_floor() >= 0


def test_seen_urls_empty_before_any_commit(spark, tmp_path_factory):
    """A crash during bootstrap (state written, manifest 0 never) leaves
    nothing committed: seen_urls() degrades to empty, not a TypeError."""
    adj = {"http://e.example.com/p/0": []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["e.example.com"])
    ck = str(tmp_path_factory.mktemp("ck_empty"))
    run = CrawlRun(spark, docs, robots, ck, RoundSpec(n_buckets=4))
    assert run.seen_urls() == []


def test_duplicate_signal_rows_do_not_duplicate_admission(
        spark, tmp_path_factory):
    """A signals table with duplicate urls (appended log-analysis outputs)
    must not multiply frontier rows: the crawl equals the unique-signals
    run and no round admits a url twice."""
    seed = "http://c.example.com/p/0"
    pages = [f"http://b.example.com/p/{i}" for i in range(1, 5)]
    adj = {seed: pages}
    hosts = ["b.example.com", "c.example.com"]
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, hosts)
    rspec = RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=8,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
    )
    uniq = spark.createDataFrame(
        [(pages[2], 50.0), (pages[1], 20.0)], "url string, uv double")
    dup = spark.createDataFrame(
        [(pages[2], 50.0), (pages[2], 50.0), (pages[2], 10.0),
         (pages[1], 20.0), (pages[1], 20.0)], "url string, uv double")
    _, r_uniq = _run_engine(
        spark, docs, robots, str(tmp_path_factory.mktemp("ck_su")),
        rspec, [seed], signals=uniq)
    _, r_dup = _run_engine(
        spark, docs, robots, str(tmp_path_factory.mktemp("ck_sd")),
        rspec, [seed], signals=dup)
    assert r_dup == r_uniq
    for batch in r_dup:
        assert len(batch) == len(set(batch))


def test_holdon_releases_blocked_host(spark, tmp_path_factory):
    """A host that enters holdon with carryover URLs must be released
    after holdon_rounds, not starved forever: the state update may only
    (re)stamp holdon when the round ADDED failures — a blocked host has
    no fetch rows, so an unconditional stamp would extend the holdon
    every round it sits blocked (engine-vs-simulator divergence)."""
    seed = "http://a.example.com/p/0"
    b1, b2, b3 = (f"http://b.example.com/p/{i}" for i in (1, 2, 3))
    adj = {seed: [b1, b2, b3], b3: []}  # b1/b2 missing → fetch fails
    hosts = ["a.example.com", "b.example.com"]
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, hosts)
    rspec = RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=10,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0,
                                  holdon_failures=2, holdon_rounds=2),
    )
    ck = str(tmp_path_factory.mktemp("ck_holdon"))
    run, rounds = _run_engine(spark, docs, robots, ck, rspec, [seed])
    simout = sim.simulate(
        [seed], adj, _sim_robots_allow(hosts),
        sim.SimSpec(default_budget=1, max_depth=3, max_rounds=10,
                    holdon_failures=2, holdon_rounds=2),
    )
    assert rounds == simout["rounds"]
    # the host exits holdon and the real page IS eventually crawled
    assert any(b3 in batch for batch in rounds)


@pytest.mark.parametrize("fail_after", [1, 2, 3])
def test_compaction_swap_crash_mid_rename(spark, tmp_path_factory,
                                          monkeypatch, fail_after):
    """Crash after SOME renames of the swap already happened: recovery
    must distinguish moved-in compacted partitions from not-yet-retired
    old dirs (staged_rounds in the marker) — a naive 'delete all targets'
    recovery would destroy freshly-moved data."""
    import os

    s = "http://cm.example.com/p/0"
    p1, p2 = (f"http://cm.example.com/p/{i}" for i in (1, 2))
    adj = {s: [p1], p1: [p2], p2: [s]}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["cm.example.com"])
    rspec = RoundSpec(
        n_buckets=4, max_depth=8, max_rounds=4,
        politeness=PolitenessSpec(qps=1.0, round_seconds=1.0),
        recrawl_ttl_rounds=3,
    )
    ck = str(tmp_path_factory.mktemp(f"ck_midrn{fail_after}"))
    run, _ = _run_engine(spark, docs, robots, ck, rspec, [s])
    baseline = run.seen_urls()
    baseline_rows = run._linkbase(run.last_committed_round() - 1).count()

    import spider_spark.round as round_mod
    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        calls["n"] += 1
        if calls["n"] > fail_after:
            raise RuntimeError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(round_mod.os, "rename", flaky_rename)
    try:
        run.compact_linkbase()
        crashed = False
    except RuntimeError:
        crashed = True
    monkeypatch.undo()
    # whether or not this fail_after was reached, the linkbase must be
    # complete afterwards (recovery path or clean completion)
    assert run.seen_urls() == baseline
    floor = run._compaction_floor()
    lb = run._linkbase(run.last_committed_round() - 1)
    assert lb.count() == lb.select("url").distinct().count()
    assert set(r["url"] for r in lb.select("url").collect()) == set(baseline)
    if crashed:
        assert floor >= 0  # recovery finalized the compaction
    assert baseline_rows >= lb.count()


def test_frontier_host_cap_lockstep_and_bounded(spark, world,
                                                tmp_path_factory):
    """Per-host frontier cap (reducer_compress_control.cc:128-169): with a
    small cap the engine and the simulator stay in lockstep (rounds + seen
    set), every written frontier holds ≤ cap rows per host, and the crawl
    still terminates. This cap is also what bounds the fused kernel's
    per-host Arrow-group contribution."""
    import os

    docs, robots, adj, rob = world
    cap = 3
    ck = str(tmp_path_factory.mktemp("ck_cap"))
    spec = RoundSpec(n_buckets=8, max_depth=3, max_rounds=10,
                     politeness=PSPEC, frontier_host_cap=cap)
    run = WitnessRun(spark, docs, robots, ck, spec)
    rounds = batches(run.run(
        spark.createDataFrame([(u,) for u in SEEDS], "url string")))
    want = sim.simulate(
        SEEDS, adj, rob,
        sim.SimSpec(default_budget=PSPEC.default_budget,
                    max_depth=spec.max_depth, max_rounds=spec.max_rounds,
                    frontier_host_cap=cap),
    )
    assert rounds == want["rounds"]
    assert run.seen_urls() == want["seen"]
    # every committed frontier respects the per-host bound
    for d in sorted(os.listdir(ck)):
        fdir = os.path.join(ck, d, "frontier")
        if not (d.startswith("round=") and os.path.isdir(fdir)):
            continue
        per_host = (
            spark.read.parquet(fdir).groupBy("host").count().collect()
        )
        assert all(r["count"] <= cap for r in per_host), (d, per_host)


def test_frontier_host_cap_binds_on_skew(spark, world, sim_result,
                                         tmp_path_factory):
    """Sanity: with the default (huge) cap the crawl equals the uncapped
    simulator — the cap is a no-op until a host actually exceeds it — and
    the capped run above genuinely dropped rows (the cap binds on the skew
    hosts of this web)."""
    _, _, adj, rob = world
    capped = sim.simulate(
        SEEDS, adj, rob,
        sim.SimSpec(default_budget=PSPEC.default_budget,
                    max_depth=RSPEC.max_depth, max_rounds=RSPEC.max_rounds,
                    frontier_host_cap=1),
    )
    assert capped["rounds"] != sim_result["rounds"], \
        "cap=1 should reshape the crawl ordering on this web"


def test_updater_loop_closure_e2e(spark, tmp_path_factory):
    """§3.1 step-11 loop closure: crawl → U5 updater candidates computed
    from the round's OWN linkbase (header dates + last_fetch_ts now ride
    every record) → enqueue(from='M') → resumed run re-fetches the stale
    pages ('M' bypasses the seen-drop, mr_selector_r1_reducer.cc:64-86)."""
    from spider_spark import selector as sel
    from spider_spark.round import _EPOCH_2020

    s = "http://up.example.com/p/0"
    a, b = "http://up.example.com/p/1", "http://up.example.com/p/2"
    adj = {s: [a, b], a: [], b: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["up.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=8,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_upd"))
    run = WitnessRun(spark, docs, robots, ck, rspec)
    seeds_df = spark.createDataFrame([(s,)], "url string")
    run.run(seeds_df)
    committed = run.last_committed_round()
    lb = run._linkbase(committed - 1)
    # every crawled page is ≥ 1 day stale 30 logical days later
    tasks = sel.updater_candidates(
        lb, now_ts=_EPOCH_2020 + 30 * 86_400, max_age_s=86_400
    )
    got = {r["url"] for r in tasks.collect()}
    assert got == {s, a, b}
    assert all(r["from"] == "M" for r in tasks.collect())
    n = run.enqueue(tasks.select("url"))
    assert n == 3
    res2 = run.run(seeds_df, resume=True)
    # the resumed round re-admits the seen pages
    assert set(res2[0]["batch"]) == {s, a, b}
    # the linkbase now holds a NEWER record per url; compaction keeps it
    met = run.compact_linkbase()
    left = {r["url"]: r for r in run._linkbase(
        met["compacted_through"]).collect()}
    assert set(left) == {s, a, b}
    assert all(r["round"] == committed for r in left.values())
    assert all(r["response_code"] == 200 for r in left.values())


def test_linkbase_dr_command_records(spark, tmp_path_factory):
    """D/R command semantics (mr_link_merge_reducer.cc:85-99): commands at
    least as new as the stored record apply — D deletes, each R increments
    update_fail_cnt with death at max_update_failed (=3); strictly-older
    commands are ignored."""
    s = "http://cm.example.com/p/0"
    a, b, c = (f"http://cm.example.com/p/{i}" for i in (1, 2, 3))
    adj = {s: [a, b, c], a: [], b: [], c: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["cm.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=6,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_cmd"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.run(spark.createDataFrame([(s,)], "url string"))
    # s fetched round 0; a, b, c fetched round 1
    commands = spark.createDataFrame(
        [
            (a, "D", 5),           # newer D → deleted
            (b, "R", 0),           # strictly older than b's record → ignored
            (s, "R", 5), (s, "R", 6),   # two R's → fail cnt 2, survives
            (c, "R", 5), (c, "R", 6), (c, "R", 7),  # cnt 3 ≥ max → dead
        ],
        "url string, cmd string, round int",
    )
    met = run.compact_linkbase(commands=commands)
    assert met["cmd_deleted"] == 2
    left = {r["url"]: r for r in run._linkbase(
        met["compacted_through"]).collect()}
    assert set(left) == {s, b}
    assert left[s]["update_fail_cnt"] == 2
    assert left[b]["update_fail_cnt"] == 0


def test_simhash_assign_over_round_linkbase(spark, tmp_path_factory):
    """D3 closure: assign_simhash runs over the round's own linkbase (no
    synthetic side table) — fetched pages get a real signature, failed
    fetches keep the mapper's error value 0."""
    from pyspark.sql import functions as FF

    from spider_spark import simhash as sh

    s = "http://sx.example.com/p/0"
    a, miss = "http://sx.example.com/p/1", "http://sx.example.com/p/404"
    adj = {s: [a, miss], a: [s]}  # a links back so its page has text
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["sx.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=6,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_sx"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.run(spark.createDataFrame([(s,)], "url string"))
    lb = run._linkbase(run.last_committed_round() - 1)
    texts = docs.select(
        "doc_id",
        FF.concat_ws(
            " ", FF.transform("spans", lambda sp: FF.coalesce(sp["text"],
                                                              FF.lit("")))
        ).alias("text"),
    )
    out = sh.assign_simhash(lb, texts, n_shards=8)
    sig = {r["url"]: r["simhash"] for r in out.collect()}
    assert sig[s] != 0 and sig[a] != 0
    assert sig[miss] == 0


def test_extract_rules_twin_e2e(spark, tmp_path_factory):
    """Per-referer extract whitelist wired through the round: the engine
    and the simulator agree when a rule confines one host's outlinks."""
    s = "http://w1.example.com/p/0"
    own, foreign = "http://w1.example.com/p/1", "http://w2.example.com/p/2"
    adj = {s: [own, foreign], own: [], foreign: []}
    rules = [("w1.example.com", "*", r"http://w1\.example\.com/.*")]
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["w1.example.com", "w2.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=6,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_xr"))
    run = WitnessRun(spark, docs, robots, ck, rspec, extract_rules=rules)
    rounds = batches(run.run(spark.createDataFrame([(s,)], "url string")))
    want = sim.simulate(
        [s], adj, _sim_robots_allow(["w1.example.com", "w2.example.com"]),
        sim.SimSpec(default_budget=5, max_depth=3, max_rounds=6,
                    extract_rules=rules),
    )
    assert rounds == want["rounds"]
    assert foreign not in set(run.seen_urls())
    assert own in set(run.seen_urls())


def test_budget_time_windows_twin_e2e(spark, tmp_path_factory):
    """Time-of-day budget windows (host_load_control.txt HH:MM-HH:MM,
    load_controller.cc:46-92): the host's budget flips between rounds as
    the logical clock crosses window bounds; engine and simulator agree."""
    host = "tw.example.com"
    s = f"http://{host}/p/0"
    pages = [f"http://{host}/p/{i}" for i in range(1, 9)]
    adj = {s: pages, **{p: [] for p in pages}}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, [host])
    # round_seconds=60 → minute-of-day == round number
    pspec = PolitenessSpec(qps=0.1, round_seconds=60.0)  # default budget 6
    windows = [(host, 0, 1, 1), (host, 2, 10, 3)]
    budgets = spark.createDataFrame(
        windows, "host string, begin_min int, end_min int, budget int"
    )
    rspec = RoundSpec(n_buckets=4, max_depth=2, max_rounds=8,
                      politeness=pspec)
    ck = str(tmp_path_factory.mktemp("ck_tw"))
    run = WitnessRun(spark, docs, robots, ck, rspec, budgets=budgets)
    rounds = batches(run.run(spark.createDataFrame([(s,)], "url string")))
    want = sim.simulate(
        [s], adj, _sim_robots_allow([host]),
        sim.SimSpec(default_budget=pspec.default_budget,
                    max_depth=2, max_rounds=8,
                    budget_windows=[(h, lo, hi, b) for h, lo, hi, b in windows],
                    round_seconds=60.0),
    )
    assert rounds == want["rounds"]
    # the flip is visible: 1 admit in rounds 0-1, 3 per round after
    assert [len(b) for b in rounds] == [1, 1, 3, 3, 1]
    assert run.seen_urls() == want["seen"]


def test_legacy_linkbase_schema_and_null_failcnt(spark, tmp_path_factory):
    """A checkpoint holding pre-widening 4-column linkbase deltas beside
    new 8-column ones must read under the bound schema (old rows NULL in
    the new columns, new rows keep theirs), and the D/R merge must treat
    a NULL update_fail_cnt as 0 — not silently vanish the row."""
    import os

    s = "http://lg.example.com/p/0"
    a = "http://lg.example.com/p/1"
    adj = {s: [a], a: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["lg.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=2, max_rounds=4,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_legacy"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.run(spark.createDataFrame([(s,)], "url string"))
    # retrofit a LEGACY delta: rewrite round=0 with only the old 4 columns
    d0 = os.path.join(ck, "linkbase", "round=0")
    legacy = spark.read.parquet(d0).select(
        "url", "host", "depth", "success").cache()
    legacy.count()
    legacy.write.mode("overwrite").parquet(d0)
    lb = run._linkbase(run.last_committed_round() - 1)
    assert set(lb.columns) >= {"url", "response_code", "http_header",
                               "last_fetch_ts", "update_fail_cnt"}
    rows = {r["url"]: r for r in lb.collect()}
    assert rows[s]["update_fail_cnt"] is None      # legacy row → NULL
    assert rows[a]["update_fail_cnt"] == 0         # new row keeps value
    # two R commands against the legacy row: NULL must count as 0 →
    # fail cnt 2 < 3, the row SURVIVES (and is not silently dropped)
    cmds = spark.createDataFrame(
        [(s, "R", 9), (s, "R", 10)], "url string, cmd string, round int"
    )
    met = run.compact_linkbase(commands=cmds)
    left = {r["url"]: r for r in run._linkbase(
        met["compacted_through"]).collect()}
    assert met["cmd_deleted"] == 0
    assert s in left and left[s]["update_fail_cnt"] == 2


def test_bootstrap_respects_frontier_host_cap(spark, tmp_path_factory):
    """Round 0's frontier must honor the per-host cap too — otherwise a
    host-concentrated seed list hands the fused kernel an uncapped Arrow
    group on the first round."""
    host = "bc.example.com"
    pages = [f"http://{host}/p/{i}" for i in range(10)]
    adj = {p: [] for p in pages}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, [host])
    rspec = RoundSpec(n_buckets=4, max_depth=2, max_rounds=3,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=2.0),
                      frontier_host_cap=4)
    ck = str(tmp_path_factory.mktemp("ck_bcap"))
    run = WitnessRun(spark, docs, robots, ck, rspec)
    res = run.run(spark.createDataFrame([(p,) for p in pages], "url string"))
    import os
    f0 = spark.read.parquet(os.path.join(ck, "round=0000", "frontier"))
    assert f0.count() == 4
    # simulator twin (cap applies to the seed frontier there too)
    want = sim.simulate(
        pages, adj, _sim_robots_allow([host]),
        sim.SimSpec(default_budget=2, max_depth=2, max_rounds=3,
                    frontier_host_cap=4),
    )
    assert batches(res) == want["rounds"]


def test_enqueue_crash_recovery(spark, tmp_path_factory):
    """enqueue stages + marks + swaps: a crash before the marker leaves
    the old frontier intact (staging is garbage); a crash after the
    marker is completed idempotently on the next resume/enqueue."""
    import json
    import os
    import shutil

    s = "http://eq.example.com/p/0"
    a = "http://eq.example.com/p/1"
    adj = {s: [a], a: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["eq.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=2, max_rounds=4,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_eq"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    seeds_df = spark.createDataFrame([(s,)], "url string")
    run.run(seeds_df)
    r = run.last_committed_round()
    rdir = os.path.join(ck, f"round={r:04d}")
    before = {x["url"] for x in run._read(r, "frontier").collect()}

    # crash BEFORE the marker: stage a bogus frontier, no marker
    bogus = spark.createDataFrame(
        [("http://eq.example.com/bogus", "eq.example.com", 0, None, True)],
        "url string, host string, depth int, referer string, vip boolean",
    )
    bogus.write.mode("overwrite").parquet(
        os.path.join(rdir, "_frontier_staged"))
    run._recover_enqueue()
    assert not os.path.isdir(os.path.join(rdir, "_frontier_staged"))
    assert {x["url"] for x in run._read(r, "frontier").collect()} == before

    # crash AFTER the marker (staged complete, swap not executed): the
    # staged frontier is authoritative on recovery
    bogus.write.mode("overwrite").parquet(
        os.path.join(rdir, "_frontier_staged"))
    with open(os.path.join(rdir, "_enqueue_pending.json"), "w") as f:
        json.dump({"round": r}, f)
    run._recover_enqueue()
    got = {x["url"] for x in run._read(r, "frontier").collect()}
    assert got == {"http://eq.example.com/bogus"}
    assert not os.path.exists(os.path.join(rdir, "_enqueue_pending.json"))
    assert not os.path.isdir(os.path.join(rdir, "_frontier_trash"))


def test_enqueue_preserves_existing_depth(spark, tmp_path_factory):
    """ADVICE r3: enqueuing a url already pending must NOT reset its depth
    to the enqueue default — depth orders admission and bounds the
    max_depth budget of its future outlinks."""
    s = "http://dq.example.com/p/0"
    a = "http://dq.example.com/p/1"
    adj = {s: [a], a: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["dq.example.com"])
    ck = str(tmp_path_factory.mktemp("ck_dq"))
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=10,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=1.0))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.bootstrap(spark.createDataFrame([(s,)], "url string"))
    run.run_round(0)  # admits s; frontier 1 holds a at depth 1
    before = {r["url"]: r["depth"]
              for r in run._read(1, "frontier").collect()}
    assert before[a] == 1
    run.enqueue(spark.createDataFrame([(a,)], "url string"),
                from_code="M", depth=0)
    after = {r["url"]: (r["depth"], r["vip"])
             for r in run._read(1, "frontier").collect()}
    assert after[a][0] == 1          # existing depth kept, NOT reset to 0
    assert after[a][1] is True       # 'M' still grants the seen-bypass
    # a genuinely NEW url takes the enqueued depth
    b = "http://dq.example.com/p/9"
    run.enqueue(spark.createDataFrame([(b,)], "url string"),
                from_code="M", depth=2)
    got = {r["url"]: r["depth"] for r in run._read(1, "frontier").collect()}
    assert got[b] == 2


def test_budget_window_validation_raises(spark, tmp_path_factory):
    """ADVICE r3: a midnight-wrapping or NULL-bounded window CHECK-fails
    at load time (load_controller.cc SetIpLoadRecords role) instead of
    silently never matching."""
    from spider_spark import politeness as pol

    bad = spark.createDataFrame(
        [("h.example.com", 1380, 120, 5)],   # 23:00-02:00 wraps midnight
        "host string, begin_min int, end_min int, budget int",
    )
    with pytest.raises(ValueError, match="invalid budget windows"):
        pol.validate_budget_windows(bad)
    docs = _mk_docs(spark, {"http://h.example.com/p/0": []})
    robots = _allow_all_robots(spark, ["h.example.com"])
    with pytest.raises(ValueError, match="invalid budget windows"):
        CrawlRun(spark, docs, robots,
                 str(tmp_path_factory.mktemp("ck_bw")),
                 RoundSpec(n_buckets=4), budgets=bad)
    nullb = spark.createDataFrame(
        [("h.example.com", None, 120, 5)],
        "host string, begin_min int, end_min int, budget int",
    )
    with pytest.raises(ValueError, match="invalid budget windows"):
        pol.validate_budget_windows(nullb)
    ok = spark.createDataFrame(
        [("h.example.com", 120, 1380, 5)],
        "host string, begin_min int, end_min int, budget int",
    )
    pol.validate_budget_windows(ok)  # no raise


def test_hub_candidates_differential(spark, tmp_path_factory):
    """A8 over the round's OWN crawl output: hub set == python count of
    distinct outlinks over the crawled subset of the adjacency."""
    h = "http://hub.example.com"
    adj = {
        f"{h}/index": [f"{h}/p/1", f"{h}/p/2", f"{h}/p/3"],
        f"{h}/p/1": [f"{h}/p/2", f"{h}/p/2"],   # 1 distinct (dupes)
        f"{h}/p/2": [],
        f"{h}/p/3": [f"{h}/p/1", f"{h}/p/2", f"{h}/p/3", f"{h}/p/4"],
        f"{h}/p/4": [],
    }
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["hub.example.com"])
    ck = str(tmp_path_factory.mktemp("ck_hub"))
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=10,
                      politeness=PolitenessSpec(qps=2.0, round_seconds=5.0))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.run(spark.createDataFrame([(f"{h}/index",)], "url string"))
    crawled = set(run.seen_urls())
    exp = {
        u: len(set(links)) for u, links in adj.items()
        if u in crawled and len(set(links)) >= 3
    }
    got = {r["url"]: r["n_outlinks"]
           for r in run.hub_candidates(min_outlinks=3).collect()}
    assert got == exp == {f"{h}/index": 3, f"{h}/p/3": 4}
    assert run.hub_candidates(min_outlinks=5).count() == 0


def test_hub_dig_feeds_frontier_and_readmits_after_ttl(spark,
                                                       tmp_path_factory):
    """VERDICT r3 §6 E2E: hubs (from='N', non-VIP) re-enter the frontier
    via enqueue and re-admit once their recrawl TTL expires — the §3.1
    step-11 hub-dig loop closure."""
    h = "http://hubt.example.com"
    hub = f"{h}/index"          # NOT a homepage: 'N' must stay non-VIP
    adj = {hub: [f"{h}/p/1", f"{h}/p/2", f"{h}/p/3"],
           f"{h}/p/1": [], f"{h}/p/2": [], f"{h}/p/3": []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["hubt.example.com"])
    ck = str(tmp_path_factory.mktemp("ck_hubt"))
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=3,
                      politeness=PolitenessSpec(qps=2.0, round_seconds=5.0),
                      recrawl_ttl_rounds=3)
    run = WitnessRun(spark, docs, robots, ck, rspec)
    seeds = spark.createDataFrame([(hub,)], "url string")
    res1 = run.run(seeds)
    assert res1[0]["batch"] == [hub]
    last = run.last_committed_round()
    hubs = run.hub_candidates(min_outlinks=3)
    assert [r["url"] for r in hubs.collect()] == [hub]
    n = run.enqueue(hubs.select("url"), from_code="N")
    assert n >= 1
    fr = {r["url"]: r["vip"]
          for r in run._read(last, "frontier").collect()}
    assert fr[hub] is False     # 'N' rides the frontier without VIP bypass
    # resume: the hub's seen-sign (crawled round 0) has TTL-expired by the
    # resumed round, so it re-admits — hub dig closes the loop
    run2 = WitnessRun(spark, docs, robots, ck, RoundSpec(
        n_buckets=4, max_depth=3, max_rounds=last + 2,
        politeness=PolitenessSpec(qps=2.0, round_seconds=5.0),
        recrawl_ttl_rounds=3))
    res2 = run2.run(seeds, resume=True)
    assert res2[0]["batch"] == [hub]


def test_salted_host_cap_equals_unsalted(spark, tmp_path_factory):
    """The host cap's two-level salted windows (skew guard) keep exactly
    the rows of the single-window cut — differential over a mega-host,
    salt_buckets 16 vs 1."""
    rows = [
        (f"http://mega.com/{i:04d}", "mega.com", i % 3, None, i % 7 == 0)
        for i in range(500)
    ] + [(f"http://tiny.com/{i}", "tiny.com", 0, None, False)
         for i in range(3)]
    frontier = spark.createDataFrame(
        rows, "url string, host string, depth int, referer string, "
              "vip boolean")
    docs = _mk_docs(spark, {"http://tiny.com/0": []})
    robots = _allow_all_robots(spark, ["tiny.com"])
    kept = []
    for n_salt in (16, 1):
        run = CrawlRun(
            spark, docs, robots, str(tmp_path_factory.mktemp("ck_salt")),
            RoundSpec(n_buckets=4,
                      politeness=PolitenessSpec(salt_buckets=n_salt)))
        kept.append({r["url"] for r in
                     run._cap_frontier(frontier, 10).collect()})
    assert kept[0] == kept[1]
    assert len(kept[0]) == 10 + 3  # cap 10 for mega + all 3 tiny
    # order (vip desc, depth asc, url asc): 24 depth-0 VIPs outrank the
    # rest, so the mega-host keeps the first 10 of them by url
    assert {u for u in kept[0] if u.startswith("http://mega.")} == set(
        sorted(u for u, _, d, _, v in rows if v and d == 0)[:10])


def test_fused_bucket_group_bound_under_skew(spark, tmp_path_factory):
    """RoundSpec.n_buckets contract: with the per-host cap, a bucket's
    fused Arrow group holds at most Σ_host∈bucket min(host_rows, cap)
    rows — a mega-host cannot push a group past hosts_in_bucket × cap."""
    from spider_spark import urlkit

    cap = 20
    mega = [(f"http://mega.example.com/p/{i}",) for i in range(300)]
    small = [(f"http://s{j}.example.com/p/{i}",)
             for j in range(5) for i in range(3)]
    docs = _mk_docs(spark, {u: [] for (u,) in mega + small})
    robots = _allow_all_robots(
        spark, ["mega.example.com"] + [f"s{j}.example.com"
                                       for j in range(5)])
    rspec = RoundSpec(n_buckets=4, max_rounds=2, frontier_host_cap=cap,
                      politeness=PSPEC)
    ck = str(tmp_path_factory.mktemp("ck_skew"))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.bootstrap(spark.createDataFrame(mega + small, "url string"))
    fr = run._read(0, "frontier")
    per_host = {r["host"]: r["count"]
                for r in fr.groupBy("host").count().collect()}
    assert all(c <= cap for c in per_host.values()), per_host
    bucketed = fr.withColumn(
        "bucket", urlkit.host_bucket(F.col("host"), rspec.n_buckets)
    )
    rows = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.countDistinct("host").alias("hosts"),
    ).collect()
    assert all(r["n"] <= r["hosts"] * cap for r in rows), rows


@pytest.mark.parametrize("strict", [False, True])
def test_rule_book_strict_twin_e2e(spark, tmp_path_factory, strict):
    """RoundSpec.rule_book_strict swaps in the selector's strict rule
    tables (crawler_selector_util.cc:42-51): a search-result outlink
    (?q= query) is crawled in normal mode but filtered in strict mode —
    engine and simulator in lockstep either way."""
    s = "http://a.example.com/p/0"
    plain = "http://a.example.com/p/1"
    searchy = "http://a.example.com/find?q=spark"
    # regression: ?wd= is STRICT-only in the faithful tables — the legacy
    # approximate url_rule_filter used to also gate the round and dropped
    # it even in normal mode (review r4: double gate, stricter than the
    # reference selector)
    wd = "http://a.example.com/t?wd=hello"
    adj = {s: [plain, searchy, wd], plain: [], searchy: [], wd: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["a.example.com"])
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=6,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0),
                      rule_book_strict=strict)
    ck = str(tmp_path_factory.mktemp(f"ck_strict_{strict}"))
    run, rounds = _run_engine(spark, docs, robots, ck, rspec, [s])
    want = sim.simulate(
        [s], adj, _sim_robots_allow(["a.example.com"]),
        sim.SimSpec(default_budget=5, max_depth=3, max_rounds=6,
                    rule_book_strict=strict),
    )
    assert rounds == want["rounds"]
    seen = set(run.seen_urls())
    assert plain in seen
    assert (searchy in seen) == (not strict)
    assert (wd in seen) == (not strict)


def test_black_hole_gate_twin_e2e(spark, tmp_path_factory):
    """Black-hole outlink gate (resource_saver.cc:239) wired through the
    round: a query-bearing page on edu.360.cn must not enqueue its own
    same-host query permutations, but its query-less links and the
    trap host's own entry page still crawl — engine and simulator in
    lockstep."""
    entry = "http://edu.360.cn/p/0"           # query-less entry: fine
    faceted = "http://edu.360.cn/edu?city=a"  # query page (from clean ref)
    trap = "http://edu.360.cn/edu?city=b"     # query→query: black hole
    clean = "http://edu.360.cn/about"         # query→no-query: fine
    adj = {entry: [faceted], faceted: [trap, clean], trap: [], clean: []}
    docs = _mk_docs(spark, adj)
    robots = _allow_all_robots(spark, ["edu.360.cn"])
    rspec = RoundSpec(n_buckets=4, max_depth=4, max_rounds=8,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=5.0))
    ck = str(tmp_path_factory.mktemp("ck_bh"))
    run, rounds = _run_engine(spark, docs, robots, ck, rspec, [entry])
    want = sim.simulate(
        [entry], adj, _sim_robots_allow(["edu.360.cn"]),
        sim.SimSpec(default_budget=5, max_depth=4, max_rounds=8),
    )
    assert rounds == want["rounds"]
    seen = set(run.seen_urls())
    assert faceted in seen and clean in seen
    assert trap not in seen


def test_snapshot_lineage_per_file(spark_result):
    """Every commit manifest carries the Iceberg-manifest-shaped per-file
    lineage, and the per-file row counts sum EXACTLY to the round metrics
    the Observations recorded — the footer-derived lineage and the
    job-observed counts are independent paths to the same numbers."""
    run, _ = spark_result
    lin = run.lineage()
    assert lin[0]["round"] == 0 and lin[0].get("seeded") is True
    assert sum(
        f["rows"] for f in lin[0]["files"]["frontier"]
    ) == lin[0]["frontier"]
    assert len(lin) >= 3
    for m in lin[1:]:
        assert m["round"] == m["parent_round"] + 1
        files = m["files"]
        met = m["metrics"]
        assert sum(f["rows"] for f in files["frontier"]) == met[
            "frontier_next"]
        assert sum(f["rows"] for f in files["host_state"]) == met[
            "hosts_tracked"]
        assert sum(f["rows"] for f in files["linkbase_delta"]) == met[
            "linkbase_delta_rows"]
        # the sign-shard state always holds one row per bucket
        assert sum(f["rows"] for f in files["seen_state"]) == RSPEC.n_buckets
        for tbl in files.values():
            for f in tbl:
                assert f["bytes"] > 0 and f["rows"] >= 0
                assert f["file"].endswith(".parquet")


def test_state_asof_time_travel(spark_result):
    """state_asof(r, ...) reproduces each committed snapshot exactly (row
    counts match the manifest), the linkbase snapshot grows monotonically,
    and uncommitted rounds are unreadable."""
    import pytest as _pytest

    run, _ = spark_result
    lin = run.lineage()
    for m in lin:
        r = m["round"]
        want = m["frontier"] if m.get("seeded") else m["metrics"][
            "frontier_next"]
        assert run.state_asof(r, "frontier").count() == want
    lb_counts = [run.state_asof(m["round"], "linkbase").count()
                 for m in lin]
    assert all(a <= b for a, b in zip(lb_counts, lb_counts[1:]))
    assert lb_counts[0] == 0 and lb_counts[-1] > 0
    last = run.last_committed_round()
    with _pytest.raises(ValueError, match="no commit manifest"):
        run.state_asof(last + 99, "frontier")
    with _pytest.raises(ValueError, match="unknown state table"):
        run.state_asof(last, "nope")


def test_enqueue_refreshes_manifest_lineage(spark, tmp_path_factory):
    """enqueue() swaps a COMMITTED round's frontier — the snapshot
    manifest's per-file lineage must be refreshed to match the files now
    on disk (and the crash-recovery path must refresh too)."""
    import json as _json
    import os as _os

    s = "http://lq.example.com/p/0"
    a = "http://lq.example.com/p/1"
    docs = _mk_docs(spark, {s: [a], a: []})
    robots = _allow_all_robots(spark, ["lq.example.com"])
    ck = str(tmp_path_factory.mktemp("ck_lq"))
    rspec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=10,
                      politeness=PolitenessSpec(qps=1.0, round_seconds=1.0))
    run = CrawlRun(spark, docs, robots, ck, rspec)
    run.bootstrap(spark.createDataFrame([(s,)], "url string"))
    run.run_round(0)
    n = run.enqueue(
        spark.createDataFrame([("http://lq.example.com/p/9",)],
                              "url string"),
        from_code="M", depth=0)
    with open(_os.path.join(ck, "round=0001", "manifest.json")) as f:
        m = _json.load(f)
    assert m["enqueued"] is True
    assert sum(x["rows"] for x in m["files"]["frontier"]) == n
    assert m["metrics"]["frontier_next"] == n  # metrics refreshed too
    assert run.state_asof(1, "frontier").count() == n


def test_lineage_df_matches_manifests(spark_result):
    """lineage_df() (the Iceberg files-metadata-table role) agrees with
    the raw manifests: per-(round, table) row sums match, and a frontier
    rows-over-rounds query runs as plain DataFrame ops."""
    from pyspark.sql import functions as _F

    run, _ = spark_result
    ldf = run.lineage_df()
    got = {
        (r["round"], r["table"]): r["n"]
        for r in ldf.groupBy("round", "table")
        .agg(_F.sum("rows").alias("n")).collect()
    }
    for m in run.lineage():
        for table, files in m["files"].items():
            assert got[(m["round"], table)] == sum(f["rows"] for f in files)
    per_round = (
        ldf.filter(_F.col("table") == "frontier")
        .groupBy("round").agg(_F.sum("rows").alias("frontier_rows"))
        .orderBy("round").collect()
    )
    assert per_round[0]["round"] == 0 and len(per_round) == len(run.lineage())
