"""P7 rule book (rulebook.py): table-driven cases ported from the
reference's crawler_selector_test.cc (WillFilterAccordingRulesStrict),
plus a Spark-vs-python-twin differential over every ported url."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_spark import urlkit
from spider_spark.rulebook import (
    rule_book_keep,
    search_engine_of,
    will_filter_according_rules,
    will_filter_py,
)

# (url, filter_not_strict, filter_strict) — ported verbatim from
# crawler/crawler/selector/crawler_selector_test.cc:12-260 (representative
# subset across every rule family; long base64 blobs shortened where the
# case tests a rule, not the blob)
CASES = [
    # black hosts
    ("http://ptlogin2.qq.com/qqmail?ptlang=2052&Fun=clientread", True, True),
    ("http://img03.taobaocdn.com/imgextra/i3/350639611/x.gif", True, True),
    ("http://cache.baidu.com/c?fm=sc&m=9f65cb4a8c8507ed", True, True),
    ("http://webcache.googleusercontent.com/search?q=cache:bErgbMzY12EJ",
     True, True),
    ("http://snapshot.soso.com/snap.cgi?d=134875789409415390", True, True),
    ("http://newscache.baidu.com/c?m=9d78d513d9d431db4f9e", True, True),
    # path / schema
    ("http://www.sohu.com/", False, False),
    ("http://www.sohu.com#", False, False),
    ("javascript:://www.sohu.com/", True, True),
    ("JavascrIpt:://www.sohu.com/", True, True),
    ("mailto://www.sohu.com/", True, True),
    # path postfix
    ("http://www.sohu.com/a.exe", True, True),
    ("http://www.sohu.com/a.zip", True, True),
    ("http://81.duote.org:8080/matschool.zip", True, True),
    ("http://81.duote.org:8080/matschool.zip  ", True, True),
    ("http://m61.mail.qq.com/cgi-bin/download?c=ne", False, False),
    ("http://k2b-bulk.ebay.com/ws/eBayISAPI.dll?MfcISAPICommand=x", True,
     True),
    # query tokens
    ("http://bbs.unpcn.com/attachment.aspx?attachmentid=628036", True, True),
    ("http://rate.taobao.com/remark_buyer.jhtml?tradeID=155306048563593",
     True, True),
    ("http://rate.taobao.com/remark_buyer.jhtml?trade_Id=155306048563593",
     True, True),
    ("http://my.cn.china.cn/admin.php?op=LoginSh&dc", True, True),
    ("http://s537.hz.7.qq.com/dynasty/swf/login.jhtml?cdnUrl=cdn.dl.7.qq.com",
     True, True),
    ("http://www.m18.com/app/AdEntrance.aspx?from=E001&targetURL=http://x",
     True, True),
    ("http://www.baidu.com/baidu.php?url=7TcK000OyU1aAzYst8Qjk89", True,
     True),
    # login pages (rule book)
    ("http://110.taobao.com/account/rebind_phone_result.htm?tag=188", True,
     True),
    ("http://56.china.alibaba.com/order/evaluate/evaluate.htm?orderId=19",
     True, True),
    ("http://aq.qq.com/cn2/findpsw/findpsw_index?source_id=1048", True,
     True),
    ("http://archive.taobao.com/auction/goods/item_detail.htm?itemID=95",
     True, True),
    ("http://wuliu.taobao.com/user/order_detail_new.htm?trade_id=155", True,
     True),
    ("http://athena.china.alibaba.com/favorites/add_to_favorites.htm?c=CO",
     True, True),
    ("http://buy.tmall.com/detail/orderDetail.htm?bizOrderId=127", True,
     True),
    ("http://cashier.alipay.com/standard/payment/cashier.htm?bizIdentity=t",
     True, True),
    ("http://china.alibaba.com/member/signin.htm?Done=http%3A%2F%2Fx", True,
     True),
    ("http://china.alibaba.com/offer/post/fill_product_info.htm?o=edit",
     True, True),
    ("http://cid-e0ae43a120f46963.profile.live.com/?wlexpid=C103F9D0", True,
     True),
    # search engines: strict-only drops
    ("http://www.baidu.com/s?wd=flower&f=12&rsp=0&oq=flowler", False, True),
    ("http://zhidao.baidu.com/q?ct=17&pn=0&tn=ikaslist&rn=10&word=x", False,
     True),
    ("http://map.baidu.com/?newmap=1&ie=utf-8&s=s%26wd%3Dx", True, True),
    ("http://map.baidu.com", False, False),
    ("http://news.baidu.com/ns?cl=2&rn=20&tn=news&word=x", False, True),
    ("http://passport.baidu.com/?reg", True, True),
    ("http://passport.baidu.com/", False, False),
    ("http://www.google.com.hk/#hl=zh-CN&newwindow=1&safe=strict&q=x",
     False, True),
    ("http://www.sogou.com/web?query=%CF%CA%BB%A8&_asf=www.sogou.com",
     False, True),
    ("http://v.sogou.com/mlist/3i1w5m2c0b0a4a_5l_0_.html", True, True),
    ("http://www.soso.com/q?ie=utf-8&w=%E8%85%BE%E8%AE%AF", False, True),
    ("http://www.soso.com/ie=utf-8&w=%E8%85%BE%E8%AE%AF", False, False),
    ("www.soso.com/q?ie=utf-8&w=%E8%85%BE%E8%AE%AF", False, True),
    ("http://wenwen.soso.com/z/Search.e?sp=S%E4%BC%9A&ch=search.lishi",
     False, True),
    ("http://map.soso.com/?ie=utf-8&mp;pid=sobar.map&mp;w=", True, True),
    ("http://map.soso.com/", False, False),
    ("http://search.yahoo.com/search;_ylt=A0oGdWytSFBPu1kA?p=x&fr2=s",
     False, True),
    ("http://s8.taobao.com/search?cat=162104&commend=all&s=0&sort=coefp",
     False, True),
    ("http://s.click.taobao.com/t_3?&p=mm_11095527_0_0&n=23", True, True),
    # site rules
    ("http://iask.sina.com.cn/question/ask_new_2.php?key=&tag=0", True,
     True),
    ("http://video.sina.com.cn/search/index.php?k=%E6%8C%81", True, True),
    ("http://www.uqude.com/search?keywords=%25E7%2599%25BE", True, True),
    ("http://www.uqude.com/content/getSolr.action", True, True),
    ("http://link.admin173.com/index.php?bd=5&wl=5&qz=4&act=byprGD", True,
     True),
    ("http://link.admin173.com/index.php", False, False),
    ("http://link.admin173.com", False, False),
    ("http://www.kaixin001.com/login/?flag=1", True, True),
    ("http://www.168dushi.com.cn/czfy/?11-5-0-8-4-10-2-0-0-0", True, True),
    ("http://car.autohome.com.cn/price/list-15_20-0.html", True, True),
    ("http://db.auto.sohu.com/searchterm.sip?paixu=0&item=bid:158", True,
     True),
    ("http://db.auto.sohu.com/", False, False),
    ("http://product.it.sohu.com/search/subcategoryid=314&manuid=143",
     True, True),
    ("http://search.360buy.com/search?keyword=%E6%98%A5&cid=1354", False,
     True),
    ("http://search.360buy.com/", False, False),
    ("http://tv.hao123.com/index/dq-taiguo-nf-2007-yy-kouzhenhai17df",
     True, True),
    ("http://tv.hao123.com/", False, False),
    ("http://tv.hao123.net/index/dq-taiguo-nf-2007", True, True),
    ("http://search.51job.com/list/0902,0000,2303.html?lang=c&stype=2",
     True, True),
    ("http://movie.xunlei.com/person/search,area,initial", True, True),
    ("http://bbs.ifeng.com/pm.php?action=send&uid=3120718", True, True),
    ("http://huilitongxie.com.cn/?gallery-41-s3,30_4,0_5,1_s1,80", True,
     True),
    ("http://product.enet.com.cn/price/plist23_2289_s34542.shtml", True,
     True),
    ("http://www.52dpe.com/?gallery--p,0_tp,2_2,10-0--1-15-grid.html",
     True, True),
    ("http://old.pctowap.com/dir/asdf", True, True),
    ("http://www.pctowap.com/dir/asdf", True, True),
    ("http://trading.5173.com/search/dd1d2af9.shtml?cate=-1&ga=fff6", True,
     True),
    ("http://www.chinadaily.com.cn", False, False),
    ("http://dgvan.zjol.com.cn/058763/036484/907672.shtml", True, True),
    ("http://v.360.cn/dianshi/index.php?cat=103&year=all&area=13", True,
     True),
    ("http://v.360.cn", False, False),
    ("http://www.newegg.com.cn/Search.aspx?N=800000465", True, True),
    ("http://twebmail.mail.163.com/js4/main.jsp?sid=qAuaxin", True, True),
    ("http://mail.163.com/?sid=qAuaxinOnNpEKPTyOXOOPXOILQdUFqvq", True,
     True),
    ("http://mail.163.com/", False, False),
    ("http://t.qq.com/p/t/116595118596153", True, True),
    ("http://translate.google.com.hk/?q=yang+ming&um=1 ", True, True),
    ("http://translate.google.com.hk/", False, False),
    ("http://e.baidu.com/?id=1", True, True),
    ("http://e.baidu.com/", False, False),
    ("http://www.microsofttranslator.com/bv.aspx?ref=SERP&br=ro", True,
     True),
    ("http://cc.bingj.com/cache.aspx?q=%e7%99%be%e5%90%88&d=4923", True,
     True),
    ("http://zhidao.baidu.com/browse/1031/?lm=2", True, True),
    ("http://zhidao.baidu.com/browse/?lm=2", True, True),
    ("http://www.sogou.com/bill_search?p=hFczn161m&q=cGlkPXNvZ291", True,
     True),
    ("http://adredir.adcenter.bing.com.cn/redir?params=93gD:sH8i", True,
     True),
    ("http://www.content4ads.com/live.php?url=d_mK00josJ_CXCFVM", True,
     True),
    ("http://jzclick.soso.com/click?vid=SXhG4EOdjEW+BO9bpzU6y", True, True),
    ("http://clkservice.youdao.com/clk/request.s?d=http%3A%2F%2Fx", True,
     True),
    # path-depth drop (≥10 '/'-tokens)
    ("http://travel.chinadaily.cn/1/2/3/4/5/6/7/8/9/10/x.htm", True, True),
    # restrict list: non-homepage filtered, homepage kept
    ("http://weibo.com/u/12345", True, True),
    ("http://weibo.com/", False, False),
]


@pytest.mark.parametrize("url,exp_ns,exp_s", CASES)
def test_will_filter_py_reference_cases(url, exp_ns, exp_s):
    assert will_filter_py(url, strict=False) == exp_ns, url
    assert will_filter_py(url, strict=True) == exp_s, url


def test_spark_expr_matches_python_twin(spark):
    """Differential: the Column expression and the straight-line twin
    agree on every ported url, both modes. Spark sees the http-prefixed,
    trimmed form (the pipeline canonicalizes before the gate)."""
    import re

    prepped = []
    for url, _, _ in CASES:
        u = url.strip()
        if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", u):  # has_scheme twin
            u = "http://" + u
        prepped.append(u)
    # GURL lowercases the scheme in the canonical spec, so the gates are
    # case-insensitive on it (review r4: the Column side used to be
    # case-sensitive while the twin's urlsplit lowercases)
    prepped += [
        "HTTP://www.sohu.com/",
        "HTTP://.bad.example/x",
        "HTTPS://ok.example.org/a",
        "HtTp://ok.example.org/a",
    ]
    df = spark.createDataFrame([(u,) for u in prepped], "url string")
    df = df.withColumns({
        "host": urlkit.url_host(F.col("url")),
        "path": urlkit.url_path(F.col("url")),
        "query": urlkit.url_query(F.col("url")),
    })
    out = df.select(
        "url",
        will_filter_according_rules(
            F.col("url"), F.col("host"), F.col("path"), F.col("query"),
            strict=False).alias("ns"),
        will_filter_according_rules(
            F.col("url"), F.col("host"), F.col("path"), F.col("query"),
            strict=True).alias("s"),
    ).collect()
    got = {r["url"]: (r["ns"], r["s"]) for r in out}
    for u in prepped:
        assert got[u] == (
            will_filter_py(u, strict=False), will_filter_py(u, strict=True)
        ), u


def test_search_engine_names(spark):
    rows = [
        ("http://trade.taobao.com/trade/x.htm?id=1", "Taobao"),
        ("http://www.site1.com/a/login/page?next=1", "Login"),
        ("http://cc.bingj.com/cache.aspx?q=x", "BingCache"),
        ("http://zhidao.baidu.com/browse/1031/?lm=2", "ZhidaoBrowse"),
        ("http://ok.example.org/a", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    df = df.withColumns({
        "host": urlkit.url_host(F.col("url")),
        "path": urlkit.url_path(F.col("url")),
        "query": urlkit.url_query(F.col("url")),
    })
    out = df.select(
        "url",
        search_engine_of(F.col("host"), F.col("path"),
                         F.col("query")).alias("e"),
    ).collect()
    got = {r["url"]: r["e"] for r in out}
    for u, exp in rows:
        assert got[u] == exp, u


def test_rule_book_keep_allows_https(spark):
    df = spark.createDataFrame(
        [("https://ok.site.org/a",), ("https://trade.taobao.com/trade/x?i=1",)],
        "url string",
    ).withColumns({
        "host": urlkit.url_host(F.col("url")),
        "path": urlkit.url_path(F.col("url")),
        "query": urlkit.url_query(F.col("url")),
    })
    out = df.select(
        "url",
        rule_book_keep(F.col("url"), F.col("host"), F.col("path"),
                       F.col("query")).alias("keep"),
    ).collect()
    got = {r["url"]: r["keep"] for r in out}
    assert got["https://ok.site.org/a"] is True
    assert got["https://trade.taobao.com/trade/x?i=1"] is False


def test_crawl_round_drops_rule_book_urls(spark, tmp_path):
    """E2E: a rule-book-filtered outlink never enters the frontier, and
    the simulator twin (will_filter_py via sim.rule_filter) agrees."""
    from spider_spark import simulator as sim
    from spider_spark.politeness import PolitenessSpec
    from crawl_witness import WitnessRun, batches
    from spider_spark.round import RoundSpec

    hosts = ("a.example.com", "b.example.com", "weibo.com")
    adj = {
        "http://a.example.com/": [
            "http://b.example.com/ok",
            "http://ptlogin2.qq.com/x",              # blacklist host
            "http://trade.taobao.com/trade/x?id=1",  # rule book
            "http://weibo.com/u/99",                 # restrict non-home
            "http://weibo.com/",                     # restrict homepage: OK
        ],
        "http://b.example.com/ok": [],
        "http://weibo.com/": [],
    }
    docs = spark.createDataFrame(
        [
            (u, [("anchor", f'<a href="{t}">x</a>', t, i)
                 for i, t in enumerate(links)])
            for u, links in adj.items()
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>",
    )
    robots = spark.createDataFrame(
        [(h, True, True, []) for h in hosts],
        "host string, has_robots boolean, allow_all boolean, "
        "disallow_prefixes array<string>",
    )
    spec = RoundSpec(n_buckets=4, max_depth=3, max_rounds=6,
                     politeness=PolitenessSpec(qps=5.0, round_seconds=2.0))
    run = WitnessRun(spark, docs, robots, str(tmp_path / "ck"), spec)
    engine_rounds = batches(run.run(spark.createDataFrame(
        [("http://a.example.com/",)], "url string")))
    s = sim.simulate(
        ["http://a.example.com/"],
        adj,
        sim.SimRobots({h: (True, True, []) for h in hosts}),
        sim.SimSpec(default_budget=10, max_depth=3, max_rounds=6),
    )
    crawled = {u for r in engine_rounds for u in r}
    assert "http://b.example.com/ok" in crawled
    assert "http://weibo.com/" in crawled
    assert "http://ptlogin2.qq.com/x" not in crawled
    assert "http://trade.taobao.com/trade/x?id=1" not in crawled
    assert "http://weibo.com/u/99" not in crawled
    assert engine_rounds == s["rounds"]
