"""Reference-style spider surface: CSS/XPath selectors, full Request
fields (method/headers/params/meta/priority/dont_filter), JSON items.

Covers reference response.py:316-351 (selector surface),
request.py:13-31 (Request fields), engine.py:200-268 (yield routing),
http.py:396-406 (params merged at fetch time, seen keyed on raw URL).
"""

from __future__ import annotations

import json

import pytest

from silkworm_spark.functions.dom import Document, SelectorError
from silkworm_spark.operators.parse import CALLBACKS
from silkworm_spark.operators.spider import (
    Request,
    SparkResponse,
    register_spider_callback,
)

QUOTES_HTML = b"""<html><head><title>q</title></head><body>
<div class="quote"><span class="text">Q1</span><small class="author">A1</small>
  <div class="tags"><a class="tag" href="/tag/t1">t1</a><a class="tag" href="/tag/t2">t2</a></div></div>
<div class="quote"><span class="text">Q2</span><small class="author">A2</small>
  <div class="tags"><a class="tag" href="/tag/t3">t3</a></div></div>
<li class="next"><a href="/page2">Next</a></li>
</body></html>"""

PAGE2_HTML = b"""<html><body>
<div class="quote"><span class="text">Q3</span><small class="author">A3</small>
  <div class="tags"><a class="tag" href="/tag/t4">t4</a></div></div>
</body></html>"""

SEARCH_HTML = b"<html><body><p>search results</p></body></html>"


# ---- pure DOM / facade units (no Spark) ----

def test_dom_css_and_xpath():
    d = Document(QUOTES_HTML.decode())
    quotes = d.select(".quote")
    assert len(quotes) == 2
    assert quotes[0].select_first(".text").text == "Q1"
    assert [t.text for t in quotes[0].select(".tag")] == ["t1", "t2"]
    assert [t.attr("href") for t in d.select("div.tags a.tag")] == [
        "/tag/t1", "/tag/t2", "/tag/t4"][:2] + ["/tag/t3"]
    assert d.select_first("li.next a").attr("href") == "/page2"
    # XPath twin of the same extraction (quotes_spider_xpath.py:57-95)
    assert len(d.xpath("//div[@class='quote']")) == 2
    q = d.xpath("//div[@class='quote']")[1]
    assert q.xpath_first(".//span[@class='text']").text == "Q2"
    assert d.xpath_first("//li[@class='next']/a").attr("href") == "/page2"
    assert d.xpath("//a[@class='tag']/@href") == ["/tag/t1", "/tag/t2", "/tag/t3"]
    with pytest.raises(SelectorError):
        d.select(":unsupported-pseudo")
    with pytest.raises(SelectorError):
        Document("x" * 100, max_size_bytes=10)


def test_response_facade_and_follow():
    row = dict(
        url="http://shop.test/search", final_url=None, status=200,
        content_type="text/html", body=QUOTES_HTML, callback="quotes",
        seq=7, depth=1, method=None, params={"q": "1"},
        headers={"x-req": "42"}, meta={"page": "2"},
    )
    r = SparkResponse(row)
    # Response.url is the params-merged URL (http.py:83: _build_url)
    assert r.url == "http://shop.test/search?q=1"
    assert r.request_url == "http://shop.test/search"
    assert r.meta["page"] == "2"
    assert r.request_headers["x-req"] == "42"
    assert r.method == "GET"
    assert r.headers == {"content-type": "text/html"}
    assert r.css_first(".text").text == "Q1"
    req = r.follow("/page2", priority=5, meta={"k": "v"})
    assert req.url == "http://shop.test/page2"
    assert req.callback == "quotes" and req.priority == 5  # inherit cb
    reqs = r.follow_all(["/a", None, "/b"])
    assert [q.url for q in reqs] == ["http://shop.test/a", "http://shop.test/b"]
    # Request.replace + json body (request.py:27-31; json→data like rnet)
    pr = Request(url="http://x/", method="POST", json={"a": 1}).replace(priority=9)
    body, hdrs = pr._body_and_headers()
    assert body == b'{"a": 1}' and hdrs["content-type"] == "application/json"
    assert pr.priority == 9 and pr.method == "POST"


# ---- spider callback for the e2e crawl ----

@register_spider_callback("quotes")
def parse_quotes(resp):
    if resp.status != 200:
        return
    for q in resp.css(".quote"):
        yield {
            "text": q.select_first(".text").text,
            "author": q.select_first(".author").text,
            "tags": [t.text for t in q.select(".tag")],
            # prove request headers/meta round-trip frontier→fetch→parse
            "via_meta": resp.meta.get("page"),
            "via_hdr": resp.request_headers.get("x-req"),
        }
    nxt = resp.select_first("li.next a")
    if nxt is not None:
        yield resp.follow(nxt.attr("href"), priority=5,
                          meta={"page": "2"}, headers={"x-req": "42"})
        # params merge at fetch: raw URL is the seen key, the merged
        # URL is what the (offline) web serves
        yield Request(url="http://shop.test/search",
                      params={"q": "1"}, callback="parse")


def test_spider_callback_registered():
    assert "quotes" in CALLBACKS


def _mini_web(spark):
    from silkworm_spark.schemas import WEB_SCHEMA

    rows = [
        dict(url="http://shop.test/", host="shop.test", status=200,
             content_type="text/html", redirect_to=None, body=QUOTES_HTML,
             out_links=None, spans_expected=None, attempts_until_ok=0),
        dict(url="http://shop.test/page2", host="shop.test", status=200,
             content_type="text/html", redirect_to=None, body=PAGE2_HTML,
             out_links=None, spans_expected=None, attempts_until_ok=0),
        dict(url="http://shop.test/search?q=1", host="shop.test", status=200,
             content_type="text/html", redirect_to=None, body=SEARCH_HTML,
             out_links=None, spans_expected=None, attempts_until_ok=0),
    ]
    return spark.createDataFrame(
        [tuple(r[f.name] for f in WEB_SCHEMA.fields) for r in rows], WEB_SCHEMA
    )


def test_e2e_selector_spider_items_and_request_surface(spark, tmp_path):
    from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine
    from silkworm_spark.schemas import SEEDS_SCHEMA

    web = _mini_web(spark)
    eng = CrawlEngine(
        spark, str(tmp_path / "ckpt"),
        CrawlConfig(max_rounds=5, round_budget=100),
        web=web,
    )
    seeds = spark.createDataFrame(
        [("http://shop.test/", 0, 0)], SEEDS_SCHEMA
    ).withColumn("callback", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("quotes"))
    eng.initialize(seeds, None)
    stats = eng.run()

    # all three pages fetched: seed, followed next, params request
    fetched = {r["url"] for r in eng.fetch_log().collect()}
    assert fetched == {
        "http://shop.test/", "http://shop.test/page2", "http://shop.test/search",
    }
    # seen keys are RAW request URLs (params unmerged), reference
    # engine.py:99-106 + http.py:396-406
    seen = {r["url"] for r in eng.seen().collect()}
    assert "http://shop.test/search" in seen
    assert "http://shop.test/search?q=1" not in seen

    items = [json.loads(r["item"]) for r in eng.items().collect()]
    assert len(items) == 3  # Q1, Q2 (page1) + Q3 (page2)
    by_text = {i["text"]: i for i in items}
    assert by_text["Q1"]["tags"] == ["t1", "t2"]
    assert by_text["Q1"]["author"] == "A1"
    # page1's request had no meta/headers; page2's did (set by follow)
    assert by_text["Q1"]["via_meta"] is None
    assert by_text["Q3"]["via_meta"] == "2"
    assert by_text["Q3"]["via_hdr"] == "42"
    # 3 JSON items + 1 span-document (the search page runs the default
    # 'parse' callback, which emits a document item)
    assert stats.items_scraped == 4
    assert eng.documents().count() == 1

    # priority=5 on the follow activated the priority queue: page2
    # must dequeue before the search request (same round, same host)
    log = sorted(eng.fetch_log().collect(), key=lambda r: r["seq"])
    order = [r["url"] for r in log]
    assert order.index("http://shop.test/page2") < order.index("http://shop.test/search")


def test_e2e_max_pages_cap(spark, tmp_path):
    """Global page cap (reference examples/sitemap_spider.py:189-201):
    the crawl stops dequeuing once max_pages requests have been sent,
    even with frontier rows remaining."""
    from pyspark.sql import functions as F

    from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine
    from silkworm_spark.schemas import SEEDS_SCHEMA

    web = _mini_web(spark)
    eng = CrawlEngine(
        spark, str(tmp_path / "ckpt"),
        CrawlConfig(max_rounds=10, round_budget=1, max_pages=2),
        web=web,
    )
    seeds = spark.createDataFrame(
        [("http://shop.test/", 0, 0)], SEEDS_SCHEMA
    ).withColumn("callback", F.lit("quotes"))
    eng.initialize(seeds, None)
    stats = eng.run()
    assert stats.requests_sent == 2  # seed + one child; third never sent
    assert eng.fetch_log().count() == 2


def test_e2e_request_delay_paces_children(spark, tmp_path):
    from pyspark.sql import functions as F

    from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine
    from silkworm_spark.schemas import SEEDS_SCHEMA

    web = _mini_web(spark)
    eng = CrawlEngine(
        spark, str(tmp_path / "ckpt"),
        CrawlConfig(max_rounds=10, round_budget=100, request_delay=2.5,
                    round_seconds=1.0),
        web=web,
    )
    seeds = spark.createDataFrame(
        [("http://shop.test/", 0, 0)], SEEDS_SCHEMA
    ).withColumn("callback", F.lit("quotes"))
    eng.initialize(seeds, None)
    eng.run()
    # children discovered in round 1 (vtime 0) carry not_before=2.5 →
    # not eligible until the virtual clock reaches 2.5; the crawl still
    # drains (the scheduler jumps the clock), in a later round
    fetched = {r["url"] for r in eng.fetch_log().collect()}
    assert "http://shop.test/page2" in fetched
    rounds = {r["url"]: r["round"] for r in eng.fetch_log().collect()}
    assert rounds["http://shop.test/page2"] > rounds["http://shop.test/"]
