"""Round-10 wave-2 operators: MIME sniffing + routed ingest (q261),
robots.txt compliance (q262)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- mime

PAYLOADS = [
    (b"%PDF-1.7 stream", "text/plain", "application/pdf"),
    (b"\x89PNG\r\n\x1a\n....", "", "image/png"),
    (b"\xff\xd8\xff\xe0JFIF", None, "image/jpeg"),
    (b"GIF89a;;;", "image/gif", "image/gif"),
    (b"RIFF\x10\x00\x00\x00WEBPVP8 ", "", "image/webp"),
    (b"RIFF\x10\x00\x00\x00WAVEfmt ", "audio/wav", "audio/wav"),
    (b"\x1f\x8b\x08streamzz", "", "application/gzip"),
    (b"BZh91AY", "", "application/x-bzip2"),
    (b"PK\x03\x04docx", "", "application/zip"),
    (b"<html><p>hi</p>", "text/HTML; charset=utf-8", "text/html"),
    (b"just words", "", "application/octet-stream"),
    (b"just words", None, "application/octet-stream"),
]


def test_route_mime_magic_wins_and_header_fallback(spark):
    """Sniffed magic overrides a lying header; headerless text falls
    to octet-stream; declared types are normalized (case + params)."""
    from graphragpart1datapipeline_spark.text.mime import route_mime

    df = spark.createDataFrame(
        [(i, bytearray(p), d) for i, (p, d, _) in enumerate(PAYLOADS)],
        "i long, payload binary, declared string",
    )
    got = {
        r["i"]: r["route"]
        for r in df.select(
            "i", route_mime("payload", "declared").alias("route")
        ).collect()
    }
    for i, (_, _, want) in enumerate(PAYLOADS):
        assert got[i] == want, (i, got[i], want)


def test_route_mime_sql_parity(spark):
    """The GENERATED DuckDB twin routes every fixture byte-identically
    to the Spark chain (hex-string input, same MAGIC_RULES order)."""
    from graphragpart1datapipeline_spark.text.mime import (
        route_mime,
        route_mime_sql,
    )

    df = spark.createDataFrame(
        [(i, bytearray(p), d) for i, (p, d, _) in enumerate(PAYLOADS)],
        "i long, payload binary, declared string",
    )
    spark_routes = [
        r["route"]
        for r in df.select(
            "i", route_mime("payload", "declared").alias("route")
        )
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    duck_routes = []
    for payload, declared, _ in PAYLOADS:
        decl = "NULL" if declared is None else f"'{declared}'"
        sql = route_mime_sql(f"'{payload.hex().upper()}'", decl)
        duck_routes.append(con.execute(f"SELECT {sql}").fetchone()[0])
    assert spark_routes == duck_routes


def test_sniff_mime_null_on_unknown(spark):
    from graphragpart1datapipeline_spark.text.mime import sniff_mime

    df = spark.createDataFrame(
        [(bytearray(b"plain old text"),)], "payload binary"
    )
    assert df.select(sniff_mime("payload").alias("m")).first()["m"] is None


# -------------------------------------------------------------- robots

ROBOTS = """# demo
User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /tmp*cache
Allow: /wild*card
Disallow:

User-agent: GraftBot
User-agent: other-bot
Disallow: /graft-only
Crawl-delay: 7
""".replace("\n", "\r\n")


def _rules(spark, agent):
    from graphragpart1datapipeline_spark.text.robots import robots_rules

    df = spark.createDataFrame(
        [("ex.com", ROBOTS)], "domain string, robots_txt string"
    )
    return {
        (r["rule"], r["path"])
        for r in robots_rules(df, agent=agent).collect()
    }


def test_robots_exact_group_overrides_star(spark):
    """The agent named in a group (case-insensitive, consecutive UA
    lines share the group) gets ONLY that group's rules."""
    assert _rules(spark, "graftbot") == {("disallow", "/graft-only")}
    assert _rules(spark, "OTHER-BOT") == {("disallow", "/graft-only")}


def test_robots_star_group_and_wildcard_conservatism(spark):
    """An unnamed agent gets the * group; a wildcard Disallow is
    truncated at the wildcard (over-blocks), a wildcard Allow is
    dropped, an empty Disallow is the allow-all no-op."""
    assert _rules(spark, "somebody-else") == {
        ("disallow", "/private"),
        ("allow", "/private/ok"),
        ("disallow", "/tmp"),
    }


def test_robots_rejects_star_agent(spark):
    from graphragpart1datapipeline_spark.text.robots import robots_rules

    df = spark.createDataFrame(
        [("ex.com", ROBOTS)], "domain string, robots_txt string"
    )
    with pytest.raises(ValueError, match="concrete product token"):
        robots_rules(df, agent="*")


def test_robots_frontier_longest_match_and_default_allow(spark):
    """Longest matching rule wins (tie → allow); URLs on domains with
    no robots rows are allowed; the non-audit view drops blocked."""
    from graphragpart1datapipeline_spark.text.robots import (
        robots_frontier_filter,
        robots_rules,
    )

    rdf = spark.createDataFrame(
        [("ex.com", ROBOTS)], "domain string, robots_txt string"
    )
    rules = robots_rules(rdf, agent="somebody-else")
    urls = spark.createDataFrame(
        [
            (1, "http://ex.com/private/doc"),
            (2, "http://ex.com/private/ok/doc"),
            (3, "http://ex.com/tmpXcache/f"),
            (4, "http://ex.com/other"),
            (5, "http://nowhere.com/private/doc"),
            (6, "http://ex.com"),
        ],
        "doc_id long, url string",
    )
    audit = {
        r["doc_id"]: (r["allowed"], r["matched_rule"], r["path"])
        for r in robots_frontier_filter(
            urls, rules, keep_blocked=True
        ).collect()
    }
    assert audit[1] == (False, "disallow", "/private/doc")
    assert audit[2] == (True, "allow", "/private/ok/doc")
    assert audit[3] == (False, "disallow", "/tmpXcache/f")
    assert audit[4] == (True, None, "/other")
    assert audit[5] == (True, None, "/private/doc")
    assert audit[6] == (True, None, "/")
    kept = {
        r["doc_id"]
        for r in robots_frontier_filter(urls, rules).collect()
    }
    assert kept == {2, 4, 5, 6}


# ------------------------------------------------------- unigram encode

def test_unigram_encode_matches_training_segmentation(spark):
    """encode(w) must be the exact segmentation the E-step counted:
    re-deriving counts from the encoded pieces reproduces
    unigram_viterbi_counts, and the joined pieces rebuild the word."""
    from graphragpart1datapipeline_spark.text.unigram import (
        unigram_encode_words,
        unigram_train,
        unigram_viterbi_counts,
        unigram_words,
    )

    docs = spark.createDataFrame(
        [(i, "hello yellow mellow hello fellow") for i in range(4)],
        "doc_id long, text string",
    )
    words = unigram_words(docs, "text", 8)
    pieces = unigram_train(docs, "text", rounds=1, max_word_len=8)
    enc = {
        r["w"]: (r["n_pieces"], r["encoded"])
        for r in unigram_encode_words(words, pieces, 4, 8).collect()
    }
    assert set(enc) == {"hello", "yellow", "mellow", "fellow"}
    for w, (np_, e) in enc.items():
        parts = e.split(" ")
        assert "".join(parts) == w
        assert len(parts) == np_
    # counts re-derived from encode == the E-step's counts
    wc = {r["w"]: r["wc"] for r in words.collect()}
    derived: dict[str, int] = {}
    for w, (_, e) in enc.items():
        for p in e.split(" "):
            derived[p] = derived.get(p, 0) + wc[w]
    estep = {
        r["piece"]: r["cnt"]
        for r in unigram_viterbi_counts(words, pieces, 4, 8).collect()
    }
    assert derived == estep


# ------------------------------------------------- score_buckets / KN

def test_score_buckets_generic_and_kn(spark):
    """score_buckets terciles any score column (NULL → tail); the KN
    wrapper rides it with mean_ll_micro."""
    from graphragpart1datapipeline_spark.text.lm import (
        ccnet_buckets_kn,
        score_buckets,
    )

    scored = spark.createDataFrame(
        [(1, 30), (2, 20), (3, 10), (4, None)],
        "doc_id long, s long",
    )
    out = {
        r["doc_id"]: r["bucket"]
        for r in score_buckets(scored, "s", sample_size=3).collect()
    }
    assert out == {1: "head", 2: "middle", 3: "tail", 4: "tail"}
    with pytest.raises(ValueError, match="sample_size"):
        score_buckets(scored, "s", sample_size=2)
    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(6)
        ]
        + [(9, "zz")],
        "doc_id long, text string",
    )
    kn = ccnet_buckets_kn(docs, sample_size=3)
    rows = {r["doc_id"]: r for r in kn.collect()}
    assert rows[9]["bucket"] == "tail"  # < 3 tokens, NULL mean
    assert {rows[i]["bucket"] for i in range(6)} <= {"head", "middle"}


# ------------------------------------------------------------ sitemap

SITEMAP = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc>  HTTP://WWW.Ex.COM:80//a/?x=1  </loc>"
    "<lastmod>2026-01-01</lastmod></url>"
    "<url><loc>http://ex.com/a?x=1</loc></url>"
    "<url><loc>http://ex.com/b</loc></url>"
    "</urlset>"
)
SITEMAP_INDEX = (
    '<?xml version="1.0"?><sitemapindex>'
    "<sitemap><loc>http://ex.com/sitemap1.xml</loc></sitemap>"
    "</sitemapindex>"
)


def test_sitemap_locs_kinds_and_trim(spark):
    from graphragpart1datapipeline_spark.text.sitemap import sitemap_locs

    df = spark.createDataFrame(
        [(1, SITEMAP), (2, SITEMAP_INDEX)], "sid long, xml string"
    )
    rows = sitemap_locs(df, "xml", keep_cols=["sid"]).collect()
    by_sid = {}
    for r in rows:
        by_sid.setdefault(r["sid"], []).append((r["kind"], r["loc_idx"], r["loc"]))
    assert by_sid[1][0] == ("urlset", 0, "HTTP://WWW.Ex.COM:80//a/?x=1")
    assert [l for _, _, l in by_sid[1]] == [
        "HTTP://WWW.Ex.COM:80//a/?x=1",
        "http://ex.com/a?x=1",
        "http://ex.com/b",
    ]
    assert by_sid[2] == [("index", 0, "http://ex.com/sitemap1.xml")]


def test_sitemap_frontier_seed_collapses_and_drops_seen(spark):
    """Messy + clean spellings collapse to one canonical seed row;
    seen canonicals are anti-joined out; index locs never seed."""
    from graphragpart1datapipeline_spark.text.sitemap import (
        sitemap_frontier_seed,
    )

    maps = spark.createDataFrame(
        [(1, SITEMAP), (2, SITEMAP_INDEX)], "sid long, xml string"
    )
    seen = spark.createDataFrame(
        [("HTTP://ex.com/b/",)], "url string"
    )
    rows = {
        r["canon"]: r["n_spellings"]
        for r in sitemap_frontier_seed(maps, seen).collect()
    }
    assert rows == {"http://ex.com/a?x=1": 2}


# ---------------------------------------------------- exact selection

def test_exact_kth_matches_sorted_with_negatives(spark):
    from graphragpart1datapipeline_spark.operators.selection import (
        exact_kth_long,
        exact_quantiles_long,
    )

    vals = [7, -3, 0, 42, -(1 << 50), (1 << 50) + 3, -1, 5, 5, -3]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    s = sorted(vals)
    for k in (1, 2, 5, len(vals)):
        assert exact_kth_long(df, k) == s[k - 1]
    with pytest.raises(ValueError, match="exceeds the row count"):
        exact_kth_long(df, len(vals) + 1)
    with pytest.raises(ValueError, match="k must be >= 1"):
        exact_kth_long(df, 0)
    qs = exact_quantiles_long(df, "v", [(1, 2), (1, 1)])
    assert qs[0] == (5, s[4], 10)
    assert qs[1] == (10, s[9], 10)
    with pytest.raises(ValueError, match="fraction"):
        exact_quantiles_long(df, "v", [(0, 1)])


# -------------------------------------------- sitemap entries / recrawl

def test_sitemap_entries_block_pairing(spark):
    """loc/lastmod pair per <url> block — a block without lastmod
    yields '' and never steals a neighbor's; index blobs yield no
    entries."""
    from graphragpart1datapipeline_spark.text.sitemap import (
        sitemap_entries,
    )

    xml = (
        "<urlset>"
        "<url><loc> http://ex.com/a </loc>"
        "<lastmod>2026-02-01</lastmod></url>"
        "<url><loc>http://ex.com/b</loc></url>"
        "<url><lastmod>2026-03-01</lastmod>"
        "<loc>http://ex.com/c</loc></url>"
        "</urlset>"
    )
    df = spark.createDataFrame(
        [(1, xml), (2, SITEMAP_INDEX)], "sid long, xml string"
    )
    rows = sorted(
        (r["sid"], r["entry_idx"], r["loc"], r["lastmod"])
        for r in sitemap_entries(df, "xml", keep_cols=["sid"]).collect()
    )
    assert rows == [
        (1, 0, "http://ex.com/a", "2026-02-01"),
        (1, 1, "http://ex.com/b", ""),
        (1, 2, "http://ex.com/c", "2026-03-01"),
    ]


def test_sitemap_recrawl_reasons(spark):
    from graphragpart1datapipeline_spark.text.sitemap import (
        sitemap_recrawl,
    )

    xml = (
        "<urlset>"
        "<url><loc>http://ex.com/new</loc>"
        "<lastmod>2026-01-02</lastmod></url>"
        "<url><loc>http://ex.com/updated</loc>"
        "<lastmod>2026-01-09</lastmod></url>"
        "<url><loc>http://ex.com/fresh</loc>"
        "<lastmod>2026-01-02</lastmod></url>"
        "<url><loc>http://ex.com/nolastmod</loc></url>"
        # the same page in a second spelling with an OLDER lastmod:
        # max-collapse keeps 2026-01-09
        "<url><loc>HTTP://ex.com/updated/</loc>"
        "<lastmod>2026-01-01</lastmod></url>"
        "</urlset>"
    )
    maps = spark.createDataFrame([(xml,)], "xml string")
    log = spark.createDataFrame(
        [
            ("http://ex.com/updated", "2026-01-05"),
            ("http://ex.com/fresh", "2026-01-05"),
            ("http://ex.com/nolastmod", "2026-01-05"),
        ],
        "url string, crawled_at string",
    )
    rows = {
        r["canon"]: (r["reason"], r["lastmod"])
        for r in sitemap_recrawl(maps, log).collect()
    }
    assert rows == {
        "http://ex.com/new": ("new", "2026-01-02"),
        "http://ex.com/updated": ("updated", "2026-01-09"),
        "http://ex.com/nolastmod": ("no-lastmod", ""),
    }


# ------------------------------------------------ lang/script mismatch

def test_lang_script_mismatch_rules(spark):
    from graphragpart1datapipeline_spark.text.analysis import (
        expected_script,
        lang_script_mismatch,
    )

    df = spark.createDataFrame(
        [
            (1, "en", "plain english text"),
            (2, "en", "这是中文测试内容这是中文测试内容"),
            (3, "xx", "这是中文测试内容这是中文测试内容"),
            (4, "en", "12345 !!"),
            (5, "en", "english with a bit of 中文"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r["doc_id"]: (r["dominant"], r["expected_script"], r["mismatch"])
        for r in lang_script_mismatch(df, {"en": "latin"}).collect()
    }
    assert out[1] == ("latin", "latin", False)
    assert out[2] == ("han", "latin", True)
    assert out[3] == ("han", None, False)      # unmapped lang: no claim
    assert out[4] == ("none", "latin", False)  # no letters: no evidence
    assert out[5] == ("latin", "latin", False)
    with pytest.raises(ValueError, match="unknown script"):
        expected_script(F.col("lang"), {"en": "klingon"})


# --------------------------------------------------- redirects

def test_resolve_redirects_chain_loop_and_guard(spark):
    from graphragpart1datapipeline_spark.text.redirects import (
        resolve_redirects,
    )

    edges = spark.createDataFrame(
        [
            ("http://a.com/1", "HTTP://WWW.B.com:80//1"),  # messy target
            ("http://b.com/1", "http://c.com/1"),
            ("http://c.com/1", "http://d.com/1"),
            ("http://x.com/l", "http://y.com/l"),
            ("http://y.com/l", "http://x.com/l"),
        ],
        "src string, dst string",
    )
    out = {
        r["src"]: (r["final"], r["hops"], r["looped"])
        for r in resolve_redirects(edges, max_hops=8).collect()
    }
    assert out["http://a.com/1"] == ("http://d.com/1", 3, False)
    assert out["http://b.com/1"] == ("http://d.com/1", 2, False)
    assert out["http://c.com/1"] == ("http://d.com/1", 1, False)
    assert out["http://x.com/l"][2] is True
    assert out["http://y.com/l"][2] is True
    with pytest.raises(ValueError, match="multiple redirect targets"):
        resolve_redirects(
            spark.createDataFrame(
                [("http://a.com/x", "http://b.com/1"),
                 ("http://a.com/x", "http://b.com/2")],
                "src string, dst string",
            )
        )
    with pytest.raises(ValueError, match="max_hops"):
        resolve_redirects(edges, max_hops=0)


# ------------------------------------------- crawl-delay politeness

ROBOTS_CD = (
    "User-agent: *\nCrawl-delay: 3\nDisallow: /x\n\n"
    "User-agent: GraftBot\nCrawl-delay: 9"
)


def test_robots_crawl_delay_group_selection(spark):
    from graphragpart1datapipeline_spark.text.robots import (
        robots_crawl_delay,
    )

    df = spark.createDataFrame(
        [
            ("a.com", ROBOTS_CD),
            ("b.com", "User-agent: *\nCrawl-delay: 4\nCrawl-delay: 6"),
            ("c.com", "User-agent: *\nCrawl-delay: soon"),
        ],
        "domain string, robots_txt string",
    )
    got = {
        r["domain"]: r["delay_s"]
        for r in robots_crawl_delay(df, agent="graftbot").collect()
    }
    # exact group overrides; max of applicable lines; non-numeric
    # yields no row at all
    assert got == {"a.com": 9, "b.com": 6}
    other = {
        r["domain"]: r["delay_s"]
        for r in robots_crawl_delay(df, agent="elsebot").collect()
    }
    assert other == {"a.com": 3, "b.com": 6}


def test_politeness_per_domain_gap_invariant(spark):
    from graphragpart1datapipeline_spark.text.urls import (
        politeness_schedule_per_domain,
    )

    urls = spark.createDataFrame(
        [(i, f"http://{'slow' if i % 2 else 'fast'}.com/p{i}")
         for i in range(20)],
        "doc_id long, url string",
    )
    gaps = spark.createDataFrame(
        [("slow.com", 32)], "domain string, gap_slots long"
    )
    rows = politeness_schedule_per_domain(
        urls, gaps, default_gap=4, slot_ms=100,
        order_by=[F.asc("doc_id")],
    ).collect()
    by_dom: dict[str, list[int]] = {}
    gset = {}
    for r in rows:
        by_dom.setdefault(r["domain"], []).append(r["fetch_at_ms"])
        gset[r["domain"]] = r["gap_slots"]
    assert gset == {"slow.com": 32, "fast.com": 4}
    for dom, times in by_dom.items():
        times.sort()
        step = gset[dom] * 100
        assert all(b - a == step for a, b in zip(times, times[1:]))
        assert times[0] < gset[dom] * 100  # phase inside the gap
    bad = spark.createDataFrame(
        [("slow.com", 0)], "domain string, gap_slots long"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError
    with pytest.raises(Exception, match="non-positive"):
        politeness_schedule_per_domain(urls, bad).collect()
