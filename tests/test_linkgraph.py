"""Link-graph operators: outlink extraction, host edges/degree, PageRank.

PageRank is checked against an independent dense numpy power iteration
(same fixed-iteration, dangling-redistribution formulation); extraction
is checked against hand-built HTML plus the synthetic webtext corpus
(whose anchors are generated by an independent Python path in
sources/webtext.py, not by the extraction regex).
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from caterpillar_spark.ops import (
    anchor_text_rollup,
    extract_anchor_texts,
    extract_links,
    host_degree,
    host_link_edges,
    pagerank,
)
from caterpillar_spark.sources.webtext import synthetic_webtext


def _links_df(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    )


def test_extract_links_resolution(spark):
    html = (
        '<p><a href="https://other.org/x">a</a>'
        '<a href="/local/1">b</a>'
        '<a href="mailto:x@y.z">c</a>'
        '<a href="javascript:void(0)">d</a>'
        '<a href="#frag">e</a>'
        '<a href="relative/path">f</a>'
        '<a href="http://plain.example.com/q?y=1">g</a></p>'
    )
    out = extract_links(
        _links_df(spark, [("https://site-3.example.org:8080/page/7", html)])
    )
    got = sorted(r.dst_url for r in out.collect())
    # absolute kept; site-absolute resolved against scheme://authority
    # (port included); mailto/javascript/fragment/dir-relative dropped
    assert got == [
        "http://plain.example.com/q?y=1",
        "https://other.org/x",
        "https://site-3.example.org:8080/local/1",
    ]


def test_extract_links_multidoc_counts(spark):
    rows = [
        ("https://a.org/1", '<a href="https://b.org/x">l</a>' * 3),
        ("https://a.org/2", "<p>no links</p>"),
    ]
    out = extract_links(_links_df(spark, rows))
    assert out.count() == 3
    assert out.where(F.col("url") == "https://a.org/2").count() == 0


def test_extract_links_webtext_parity(spark):
    """Every link extracted from the synthetic corpus resolves to the
    corpus' own URL space, and the count matches an independent
    Python-side parse of the stored HTML bytes."""
    web = synthetic_webtext(spark, n_docs=200, seed=11).cache()
    out = extract_links(web).cache()
    n_spark = out.count()
    assert n_spark > 0
    # all resolved targets live in the synthetic URL space
    bad = out.where(
        ~F.col("dst_url").rlike(r"^https://site-\d+\.example\.org/page/\d+$")
    ).count()
    assert bad == 0
    # independent count: parse the raw bytes in Python
    import re

    n_py = 0
    for r in web.select("html").collect():
        n_py += len(re.findall(rb'href="([^"]*)"', r.html))
    # every generated href is absolute or site-absolute by construction
    assert n_spark == n_py
    web.unpersist()
    out.unpersist()


def test_host_link_edges_and_degree(spark):
    links = spark.createDataFrame(
        [
            ("https://a.org/1", "https://b.org/x"),
            ("https://a.org/2", "https://b.org/y"),
            ("https://a.org/1", "https://c.org/x"),
            ("https://b.org/1", "https://a.org/x"),
            ("https://a.org/3", "https://a.org/9"),  # self-loop
        ],
        "url string, dst_url string",
    )
    edges = host_link_edges(links)
    got = {(r.src_host, r.dst_host): r.n_links for r in edges.collect()}
    assert got == {
        ("a.org", "b.org"): 2,
        ("a.org", "c.org"): 1,
        ("b.org", "a.org"): 1,
    }
    deg = {r.host: r for r in host_degree(edges).collect()}
    assert deg["a.org"].out_hosts == 2 and deg["a.org"].out_links == 3
    assert deg["a.org"].in_hosts == 1 and deg["a.org"].in_links == 1
    assert deg["c.org"].out_hosts == 0 and deg["c.org"].in_links == 1
    # keep_self retains the loop
    assert host_link_edges(links, keep_self=True).count() == 4


def _np_pagerank(nodes, edges, damping, iters):
    """Dense reference: same fixed-iteration dangling-redistribution
    formulation, straight numpy."""
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    wout = np.zeros(n)
    for s, d, w in edges:
        wout[idx[s]] += w
    for s, d, w in edges:
        P[idx[s], idx[d]] = P[idx[s], idx[d]] + w / wout[idx[s]]
    r = np.full(n, 1.0 / n)
    dangling = wout == 0
    for _ in range(iters):
        dm = r[dangling].sum()
        r = (1 - damping) / n + damping * (r @ P + dm / n)
    return {h: r[idx[h]] for h in nodes}


@pytest.mark.parametrize("damping,iters", [(0.85, 10), (0.5, 4)])
def test_pagerank_matches_numpy(spark, damping, iters):
    edges_py = [
        ("a", "b", 2.0),
        ("a", "c", 1.0),
        ("b", "c", 1.0),
        ("c", "a", 5.0),
        ("d", "a", 1.0),  # e is dangling (appears only as dst)
        ("d", "e", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    got = {
        r.host: r.rank
        for r in pagerank(
            edges, damping=damping, iterations=iters
        ).collect()
    }
    want = _np_pagerank(["a", "b", "c", "d", "e"], edges_py, damping, iters)
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_unweighted_and_validation(spark):
    edges = spark.createDataFrame(
        [("a", "b", 99.0), ("b", "a", 1.0)],
        "src_host string, dst_host string, n_links double",
    )
    # weight_col=None ignores weights: symmetric 2-cycle -> uniform
    got = {
        r.host: r.rank
        for r in pagerank(edges, weight_col=None, iterations=3).collect()
    }
    assert got["a"] == pytest.approx(0.5, abs=1e-12)
    assert got["b"] == pytest.approx(0.5, abs=1e-12)
    with pytest.raises(ValueError):
        pagerank(edges, damping=1.5)


def test_extract_anchor_texts(spark):
    html = (
        '<p><a class="x" href="https://b.org/1" rel="nofollow">first link</a>'
        '<a href="/p/2">second</a>'
        '<a href="https://b.org/3"></a>'
        '<a href="mailto:a@b.c">mail</a>'
        '<a href="https://b.org/4"><b>nested markup</b></a> text</p>'
    )
    out = extract_anchor_texts(
        _links_df(spark, [("https://a.org:81/x", html)])
    ).collect()
    got = sorted((r.dst_url, r.anchor_text) for r in out)
    # nested-markup anchors are skipped by the plain-text pattern
    # (documented); empty visible text is kept
    assert got == [
        ("https://a.org:81/p/2", "second"),
        ("https://b.org/1", "first link"),
        ("https://b.org/3", ""),
    ]


def test_anchor_rollup_order_and_cap(spark):
    import hashlib

    rows = [(f"https://s{i}.org/p", "https://t.org/x", f"w{i}") for i in range(10)]
    rows.append(("https://s0.org/q", "https://u.org/y", "only"))
    anchors = spark.createDataFrame(
        rows, "url string, dst_url string, anchor_text string"
    )
    out = {r.dst_url: r for r in anchor_text_rollup(anchors).collect()}
    want = " ".join(
        t for _, t in sorted(
            (hashlib.md5((u + t).encode()).hexdigest(), t)
            for u, _, t in rows[:10]
        )
    )
    assert out["https://t.org/x"].n_anchors == 10
    assert out["https://t.org/x"].anchor_text == want
    assert out["https://u.org/y"].anchor_text == "only"

    # cap: n_anchors stays pre-cap; joined text is the md5-prefix;
    # two-stage salted cap (small salt_buckets to force both stages)
    capped = {
        r.dst_url: r
        for r in anchor_text_rollup(
            anchors, max_anchors_per_target=3, salt_buckets=4
        ).collect()
    }
    assert capped["https://t.org/x"].n_anchors == 10
    assert capped["https://t.org/x"].anchor_text == " ".join(want.split()[:3])


def test_anchor_texts_webtext(spark):
    """Anchor texts extracted from the synthetic corpus are words of the
    page text (anchors wrap existing words by construction)."""
    web = synthetic_webtext(spark, n_docs=120, seed=5)
    a = extract_anchor_texts(web).join(
        web.select("url", "text"), "url"
    )
    bad = a.where(
        ~F.expr("array_contains(split(translate(text, '\\n', ' '), ' '), anchor_text)")
    ).count()
    assert bad == 0
    assert extract_anchor_texts(web).count() > 0


def test_anchor_field_bm25f_composition(spark):
    """The web-ranking payoff: incoming anchor text indexed as a second
    TEXT field next to the body, searched with a field boost (BM25F
    saturation path).  A page whose body never mentions the query term
    but whose inlinks describe it with that term is retrieved, and the
    boost puts it above a body-only match."""
    from caterpillar_spark.framing import build_frames
    from caterpillar_spark.query import MemoryIndex, search

    pages = spark.createDataFrame(
        [
            (1, "https://a.org/1", "database engines and storage layout"),
            (2, "https://a.org/2", "a page that mentions spark once here"),
            (3, "https://a.org/3", "completely unrelated gardening notes"),
        ],
        "doc_id long, url string, text string",
    )
    links = spark.createDataFrame(
        [
            ("https://x.org/1", "https://a.org/1", "spark engine"),
            ("https://x.org/2", "https://a.org/1", "spark sql docs"),
            ("https://x.org/3", "https://a.org/1", "best spark guide"),
            ("https://x.org/4", "https://a.org/3", "gardening"),
        ],
        "url string, dst_url string, anchor_text string",
    )
    anchors = anchor_text_rollup(links).withColumnRenamed(
        "dst_url", "url"
    ).select("url", "anchor_text")
    docs = pages.join(anchors, "url", "left").select(
        "doc_id", "text",
        F.coalesce("anchor_text", F.lit("")).alias("anchor"),
    )
    idx = MemoryIndex(
        build_frames(docs, text_cols=["text", "anchor"], frame_size=0)
    )
    hits = search(
        idx, k=10, unit="document", should=["spark"],
        scorer="bm25_doc", field_boosts={"anchor": 2.0},
    ).collect()
    ranked = [r.doc_id for r in hits]
    # doc 1 (3 anchor mentions, boosted 2x) outranks doc 2 (1 body
    # mention); doc 3 has no 'spark' anywhere and is absent
    assert ranked[0] == 1
    assert 2 in ranked and 3 not in ranked


def _np_hits(nodes, edges, iters):
    """Dense reference: Kleinberg HITS with per-half-step L2
    normalization, straight numpy."""
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, d, w in edges:
        A[idx[s], idx[d]] += w
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(iters):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    return {x: (h[idx[x]], a[idx[x]]) for x in nodes}


def test_hits_matches_numpy(spark):
    from caterpillar_spark.ops import hits

    edges_py = [
        ("a", "b", 2.0),
        ("a", "c", 1.0),
        ("b", "c", 3.0),
        ("d", "c", 1.0),
        ("c", "a", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    got = {
        r.host: (r.hub, r.authority)
        for r in hits(edges, iterations=6).collect()
    }
    want = _np_hits(["a", "b", "c", "d"], edges_py, 6)
    assert set(got) == set(want)
    for host in want:
        assert got[host][0] == pytest.approx(want[host][0], abs=1e-12)
        assert got[host][1] == pytest.approx(want[host][1], abs=1e-12)
    # c is the authority sink; a and b are the strong hubs
    assert max(want, key=lambda x: got[x][1]) == "c"


def test_authority_boost(spark):
    from caterpillar_spark.ops import authority_boost

    results = spark.createDataFrame(
        [(1, "h1", 10.0), (2, "h2", 9.0), (3, "h9", 8.0)],
        "doc_id long, host string, score double",
    )
    priors = spark.createDataFrame(
        [("h1", 0.1), ("h2", 0.4)], "host string, rank double"
    )
    got = {
        r.doc_id: r.boosted_score
        for r in authority_boost(results, priors, on="host").collect()
    }
    # max prior 0.4 -> h1 norm 0.25, h2 norm 1.0; unknown host unboosted
    assert got[1] == pytest.approx(10.0 * 1.25, abs=1e-12)
    assert got[2] == pytest.approx(9.0 * 2.0, abs=1e-12)
    assert got[3] == pytest.approx(8.0, abs=1e-12)


def test_crawl_frontier(spark):
    import hashlib

    from caterpillar_spark.ops import crawl_frontier

    links = spark.createDataFrame(
        [
            ("https://x.org/p", "https://a.org/1"),
            ("https://x.org/p", "https://a.org/2"),
            ("https://y.org/q", "https://a.org/1"),  # dup target
            ("https://y.org/q", "https://b.org/9"),
        ],
        "url string, dst_url string",
    )
    seen = spark.createDataFrame(
        [("https://a.org/1",), ("https://z.org/0",)], "url string"
    )
    got = {(r.url, r.host) for r in crawl_frontier(links, seen).collect()}
    assert got == {
        ("https://a.org/2", "a.org"),
        ("https://b.org/9", "b.org"),
    }

    # per-host cap keeps the md5-smallest urls
    many = spark.createDataFrame(
        [("https://x.org/p", f"https://a.org/{i}") for i in range(8)],
        "url string, dst_url string",
    )
    keep = sorted(
        (f"https://a.org/{i}" for i in range(8)),
        key=lambda u: hashlib.md5(u.encode()).hexdigest(),
    )[:2]
    capped = crawl_frontier(
        many, spark.createDataFrame([("none",)], "url string"),
        max_per_host=2,
    )
    assert sorted(r.url for r in capped.collect()) == sorted(keep)


def test_pagerank_warm_start_and_tol(spark):
    edges_py = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 5.0), ("d", "a", 1.0), ("d", "e", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    # warm start from the converged fixed point (numpy, 500 rounds)
    # stays at the fixed point
    fixed = _np_pagerank(
        ["a", "b", "c", "d", "e"], edges_py, 0.85, 500
    )
    cold = spark.createDataFrame(
        [(h, float(v)) for h, v in fixed.items()], "host string, rank double"
    )
    warm = pagerank(edges, iterations=5, init_ranks=cold)
    w = {r.host: r.rank for r in warm.collect()}
    for h in fixed:
        assert w[h] == pytest.approx(fixed[h], abs=1e-9)
    # tol stops early once the L1 delta is tiny; mass still sums to 1
    quick = pagerank(edges, iterations=100, tol=1e-12, init_ranks=cold)
    assert sum(r.rank for r in quick.collect()) == pytest.approx(1.0, abs=1e-9)
    # warm start over a graph with NEW hosts: unknown hosts get the
    # uniform prior and the vector is renormalized (mass 1 going in)
    edges2 = edges.unionByName(spark.createDataFrame(
        [("e", "f", 1.0)], "src_host string, dst_host string, n_links double"
    ))
    warm2 = pagerank(edges2, iterations=3, init_ranks=cold)
    assert sum(r.rank for r in warm2.collect()) == pytest.approx(1.0, abs=1e-9)


def test_host_reciprocity(spark):
    from caterpillar_spark.ops import host_reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b", 5),  # mutual with b->a
            ("b", "a", 1),
            ("a", "c", 2),  # one-way
            ("c", "d", 1),  # one-way
            ("d", "c", 9),  # mutual with c->d
            ("e", "e", 3),  # self-loop ignored
        ],
        "src_host string, dst_host string, n_links long",
    )
    got = {r.host: r for r in host_reciprocity(edges).collect()}
    assert got["a"].out_hosts == 2 and got["a"].reciprocal_hosts == 1
    assert got["a"].reciprocity == 0.5
    assert got["b"].reciprocity == 1.0
    assert got["c"].out_hosts == 1 and got["c"].reciprocity == 1.0
    assert got["d"].reciprocity == 1.0
    assert "e" not in got


def test_html_structure_fingerprint(spark):
    from caterpillar_spark.ops import html_structure_fingerprint

    df = spark.createDataFrame(
        [
            ("a", b"<html><BODY><p>x</p><p>y</p></BODY></html>"),
            ("b", b"<html><body><p>1</p><p>2</p></body></html>"),  # same skeleton
            ("c", b"<html><body><div><p>z</p></div></body></html>"),
        ],
        "url string, html binary",
    )
    got = {r.url: r for r in html_structure_fingerprint(df).collect()}
    # case-insensitive: a and b share a fingerprint; c differs
    assert got["a"].struct_fp == got["b"].struct_fp
    assert got["c"].struct_fp != got["a"].struct_fp
    assert got["a"].n_tags == 4 and got["c"].n_tags == 4
    import hashlib
    assert got["a"].struct_fp == hashlib.md5(b"html,body,p,p").hexdigest()


def test_extract_sitemap_urls(spark):
    from caterpillar_spark.ops import extract_sitemap_urls

    xml = (
        b"<urlset><url><loc>  https://a.org/1 </loc></url>"
        b"<url><loc>https://a.org/2</loc></url>"
        b"<url><loc>ftp://a.org/3</loc></url></urlset>"
    )
    out = extract_sitemap_urls(
        spark.createDataFrame([("https://a.org/sitemap.xml", xml)],
                              "url string, html binary")
    )
    assert sorted(r.dst_url for r in out.collect()) == [
        "https://a.org/1", "https://a.org/2",
    ]


def _np_ppr(nodes, edges, damping, iters, seeds):
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    wout = np.zeros(n)
    for s, d, w in edges:
        wout[idx[s]] += w
    for s, d, w in edges:
        P[idx[s], idx[d]] += w / wout[idx[s]]
    v = np.zeros(n)
    for s in seeds:
        v[idx[s]] = 1.0 / len(seeds)
    r = v.copy()
    dangling = wout == 0
    for _ in range(iters):
        dm = r[dangling].sum()
        r = (1 - damping) * v + damping * (r @ P + dm * v)
    return {h: r[idx[h]] for h in nodes}


def test_pagerank_teleport_trustrank(spark):
    edges_py = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 5.0), ("d", "a", 1.0), ("d", "e", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    got = {
        r.host: r.rank
        for r in pagerank(
            edges, iterations=8, teleport=["a", "b"]
        ).collect()
    }
    want = _np_ppr(["a", "b", "c", "d", "e"], edges_py, 0.85, 8, ["a", "b"])
    for h in want:
        assert got[h] == pytest.approx(want[h], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # seeds' neighbourhood concentrates rank; d (unreachable from
    # seeds) holds none beyond teleport leakage (v_d = 0, no inlinks
    # from the seed component... d only receives teleport-free mass)
    assert got["d"] == pytest.approx(0.0, abs=1e-12)
    with pytest.raises(ValueError):
        pagerank(edges, teleport=[])
    with pytest.raises(ValueError):
        pagerank(edges, teleport=["zzz"])


def test_host_quality_table(spark):
    from caterpillar_spark.ops import host_quality

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0), ("a", "c", 1.0)],
        "src_host string, dst_host string, n_links double",
    )
    got = {r.host: r for r in host_quality(edges, iterations=4).collect()}
    assert got["a"].out_hosts == 2 and got["a"].in_links == 1
    assert got["a"].reciprocity == 0.5 and got["b"].reciprocity == 1.0
    # c never links out: reciprocity is NULL (unknown), not zero
    assert got["c"].reciprocity is None
    assert abs(sum(r.rank for r in got.values()) - 1.0) < 1e-9


def _new_persistent_rdds(spark, fn) -> int:
    """Persistent RDDs created by ``fn()`` that are still registered
    when it returns (ids are monotone, so older ones are excluded)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    fn()
    return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)


@pytest.mark.parametrize("tol", [None, 1e-15])
def test_pagerank_block_storage_flat_in_iterations(spark, tol):
    """Each round frees the previous round's checkpoint: what the call
    leaves behind does not grow with ``iterations``, and the ranks are
    those of the power method."""
    edges_py = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 5.0), ("d", "a", 1.0), ("d", "e", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    init = spark.createDataFrame(
        [("a", 0.5), ("b", 0.5)], "host string, rank double"
    )
    want = _np_pagerank(["a", "b", "c", "d", "e"], edges_py, 0.85, 8)
    for iters in (2, 8):
        got = {}
        kept = _new_persistent_rdds(spark, lambda: got.update(
            (r.host, r.rank)
            for r in pagerank(edges, iterations=iters, tol=tol).collect()
        ))
        assert kept <= 2, (iters, kept)  # the node set and the last round
        if iters == 8:
            for h in want:
                assert got[h] == pytest.approx(want[h], abs=1e-12)
        warm = _new_persistent_rdds(spark, lambda: pagerank(
            edges, iterations=iters, tol=tol, init_ranks=init).collect())
        assert warm <= 2, (iters, warm)


def test_hits_block_storage_flat_in_iterations(spark):
    from caterpillar_spark.ops import hits

    edges_py = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 3.0),
        ("d", "c", 1.0), ("c", "a", 1.0),
    ]
    edges = spark.createDataFrame(
        edges_py, "src_host string, dst_host string, n_links double"
    )
    want = _np_hits(["a", "b", "c", "d"], edges_py, 8)
    for iters in (2, 8):
        got = {}
        kept = _new_persistent_rdds(spark, lambda: got.update(
            (r.host, (r.hub, r.authority))
            for r in hits(edges, iterations=iters).collect()
        ))
        assert kept <= 3, (iters, kept)  # node set, last hub, last authority
    for host in want:
        assert got[host] == pytest.approx(want[host], abs=1e-12)
