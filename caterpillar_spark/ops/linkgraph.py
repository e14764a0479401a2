"""Link-graph operators over crawled web corpora.

The hyperlink structure is the other half of a web corpus next to the
text: outlink extraction feeds frontier expansion, host-level degree
feeds crawl-health and spam heuristics, and PageRank over the host
graph is the classic crawl-prioritization / domain-authority signal.
The reference engine has no crawl layer — these extend it the way a
web-scale training-data pipeline needs (SURVEY.md §8), composing with
``ops/weburl.py`` (host extraction, blocklists) and the input-hint
shape from ``sources/webtext.py``.

Scale notes (the 100 TB question for each):

* :func:`extract_links` — one narrow JVM pass per document
  (``regexp_extract_all`` + ``explode``): no UDF, no shuffle; output
  is bounded by total anchor count.
* :func:`host_link_edges` / :func:`host_degree` — host-keyed partial
  aggregations; giant hosts are fine because every aggregate is
  algebraic (map-side combined).
* :func:`pagerank` — the standard power iteration: one shuffle per
  round (contributions keyed by dst), ranks re-keyed by node id;
  lineage is truncated per round with ``localCheckpoint`` exactly like
  ``ops/dedup.py::near_dup_clusters`` (caching alone grows ~2^rounds
  plan leaves).  Dangling mass is an O(1) driver scalar per round.
  State per round is one (node, rank) row per node — at 10^8 hosts
  that is a few GB spread over the cluster, not a driver concern.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from caterpillar_spark.ops.weburl import host_of

__all__ = [
    "extract_links",
    "extract_anchor_texts",
    "anchor_text_rollup",
    "host_link_edges",
    "host_degree",
    "pagerank",
    "hits",
    "authority_boost",
    "crawl_frontier",
    "cap_per_host",
    "host_reciprocity",
    "extract_sitemap_urls",
    "host_quality",
]

# scheme://authority of the source page, for resolving absolute paths
_ORIGIN_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*"


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per hyperlink: ``(url, dst_url)``.

    Pulls every ``href="..."`` attribute out of the stored HTML (a
    binary column per the input-hint shape) with a single JVM
    ``regexp_extract_all`` — no UDF, no Python row path.  Resolution:

    * absolute ``http(s)://`` hrefs pass through;
    * site-absolute paths (``/docs/x``) resolve against the source
      page's scheme+authority;
    * everything else (fragments, ``mailto:``, ``javascript:``,
      directory-relative paths — which need full RFC 3986 dot-segment
      handling) is dropped.  Documented subset: crawl frontiers
      overwhelmingly use absolute + site-absolute links.
    """
    html_str = F.col(html_col).cast("string")
    hrefs = F.expr(
        f"regexp_extract_all(cast({html_col} as string),"
        " 'href=\"([^\"]*)\"', 1)"
    )
    origin = F.regexp_extract(F.col(url_col), _ORIGIN_RE, 0)
    raw = df.select(
        F.col(url_col).alias("url"),
        origin.alias("_origin"),
        F.explode(hrefs).alias("_href"),
    )
    dst = (
        F.when(F.col("_href").rlike("^https?://"), F.col("_href"))
        .when(
            # a site-absolute path only resolves when the source url
            # yielded a real scheme://authority (a malformed row's
            # empty origin must not emit a scheme-less dst)
            (F.col("_origin") != "") & F.col("_href").startswith("/"),
            F.concat(F.col("_origin"), F.col("_href")),
        )
    )
    return (
        raw.select("url", dst.alias("dst_url"))
        .where(F.col("dst_url").isNotNull())
    )


_ANCHOR_RE = "<a [^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"


def _resolve_dst(href: Column, origin: Column) -> Column:
    """Absolute http(s) hrefs pass through; site-absolute paths resolve
    against the page's scheme+authority (when one parsed); everything
    else is NULL."""
    return (
        F.when(href.rlike("^https?://"), href)
        .when((origin != "") & href.startswith("/"), F.concat(origin, href))
    )


def extract_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """One row per hyperlink WITH its visible anchor text:
    ``(url, dst_url, anchor_text)`` — the classic web-ranking signal
    (incoming anchor text describes the target better than the target
    describes itself).

    Same single JVM pass and resolution rules as :func:`extract_links`;
    the href and text groups come from two ``regexp_extract_all`` calls
    over the same pattern (identical match set, so ``arrays_zip`` pairs
    them positionally).  Anchors with empty visible text are kept
    (their text is ``''``) — the caller decides.
    """
    h = f"cast({html_col} as string)"
    hrefs = F.expr(f"regexp_extract_all({h}, '{_ANCHOR_RE}', 1)")
    texts = F.expr(f"regexp_extract_all({h}, '{_ANCHOR_RE}', 2)")
    origin = F.regexp_extract(F.col(url_col), _ORIGIN_RE, 0)
    raw = df.select(
        F.col(url_col).alias("url"),
        origin.alias("_origin"),
        F.explode(F.arrays_zip(hrefs.alias("href"), texts.alias("txt"))).alias("_a"),
    )
    dst = _resolve_dst(F.col("_a.href"), F.col("_origin"))
    return (
        raw.select(
            "url", dst.alias("dst_url"), F.col("_a.txt").alias("anchor_text")
        )
        .where(F.col("dst_url").isNotNull())
    )


def anchor_text_rollup(
    anchors: DataFrame,
    max_anchors_per_target: Optional[int] = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """Per-target incoming-anchor-text surface:
    ``(dst_url, n_anchors, anchor_text)`` where ``anchor_text`` is the
    space-joined incoming texts in a deterministic md5 order —
    partition-layout-independent, so backfills reproduce bit-identical
    fields.  ``n_anchors`` always counts ALL inlinks (pre-cap).

    Scale: a hot page (think a homepage with 10^9 inlinks) must not
    funnel its whole inlink set through one reducer.  With
    ``max_anchors_per_target`` = B the cap is applied in two stages:
    first top-B per (dst, salt-of-src) bucket, then top-B of the
    surviving ≤ B·salt_buckets rows — exact (the global md5-top-B is
    contained in the union of per-salt top-Bs) and every task is
    bounded.  The pre-cap count stays algebraic (a partial agg, no
    skew).  Uncapped, the rollup is a single dst-keyed window + agg.
    """
    from pyspark.sql import Window

    key = F.md5(F.concat_ws("", F.col("url"), F.col("anchor_text")))
    a = anchors.select("url", "dst_url", "anchor_text", key.alias("_k"))

    counts = a.groupBy("dst_url").agg(F.count(F.lit(1)).alias("n_anchors"))

    if max_anchors_per_target is not None:
        b = max_anchors_per_target
        salted = a.withColumn(
            "_salt", F.abs(F.xxhash64("url", "anchor_text")) % salt_buckets
        )
        w1 = Window.partitionBy("dst_url", "_salt").orderBy("_k", "url")
        a = (
            salted.withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") <= b)
            .drop("_rn", "_salt")
        )
        w2 = Window.partitionBy("dst_url").orderBy("_k", "url")
        a = (
            a.withColumn("_rn", F.row_number().over(w2))
            .where(F.col("_rn") <= b)
            .drop("_rn")
        )
    # Ordered aggregation via listagg WITHIN GROUP: the sort is part of
    # the aggregate's contract and mirrors the SQL oracle's
    # string_agg(... ORDER BY ...) one-to-one (an equivalent
    # array_sort-over-collect_list formulation works too; pytest pins
    # the order against a Python-side md5 sort either way).
    joined = a.groupBy("dst_url").agg(
        F.expr(
            "listagg(anchor_text, ' ') WITHIN GROUP (ORDER BY _k, anchor_text)"
        ).alias("anchor_text")
    )
    return counts.join(joined, "dst_url").select(
        "dst_url", "n_anchors", "anchor_text"
    )


def host_link_edges(
    links: DataFrame,
    src_col: str = "url",
    dst_col: str = "dst_url",
    keep_self: bool = False,
) -> DataFrame:
    """Host-level edge list: ``(src_host, dst_host, n_links)``.

    One host-pair-keyed partial aggregation.  Intra-host navigation
    links (self-loops) are dropped by default — they dominate raw
    counts and carry no cross-site signal.
    """
    edges = links.select(
        host_of(F.col(src_col)).alias("src_host"),
        host_of(F.col(dst_col)).alias("dst_host"),
    )
    if not keep_self:
        edges = edges.where(F.col("src_host") != F.col("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def host_degree(edges: DataFrame) -> DataFrame:
    """Per-host degree rollup over a host edge list
    (``src_host, dst_host, n_links``): distinct out/in neighbour hosts
    and total out/in link counts.  Two algebraic aggs + one full outer
    join, all keyed by host.
    """
    out_deg = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_hosts"),
        F.sum("n_links").alias("out_links"),
    )
    in_deg = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_hosts"),
        F.sum("n_links").alias("in_links"),
    )
    return (
        out_deg.join(in_deg, "host", "full_outer")
        .na.fill(0, ["out_hosts", "out_links", "in_hosts", "in_links"])
        .select("host", "out_hosts", "out_links", "in_hosts", "in_links")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: Optional[str] = "n_links",
    damping: float = 0.85,
    iterations: int = 10,
    init_ranks: Optional[DataFrame] = None,
    tol: Optional[float] = None,
    teleport: Optional[object] = None,
) -> DataFrame:
    """Weighted PageRank over an edge list — fixed-iteration power
    method, the crawl-prioritization / domain-authority signal.

    Per iteration: ``rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u,v)/
    W_out(u) + dangling/N)`` where dangling is the rank mass sitting on
    nodes with no outlinks (redistributed uniformly, the standard
    treatment).  Returns ``(host, rank)``; ranks sum to 1.

    Execution shape: the edge relation is normalized ONCE to
    per-edge transition probabilities and persisted; each round is one
    shuffle (contributions hash-keyed by dst) plus a broadcast of the
    two O(1) scalars (dangling mass via one aggregate).  Ranks are
    ``localCheckpoint``-ed per round to truncate lineage (same
    discipline as near_dup_clusters), and each round frees the
    previous round's checkpoint, so block storage stays flat in
    ``iterations``.  Fixed iteration count keeps the
    result a pure function of the input — resume/backfill stable, and
    exactly reproducible by the unrolled-SQL oracle.

    Incremental crawls: pass the previous run's output as
    ``init_ranks`` (a (host, rank) relation) to warm-start — new hosts
    get the uniform prior, known hosts their old rank, and the vector
    is re-normalized to sum 1 so the fixed point is unchanged; the
    power method then needs far fewer rounds to re-converge after an
    edge delta.  ``tol`` adds early exit: stop once the L1 rank change
    of a round falls below it (one extra O(1) scalar per round).  The
    fixed-point is start-independent, so warm-started results converge
    to the same ranks as cold ones.

    Personalized / TrustRank: pass ``teleport`` as a list of seed
    hosts (uniform teleport over the seeds present in the graph) or a
    ``(host, weight)`` DataFrame (normalized to mass 1) — the random
    surfer then restarts at the trusted seeds instead of uniformly,
    and dangling mass flows back to them.  Rank concentrates in the
    seeds' link neighbourhood: the classic spam-demotion /
    crawl-prioritization bias (Gyöngyi et al., TrustRank).
    """
    if not 0 < damping < 1:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # per-edge transition probability, computed once
    out_w = e.groupBy("src").agg(F.sum("w").alias("_wout"))
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("_wout")).alias("p"))
        .persist()
    )
    trans.count()
    has_out = out_w.select(F.col("src").alias("host")).distinct()
    dangling_nodes = nodes.join(has_out, "host", "left_anti").persist()
    # one up-front count: when the graph has no dangling nodes (the
    # common host-graph case) every per-iteration dangling-mass job —
    # a driver round-trip per round — is skipped outright
    n_dangling = dangling_nodes.count()

    # teleport vector: None = uniform (kept on the scalar fast path);
    # else a per-node _v column with mass 1 over the seeds
    nodes_v = None
    if teleport is not None:
        if isinstance(teleport, DataFrame):
            # dedupe by host (summing weights) so a repeated seed can
            # never fan out node rows through the iteration joins
            tv = (
                teleport.select(
                    F.col(teleport.columns[0]).alias("host"),
                    F.col(teleport.columns[1]).cast("double").alias("_tw"),
                )
                .groupBy("host")
                .agg(F.sum("_tw").alias("_tw"))
            )
        else:
            seeds = list(dict.fromkeys(teleport))
            if not seeds:
                raise ValueError("teleport seed set is empty")
            tv = (
                nodes.sparkSession.createDataFrame(
                    [(s,) for s in seeds], ["host"]
                ).withColumn("_tw", F.lit(1.0))
            )
        joined_v = nodes.join(tv, "host", "left").select(
            "host", F.coalesce("_tw", F.lit(0.0)).alias("_tw")
        )
        tmass = joined_v.agg(F.sum("_tw")).collect()[0][0] or 0.0
        if tmass <= 0:
            raise ValueError("no teleport seed is present in the graph")
        nodes_v = joined_v.select(
            "host", (F.col("_tw") / F.lit(tmass)).alias("_v")
        ).localCheckpoint()

    if init_ranks is not None:
        warm = nodes.join(
            init_ranks.select("host", F.col("rank").alias("_r0")),
            "host",
            "left",
        ).select(
            "host", F.coalesce("_r0", F.lit(1.0 / n)).alias("rank")
        )
        total = warm.agg(F.sum("rank")).collect()[0][0] or 1.0
        ranks = warm.select(
            "host", (F.col("rank") / F.lit(total)).alias("rank")
        ).localCheckpoint()
    elif nodes_v is not None:
        ranks = nodes_v.select("host", F.col("_v").alias("rank"))
    else:
        ranks = nodes.select("host", F.lit(1.0 / n).alias("rank"))
    # the previous round's checkpoint, freed once the next one is built
    held = ranks if init_ranks is not None else None
    for _ in range(iterations):
        dm = 0.0
        if n_dangling:
            dm = (
                dangling_nodes.join(ranks, "host")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
        contrib = (
            trans.join(ranks, trans["src"] == ranks["host"])
            .select(F.col("dst").alias("host"),
                    (F.col("p") * F.col("rank")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        prev = ranks
        if nodes_v is not None:
            # rank' = (1-d)·v + d·(contrib + dm·v)
            fac = (1.0 - damping) + damping * dm
            ranks = (
                nodes_v.join(contrib, "host", "left")
                .select(
                    "host",
                    (F.lit(fac) * F.col("_v")
                     + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                     ).alias("rank"),
                )
                .localCheckpoint()
            )
        else:
            base = (1.0 - damping) / n + damping * dm / n
            ranks = (
                nodes.join(contrib, "host", "left")
                .select(
                    "host",
                    (F.lit(base)
                     + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                     ).alias("rank"),
                )
                .localCheckpoint()
            )
        converged = False
        if tol is not None:
            delta = (
                ranks.join(
                    prev.select("host", F.col("rank").alias("_pr")), "host"
                )
                .agg(F.sum(F.abs(F.col("rank") - F.col("_pr"))))
                .collect()[0][0]
                or 0.0
            )
            converged = delta < tol
        if held is not None:
            _drop_checkpoint(held)
        held = ranks
        if converged:
            break
    trans.unpersist()
    dangling_nodes.unpersist()
    return ranks


def _drop_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint()``-ed DataFrame (its
    plan is the checkpointed RDD).  Nothing may read ``df`` afterwards:
    a local checkpoint cannot be recomputed."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def hits(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: Optional[str] = "n_links",
    iterations: int = 10,
) -> DataFrame:
    """Kleinberg HITS over an edge list: ``(host, hub, authority)``.

    The other classic link-analysis signal next to PageRank: hubs are
    pages that point at good authorities, authorities are pages pointed
    at by good hubs.  Per iteration (standard mutual recursion, L2
    normalization)::

        auth(v) = Σ_{u→v} w(u,v)·hub(u)   then  auth /= ‖auth‖₂
        hub(u)  = Σ_{u→v} w(u,v)·auth(v)  then  hub  /= ‖hub‖₂

    Execution shape mirrors :func:`pagerank`: the edge relation is
    persisted once; each half-step is one shuffle (keyed by the side
    being updated) plus one O(1) norm scalar; both score vectors are
    ``localCheckpoint``-ed per round to truncate lineage, and the
    previous round's checkpoints freed.  Fixed
    iteration count keeps the result a pure function of the input —
    reproducible by the unrolled-SQL oracle.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.alias("w"),
    ).persist()
    e.count()
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "authority", F.lit(0.0)
        )

    hub = nodes.select("host", F.lit(1.0).alias("s"))
    auth = nodes.select("host", F.lit(1.0).alias("s"))
    # the previous round's checkpoints, freed once the next ones are built
    held_hub = held_auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hub, e["src"] == hub["host"])
            .select(F.col("dst").alias("host"), (F.col("w") * F.col("s")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        # one checkpoint per half-step: the raw vector is materialized
        # (and its lineage truncated) once; the normalization is a
        # narrow map over it, so leaving it lazy adds one plan node,
        # not a lineage chain
        auth = (
            nodes.join(raw_a, "host", "left")
            .select("host", F.coalesce("c", F.lit(0.0)).alias("s"))
            .localCheckpoint()
        )
        if held_auth is not None:
            _drop_checkpoint(held_auth)
        held_auth = auth
        na = auth.agg(F.sqrt(F.sum(F.col("s") * F.col("s")))).collect()[0][0]
        if na:
            auth = auth.select("host", (F.col("s") / F.lit(na)).alias("s"))
        raw_h = (
            e.join(auth, e["dst"] == auth["host"])
            .select(F.col("src").alias("host"), (F.col("w") * F.col("s")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        hub = (
            nodes.join(raw_h, "host", "left")
            .select("host", F.coalesce("c", F.lit(0.0)).alias("s"))
            .localCheckpoint()
        )
        if held_hub is not None:
            _drop_checkpoint(held_hub)
        held_hub = hub
        nh = hub.agg(F.sqrt(F.sum(F.col("s") * F.col("s")))).collect()[0][0]
        if nh:
            hub = hub.select("host", (F.col("s") / F.lit(nh)).alias("s"))
    out = (
        hub.withColumnRenamed("s", "hub")
        .join(auth.withColumnRenamed("s", "authority"), "host")
        .select("host", "hub", "authority")
    )
    e.unpersist()
    return out


def authority_boost(
    results: DataFrame,
    priors: DataFrame,
    on: str,
    prior_col: str = "rank",
    score_col: str = "score",
    weight: float = 1.0,
    out_col: str = "boosted_score",
    broadcast_priors: bool = True,
) -> DataFrame:
    """Fuse a static authority prior (e.g. host PageRank) into a scored
    result set — the domain-authority re-ranking step of a web search
    stack::

        boosted = score · (1 + weight · prior / max(prior))

    Rows with no prior (unknown host) keep their raw score.  The max
    normalizer is one O(1) scalar broadcast (crossJoin of a 1-row
    aggregate, JVM-only).  ``broadcast_priors`` hints the prior join
    broadcast — right for host-keyed priors; pass ``False`` for a
    page-level prior table too big to broadcast, which degrades to a
    shuffled hash join (the scored side is top-k-bounded in the
    rank-then-rerank pattern this composes with).
    """
    mx = priors.agg(F.max(F.col(prior_col)).alias("_mx"))
    p = priors.crossJoin(F.broadcast(mx)).select(
        F.col(on),
        (F.col(prior_col) / F.col("_mx")).alias("_prior_norm"),
    )
    if broadcast_priors:
        p = F.broadcast(p)
    return (
        results.join(p, on, "left")
        .withColumn(
            out_col,
            F.col(score_col)
            * (
                F.lit(1.0)
                + F.lit(weight) * F.coalesce(F.col("_prior_norm"), F.lit(0.0))
            ),
        )
        .drop("_prior_norm")
    )


def crawl_frontier(
    links: DataFrame,
    seen: DataFrame,
    dst_col: str = "dst_url",
    seen_col: str = "url",
    max_per_host: Optional[int] = None,
) -> DataFrame:
    """Next crawl round's frontier: ``(url, host)`` — distinct link
    targets not yet crawled, optionally capped per host (the
    politeness / budget knob every frontier scheduler needs).

    Execution shape: one distinct on the target column (term-sized,
    not link-stream-sized after map-side combine), one left-anti join
    against the seen set (hash join on url; at 10^12 seen URLs this is
    the bloom-filter slot-in — the anti-join stays correct, a bloom
    pre-filter just cuts the shuffle), and, when capped, one
    host-keyed window taking the ``max_per_host`` smallest md5(url)
    per host — deterministic under any partitioning, so schedulers
    resume reproducibly.
    """
    from pyspark.sql import Window

    cand = links.select(F.col(dst_col).alias("url")).distinct()
    new = cand.join(
        seen.select(F.col(seen_col).alias("url")).distinct(),
        "url",
        "left_anti",
    ).select("url", host_of(F.col("url")).alias("host"))
    if max_per_host is not None:
        new = cap_per_host(new, max_per_host)
    return new


def cap_per_host(
    urls: DataFrame,
    max_per_host: int,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Keep the ``max_per_host`` md5-smallest URLs per host — the
    politeness/budget cap, exposed so pipelines can apply it AFTER
    other frontier filters (robots etc.) so filtered-out URLs don't
    consume a host's slots.  Deterministic under any partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(F.md5(url_col), url_col)
    return (
        urls.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_host)
        .drop("_rn")
    )


def host_reciprocity(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-host link reciprocity:
    ``(host, out_hosts, reciprocal_hosts, reciprocity)`` where
    ``reciprocity`` is the fraction of a host's distinct out-neighbours
    that link back — the classic link-farm / link-exchange signal
    (organic graphs are mostly asymmetric; mutual-link cliques are
    not).

    One distinct over host pairs, one self-semi-join against the
    swapped relation (hash equi-join on both key columns — no
    all-pairs), one host-keyed agg.  Weights are ignored on purpose:
    reciprocity is about WHO links back, not how often.
    """
    pairs = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    swapped = pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = pairs.join(swapped, ["src", "dst"], "left_semi").select(
        "src", F.lit(1).alias("_m")
    )
    per_host = pairs.select("src", F.lit(0).alias("_m")).unionByName(mutual)
    return (
        per_host.groupBy(F.col("src").alias("host"))
        .agg(
            F.sum(F.lit(1) - F.col("_m")).cast("long").alias("out_hosts"),
            F.sum("_m").cast("long").alias("reciprocal_hosts"),
        )
        .select(
            "host",
            "out_hosts",
            "reciprocal_hosts",
            F.round(
                F.col("reciprocal_hosts") / F.col("out_hosts"), 6
            ).alias("reciprocity"),
        )
    )


def extract_sitemap_urls(
    df: DataFrame,
    xml_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """URLs listed in sitemap XML documents: ``(url, dst_url)`` — the
    other frontier source next to in-page links (sitemaps enumerate
    pages crawlers would otherwise discover slowly or never).

    One JVM ``regexp_extract_all`` over ``<loc>…</loc>`` entries with
    surrounding whitespace trimmed; non-http(s) entries are dropped.
    Composes with :func:`crawl_frontier` exactly like
    :func:`extract_links` output.
    """
    locs = F.expr(
        f"regexp_extract_all(cast({xml_col} as string),"
        " '<loc>\\\\s*([^<]*?)\\\\s*</loc>', 1)"
    )
    return (
        df.select(F.col(url_col).alias("url"), F.explode(locs).alias("dst_url"))
        .where(F.col("dst_url").rlike("^https?://"))
    )


def host_quality(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """One per-host decision table with every link signal this module
    computes: ``(host, out_hosts, out_links, in_hosts, in_links,
    reciprocity, rank)`` — the table a crawl-budget or domain-mix
    decision actually joins against.

    Composition of :func:`host_degree`, :func:`host_reciprocity`
    (NULL for hosts with no out-edges — unknown, not zero) and
    :func:`pagerank`; two host-keyed left joins on top of the
    members' own shapes.
    """
    deg = host_degree(edges)
    rec = host_reciprocity(edges).select("host", "reciprocity")
    pr = pagerank(edges, damping=damping, iterations=iterations)
    return (
        deg.join(rec, "host", "left")
        .join(pr, "host", "left")
        .select(
            "host", "out_hosts", "out_links", "in_hosts", "in_links",
            "reciprocity", "rank",
        )
    )
