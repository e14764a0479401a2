"""robots.txt semantics for crawl frontiers (RFC 9309 prefix subset).

A polite crawler must drop frontier URLs the target host disallows.
Two operators:

* :func:`parse_robots` — one robots.txt body per host → a flat rules
  relation ``(host, agent, allow, prefix)``.  Parsing is per-file
  stateful (user-agent groups own the rules that follow them), so it
  runs as an Arrow-batched pandas UDF — robots files are tiny and
  one-per-host, never the corpus-sized path.
* :func:`robots_filter` — frontier ⋈ rules by host, longest-prefix
  rule wins, tie goes to Allow (the RFC/Google tie-break), no matching
  rule means allowed.  Group selection per RFC: if the host has a
  group for the crawler's user-agent, ONLY that group applies,
  otherwise the ``*`` group.

Documented subset: plain path prefixes only — ``*`` wildcards and
``$`` anchors inside rule paths are treated literally (they are rare
and a conservative crawler can pre-expand them); ``Crawl-delay`` and
``Sitemap:`` lines are ignored here (sitemaps route through
``extract_sitemap_urls``).

Scale: rules relations are host-sized (≤ 10^8 rows, usually far
less); the frontier join is a hash join on host, and the per-URL
decision window only sees that URL's matching rules (bounded by the
host's rule count).
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["parse_robots", "robots_filter"]

_RULE_TYPE = ArrayType(
    StructType(
        [
            StructField("agent", StringType()),
            StructField("allow", BooleanType()),
            StructField("prefix", StringType()),
        ]
    )
)


def _parse_one(text) -> List[Tuple[str, bool, str]]:
    if text is None:
        return []
    if isinstance(text, (bytes, bytearray)):
        # utf-8-sig: a BOM would otherwise glue onto the first key and
        # silently disable the file's first directive
        text = bytes(text).decode("utf-8-sig", errors="replace")
    else:
        text = text.lstrip("\ufeff")
    rules: List[Tuple[str, bool, str]] = []
    agents: List[str] = []
    in_group_header = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_group_header:
                agents = []
                in_group_header = True
            a = val.lower()
            agents.append(a)
            # group-PRESENCE marker (prefix None): an agent group with
            # no emitted rules must still win group selection per RFC
            # 9309 ("User-agent: goodbot\nDisallow:" means goodbot may
            # fetch everything, NOT "fall back to *")
            rules.append((a, True, None))
        elif key in ("allow", "disallow"):
            in_group_header = False
            if not agents or not val:
                # rules before any group are ignored; empty Disallow
                # means "nothing disallowed" — no rule at all
                continue
            for a in agents:
                rules.append((a, key == "allow", val))
    return rules


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """One robots.txt body per host → ``(host, agent, allow, prefix)``
    rules, one row per (group agent × rule) pair."""

    @F.pandas_udf(_RULE_TYPE)
    def _parse(col: pd.Series) -> pd.Series:
        return col.map(_parse_one)

    return (
        df.select(
            # the filter side joins on lowercased hostnames (host_of),
            # so the rules side must store them lowercased too
            F.lower(F.col(host_col)).alias("host"),
            F.explode(_parse(F.col(robots_col))).alias("_r"),
        )
        .select(
            "host",
            F.col("_r.agent").alias("agent"),
            F.col("_r.allow").alias("allow"),
            F.col("_r.prefix").alias("prefix"),
        )
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
) -> DataFrame:
    """Keep the frontier URLs ``agent`` may fetch.

    RFC 9309 decision per URL: pick the host's group (the crawler's
    own agent if a group for it exists, else ``*``), find the
    matching-prefix rules, and obey the longest one — ties go to
    Allow.  URLs on hosts with no robots rules (or no matching rule)
    are allowed.

    ``urls`` is treated as a URL SET (the crawl_frontier contract):
    duplicate rows for the same URL collapse to one decision row.
    """
    from caterpillar_spark.ops.weburl import host_of
    from pyspark.sql import Window

    # the columns this function adds beside the caller's own
    for reserved in (
        "_host", "_path", "_rn", "_r_host", "_r_allow", "_r_prefix"
    ):
        if reserved in urls.columns:
            raise ValueError(
                f"robots_filter reserves the column name {reserved!r}"
            )
    a = agent.lower()
    r = rules.where(F.col("agent").isin(a, "*"))
    # group selection consults ALL rows (incl. presence markers with a
    # NULL prefix); prefix matching below uses only real rules
    specific = (
        r.where(F.col("agent") == a).select("host").distinct()
        .withColumn("_has_specific", F.lit(True))
    )
    applicable = (
        r.join(specific, "host", "left")
        .where(
            F.when(F.col("_has_specific").isNotNull(), F.col("agent") == a)
            .otherwise(F.col("agent") == "*")
        )
        .where(F.col("prefix").isNotNull())
        .select("host", "allow", "prefix")
    )

    # RFC 9309 match target: path + optional ?query with '/' as the
    # default path — 'https://h?q=1' must match rules as '/?q=1'
    raw_path = F.regexp_extract(
        F.col(url_col),
        r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^#]*)",
        1,
    )
    u = urls.withColumn("_host", host_of(F.col(url_col))).withColumn(
        "_path",
        F.when(raw_path == "", F.lit("/"))
        .when(raw_path.startswith("/"), raw_path)
        .otherwise(F.concat(F.lit("/"), raw_path)),
    )
    applicable = applicable.select(
        F.col("host").alias("_r_host"),
        F.col("allow").alias("_r_allow"),
        F.col("prefix").alias("_r_prefix"),
    )
    joined = u.join(
        applicable,
        (u["_host"] == F.col("_r_host"))
        & F.col("_path").startswith(F.col("_r_prefix")),
        "left",
    )
    w = Window.partitionBy(u[url_col]).orderBy(
        F.length("_r_prefix").desc(), F.col("_r_allow").desc()
    )
    decided = (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.coalesce(F.col("_r_allow"), F.lit(True)))
    )
    return decided.select(*[u[c] for c in urls.columns])
