"""robots.txt parsing + frontier filtering (ops/robots.py):
group semantics, longest-prefix decisions, Allow tie-break,
agent-specific group precedence."""
import pytest
from pyspark.sql import functions as F

from caterpillar_spark.ops import parse_robots, robots_filter

ROBOTS_A = """\
# comment line
User-agent: *
Disallow: /private
Allow: /private/ok

User-agent: badbot
User-agent: otherbot
Disallow: /

User-agent: emptybot
Disallow:
"""


@pytest.fixture(scope="module")
def rules(spark):
    df = spark.createDataFrame(
        [("a.org", ROBOTS_A), ("b.org", "User-agent: *\nDisallow: /tmp\n")],
        "host string, robots_txt string",
    )
    return parse_robots(df).cache()


def test_parse_robots_groups(rules):
    got = {
        (r.host, r.agent, r.allow, r.prefix) for r in rules.collect()
    }
    # prefix=None rows are group-PRESENCE markers (an empty group must
    # still win RFC group selection); real rules carry a prefix
    assert got == {
        ("a.org", "*", True, None),
        ("a.org", "*", False, "/private"),
        ("a.org", "*", True, "/private/ok"),
        ("a.org", "badbot", True, None),
        ("a.org", "otherbot", True, None),
        ("a.org", "badbot", False, "/"),
        ("a.org", "otherbot", False, "/"),
        # emptybot's empty Disallow emits no RULE — only the marker
        ("a.org", "emptybot", True, None),
        ("b.org", "*", True, None),
        ("b.org", "*", False, "/tmp"),
    }


def _urls(spark, us):
    return spark.createDataFrame([(u,) for u in us], "url string")


def test_robots_filter_decisions(spark, rules):
    urls = _urls(spark, [
        "https://a.org/public/x",       # no matching rule -> allowed
        "https://a.org/private/secret", # Disallow /private
        "https://a.org/private/ok/doc", # longer Allow wins
        "https://a.org/privateer",      # plain prefix match: blocked
        "https://b.org/tmp/x",          # other host's rule
        "https://b.org/keep",
        "https://c.org/anything",       # host with no rules
        "https://a.org",                # empty path -> treated as /
    ])
    got = sorted(
        r.url for r in robots_filter(urls, rules, agent="goodbot").collect()
    )
    assert got == [
        "https://a.org",
        "https://a.org/private/ok/doc",
        "https://a.org/public/x",
        "https://b.org/keep",
        "https://c.org/anything",
    ]


def test_robots_filter_specific_group(spark, rules):
    urls = _urls(spark, [
        "https://a.org/public/x",
        "https://a.org/private/ok/doc",
    ])
    # badbot has its own group (Disallow /): the * group no longer
    # applies at all
    assert robots_filter(urls, rules, agent="BadBot").count() == 0
    # emptybot's group is PRESENT but empty: per RFC it replaces the *
    # group entirely, so emptybot may fetch everything — including
    # /private/secret which * disallows
    blocked_for_star = _urls(spark, ["https://a.org/private/secret"])
    assert robots_filter(blocked_for_star, rules, agent="emptybot").count() == 1
    got = sorted(
        r.url for r in robots_filter(urls, rules, agent="emptybot").collect()
    )
    assert got == ["https://a.org/private/ok/doc", "https://a.org/public/x"]


def test_parse_robots_bom(spark):
    """A UTF-8 BOM must not disable the file's first directive."""
    bom_txt = "﻿User-agent: *\nDisallow: /x\n"
    rules = parse_robots(spark.createDataFrame(
        [("c.org", bom_txt)], "host string, robots_txt string"))
    got = {(r.agent, r.allow, r.prefix) for r in rules.collect()}
    assert ("*", False, "/x") in got


@pytest.mark.parametrize(
    "col", ["_host", "_path", "_rn", "_r_host", "_r_allow", "_r_prefix"]
)
def test_robots_filter_rejects_reserved_columns(spark, rules, col):
    """Every helper column robots_filter adds beside the caller's
    columns is reserved: a caller column of the same name would be
    shadowed or made ambiguous in the decision join."""
    urls = spark.createDataFrame(
        [("https://a.org/private/x", 1)], f"url string, {col} int"
    )
    with pytest.raises(ValueError, match="reserves the column name"):
        robots_filter(urls, rules, agent="goodbot")
