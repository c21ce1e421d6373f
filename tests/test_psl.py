"""Registrable-domain extraction (operators/psl.py) against the official
publicsuffix.org test vectors for the rule kinds our snapshot carries
(normal, multi-label, wildcard `*.ck`, exception `!www.ck`)."""

import pyspark.sql.functions as F
import pytest

from webcrawler_spark.operators import psl as PS

# (host, expected registrable) — from publicsuffix.org/list/ test data
VECTORS = [
    # normal TLD rules
    ("com", None),
    ("example.com", "example.com"),
    ("www.example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    # multi-label normal rules
    ("co.uk", None),
    ("example.co.uk", "example.co.uk"),
    ("www.example.co.uk", "example.co.uk"),
    ("github.io", None),
    ("user.github.io", "user.github.io"),
    ("deep.user.github.io", "user.github.io"),
    ("blogspot.com", None),
    ("someone.blogspot.com", "someone.blogspot.com"),
    # wildcard rule *.ck with exception !www.ck (official vectors)
    ("ck", None),
    ("test.ck", None),
    ("b.test.ck", "b.test.ck"),
    ("a.b.test.ck", "b.test.ck"),
    ("www.ck", "www.ck"),
    ("www.www.ck", "www.ck"),
    # unknown TLD: prevailing rule is '*' (last label), registrable = last 2
    ("example.zz", "example.zz"),
    ("www.example.zz", "example.zz"),
    ("zz", None),
    # case-insensitive
    ("WwW.ExAmPlE.CoM", "example.com"),
]


@pytest.fixture(scope="module")
def resolved(spark):
    hosts = spark.createDataFrame([(h,) for h, _ in VECTORS], "host string")
    out = PS.registrable_domain(hosts, PS.rules_dim(spark), "host")
    return {r["host"]: r["registrable"] for r in out.collect()}


def test_official_vectors(resolved):
    for host, want in VECTORS:
        assert resolved[host] == want, f"{host}: got {resolved[host]}, want {want}"


def test_rule_dim_is_broadcast(spark):
    hosts = spark.createDataFrame([("a.example.com",)], "host string")
    plan = (
        PS.registrable_domain(hosts, PS.rules_dim(spark), "host")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # two independent assertions — the old `A or not B` form passed
    # vacuously whenever neither join string appeared, so a regression to a
    # sort-merge join would have slipped through
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udf_in_plan(spark):
    hosts = spark.createDataFrame([("a.example.com",)], "host string")
    plan = (
        PS.registrable_domain(hosts, PS.rules_dim(spark), "host")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
