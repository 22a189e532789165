"""The ASCII `(?i)` substring tests in functions/features.py against the
`lower(c).contains(n)` form they replace, and a plan guard that keeps
case-mapping expressions out of the scoring projection."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from realtime_fraud_detection_spark import pipeline as P
from realtime_fraud_detection_spark.functions import features as FF


def _lower_contains(c, needles):
    """The reference: Spark `lower()` (ICU case mapping) then a plain
    substring test per needle."""
    return reduce(lambda a, b: a | b, [F.lower(c).contains(n) for n in needles])


# ASCII mixed case, null, empty, short, and the non-ASCII code points whose
# lowercase form holds ASCII letters (U+0130 -> i + U+0307, U+212A -> k) or
# that case-map in other ways (sharp s, sigma, dotless i)
_CASES = [
    "Mozilla BOT", "CRAWLER", "PrePaid_Card", "gift", "Wire", "crypto-PAY",
    None, "", "ab", "bo t", "prepai", "credit_card",
    "G\u0130FT", "W\u0130RE", "PREPA\u0130D", "Kbot", "\u212abot", "\u00df",
    "\u03a3", "W\u0131RE", "CRYPTO\u212a", "g\u0130ft card",
]
# the user-agent test ORs in `length < 20`, so pad each case past it too
_PAD = "Mozilla/5.0 (X11; Linux x86_64) "


def _rows(spark, values):
    return spark.createDataFrame([(v,) for v in values], "s string")


def test_suspicious_user_agent_matches_lower_contains(spark):
    values = _CASES + [None if v is None else _PAD + v for v in _CASES]
    ua = F.col("s")
    want = _lower_contains(ua, ("bot", "crawler")) | (F.length(ua) < 20)
    got = FF.device_features(F.lit("10.0.0.1"), ua)["suspicious_user_agent"]
    rows = _rows(spark, values).select("s", got.alias("got"), want.alias("want")).collect()
    assert [r["got"] for r in rows] == [r["want"] for r in rows]
    # the padded cases are not all decided by the length clause
    padded = [r["got"] for r in rows[len(_CASES):] if r["s"] is not None]
    assert True in padded and False in padded


def test_high_risk_payment_matches_lower_contains(spark):
    pm = F.col("s")
    want = _lower_contains(pm, FF.HIGH_RISK_PAYMENT_SUBSTRINGS)
    got = FF.contextual_features(pm, F.lit("purchase"))["is_high_risk_payment"]
    rows = _rows(spark, _CASES).select("s", got.alias("got"), want.alias("want")).collect()
    assert [r["got"] for r in rows] == [r["want"] for r in rows]
    by_value = {r["s"]: r["got"] for r in rows}
    assert by_value["PrePaid_Card"] is True and by_value["credit_card"] is False
    assert by_value[None] is None  # nulls stay null


def _expression_classes(plan):
    """Simple class names of every expression in a JVM logical plan."""
    seen, nodes = set(), [plan]
    while nodes:
        node = nodes.pop()
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
        exprs = node.expressions()
        stack = [exprs.apply(i) for i in range(exprs.size())]
        while stack:
            e = stack.pop()
            seen.add(e.getClass().getSimpleName())
            kids = e.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return seen


def test_scoring_plan_has_no_case_mapping(fraud_data):
    """Guard: no Lower/Upper/InitCap in the optimized scoring plan. In
    Spark 4.1 these route through ICU case mapping, and the first row in a
    JVM runs the static initializer of `CollationAwareUTF8String`, which
    title-cases every code point (~2 s) while every task of the stage waits
    on the class-init monitor — the scoring stage of a cold pass paid it."""
    users, merchants, tx = fraud_data
    plan = P.score_transactions(tx, users, merchants)._jdf.queryExecution().optimizedPlan()
    classes = _expression_classes(plan)
    assert "Alias" in classes  # the walk reached the projection
    assert not classes & {"Lower", "Upper", "InitCap"}
