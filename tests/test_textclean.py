"""Text cleaning operators vs explicit Python oracles."""

import re

import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators.textclean import (
    redact_pii,
    repetition_ratio,
    strip_html,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_redact_pii_cases(spark):
    rows = [
        (1, "mail a.b-c+x@sub.domain.org now"),
        (2, "server at 192.168.001.1 and 8.8.8.8"),
        (3, "call +1 (555) 010-1234 or 555-010-9999 today"),
        (4, "mixed u7@example.com 10.0.0.7 +1 (555) 010-0007"),
        (5, "nothing to see here"),
    ]
    got = {r["doc_id"]: r for r in redact_pii(_df(spark, rows)).collect()}
    assert got[1]["redacted"] == "mail <EMAIL> now"
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 0
    assert got[2]["redacted"] == "server at <IP> and <IP>"
    assert got[2]["n_ips"] == 2
    assert got[3]["redacted"] == "call <PHONE> or <PHONE> today"
    assert got[3]["n_phones"] == 2
    assert got[4]["n_emails"] == 1 and got[4]["n_ips"] == 1
    assert got[4]["n_phones"] == 1
    assert "<EMAIL>" in got[4]["redacted"] and "<IP>" in got[4]["redacted"]
    assert got[5]["redacted"] == rows[4][1]
    assert got[5]["n_emails"] == got[5]["n_ips"] == got[5]["n_phones"] == 0


def test_redaction_order_ip_before_phone(spark):
    # the dotted IP must become <IP>, not get swallowed by the phone
    # pattern's digit-run
    out = redact_pii(_df(spark, [(1, "x 10.20.30.40 y")])).collect()[0]
    assert out["redacted"] == "x <IP> y"
    assert out["n_ips"] == 1 and out["n_phones"] == 0


def test_strip_html(spark):
    rows = [
        (1, '<div id="a"><p>hello <b>world</b></p></div>'),
        (2, "tom &amp; jerry say &lt;hi&gt; &quot;loud&quot;"),
        (3, "no  markup\t just\n whitespace"),
    ]
    got = {r["doc_id"]: r["clean"] for r in strip_html(_df(spark, rows)).collect()}
    assert got[1] == "hello world"
    assert got[2] == 'tom & jerry say <hi> "loud"'
    assert got[3] == "no markup just whitespace"


def _py_rep(text, n=3):
    w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    grams = [" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))]
    from collections import Counter

    c = Counter(grams)
    tot, dst = sum(c.values()), len(c)
    return tot, dst, 1 - dst / tot, max(c.values()) / tot


@pytest.mark.parametrize(
    "text",
    [
        "the cat sat the cat sat the cat sat on the mat",
        "a b c d e f g",
        "x x x x x x x x x x",
        "one two",
    ],
)
def test_repetition_ratio_matches_python(spark, text):
    out = repetition_ratio(_df(spark, [(1, text)])).collect()[0]
    tot, dst, dup, top = _py_rep(text)
    assert out["n_grams"] == tot and out["n_distinct"] == dst
    assert abs(out["dup_ratio"] - dup) < 1e-12
    assert abs(out["top_gram_frac"] - top) < 1e-12


def test_textclean_plans_jvm_only(spark):
    df = _df(spark, [(1, "a b c a b c")])
    for op in (redact_pii, strip_html, repetition_ratio):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
