"""operators/pii.py — redaction/pseudonymization expression contracts.

The registered query (Q69 q_pii_mask) exercises digit masking and
pseudonymization on the customer fixture; the synthetic corpus contains
no emails/IPs/phone strings, so those redactors are contracted here on
constructed rows instead.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from project_map_reduce_spark.operators import pii
from tools.plan_rules import formatted_plan


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "s string")
    return df.select(col.alias("out")).head()[0]


def test_redact_emails(spark):
    got = _one(
        spark,
        "mail bob.smith+tag@example.co.uk or ops@sub.domain.io now",
        pii.redact_emails("s"),
    )
    assert got == "mail <EMAIL> or <EMAIL> now"


def test_redact_ipv4(spark):
    got = _one(
        spark, "from 10.0.0.1 to 192.168.255.12, not 1.2.3", pii.redact_ipv4("s")
    )
    assert got == "from <IP> to <IP>, not 1.2.3"


def test_redact_phones(spark):
    got = _one(
        spark,
        "call 25-989-741-2988 or +972 54-123-4567 x",
        pii.redact_phones("s"),
    )
    assert got == "call <PHONE> or +972 <PHONE> x"


def test_count_matches_and_null(spark):
    df = spark.createDataFrame(
        [("a@b.io c@d.net",), (None,), ("none here",)], "s string"
    )
    got = [
        r[0]
        for r in df.select(pii.count_matches("s", pii.EMAIL_RE)).collect()
    ]
    assert got == [2, None, 0]


def test_mask_digits_keeps_shape(spark):
    got = _one(spark, "Customer#000000042", pii.mask_digits("s"))
    assert got == "Customer#*********"
    assert len(got) == len("Customer#000000042")


def test_pseudonymize_is_md5(spark):
    got = _one(spark, "Customer#000000042", pii.pseudonymize("s"))
    assert got == hashlib.md5(b"Customer#000000042").hexdigest()


def test_redactors_compose_in_one_projection(spark):
    """A full scrub = stacked regexp_replace in ONE narrow projection —
    no shuffle, no UDF (the property the 100 TB gate depends on)."""
    df = spark.createDataFrame(
        [("bob@x.io at 10.0.0.1 ph 25-989-741-2988",)], "s string"
    )
    out = df.select(
        pii.redact_phones(pii.redact_ipv4(pii.redact_emails("s"))).alias("s")
    )
    assert out.head()[0] == "<EMAIL> at <IP> ph <PHONE>"
    plan = formatted_plan(out)
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
