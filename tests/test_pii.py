"""operators/pii.py — masking/pseudonymization expression contracts.

The registered query (Q69 q_pii_mask) hash-checks both expressions on
the customer fixture; these pin their exact output on constructed rows.
"""

from __future__ import annotations

import hashlib

from project_map_reduce_spark.operators import pii


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "s string")
    return df.select(col.alias("out")).head()[0]


def test_mask_digits_keeps_shape(spark):
    got = _one(spark, "Customer#000000042", pii.mask_digits("s"))
    assert got == "Customer#*********"
    assert len(got) == len("Customer#000000042")


def test_pseudonymize_is_md5(spark):
    got = _one(spark, "Customer#000000042", pii.pseudonymize("s"))
    assert got == hashlib.md5(b"Customer#000000042").hexdigest()
