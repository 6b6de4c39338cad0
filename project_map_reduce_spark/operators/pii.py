"""PII scrubbing expressions for training-data pipelines.

Identifier columns are pseudonymized and display fields masked before
the data ever reaches a trainer (the C4 / CCNet / Dolma pipelines all
carry such a stage). Both are pure Column expressions — JVM-side
``regexp_replace`` / ``md5`` inside whole-stage codegen, no Python
UDF, no shuffle — so a scrub pass over 100 TB is a narrow map stacked
onto the scan with zero exchange (Q69 ``q_pii_mask``).

The reference engine has no scrub stage at all — its payloads go to
workers verbatim (SURVEY.md §3.3) — so this module is part of the
north-star LLM-pipeline extension surface, not reference parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mask_digits(col: Column | str, mask: str = "*") -> Column:
    """Mask every digit — the character-preserving redaction used for
    display fields (account numbers, name suffixes)."""
    return F.regexp_replace(col, r"[0-9]", mask)


def pseudonymize(col: Column | str) -> Column:
    """Stable pseudonym for an identifier: md5 hex digest.

    Deterministic tokenization — the same identifier always maps to the
    same pseudonym, so joins on the pseudonym still work downstream
    (GDPR-style "pseudonymisation", not anonymisation). Salted variants
    would concat a secret before hashing; the fixture contract needs
    the unsalted form so the DuckDB oracle reproduces it.
    """
    return F.md5(col)
