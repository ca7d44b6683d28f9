"""PII detection and redaction for training-data curation.

The Dolma/C4-style hygiene pass (public: Soldaini et al. 2024 §2.3
mask emails/phones/IPs; C4 dropped pages on pattern hits): count and
mask email addresses, phone numbers, and IPv4 addresses with
documented regexes.  Pure ``regexp_count`` / ``regexp_replace`` —
one narrow codegen'd projection, zero shuffle, no Python.

Pattern contract (kept to the regex subset Java, RE2, and DuckDB all
agree on — no lookaround, no backrefs — so the DuckDB oracle runs the
identical patterns):

- EMAIL: ``[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}``
- PHONE: international-ish ``\\+?\\d{1,3}[- .]\\d{3}[- .]\\d{3,4}[- .]?\\d{0,4}``
  intentionally loose — a recall-leaning curation filter, not a
  validator (the reference's `format` tier owns strict syntax).
- IPV4:  dotted quad with 0-255 octets enforced arithmetically
  (``(25[0-5]|2[0-4]\\d|1?\\d?\\d)`` per octet), word-bounded.

These are deliberately SIMPLE, deterministic patterns: real pipelines
swap in model-based NER behind the same column-in/column-out seam.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\+?\d{1,3}[- .]\d{3}[- .]\d{3,4}[- .]?\d{0,4}"
_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
IPV4_RX = rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b"

PII_PATTERNS = {"email": EMAIL_RX, "phone": PHONE_RX, "ipv4": IPV4_RX}
#: replacement tokens, Dolma-style
PII_TOKENS = {"email": "|||EMAIL|||", "phone": "|||PHONE|||",
              "ipv4": "|||IP|||"}


def pii_counts(text: Column) -> Column:
    """Struct of per-type PII match counts (0 for NULL text)."""
    return F.struct(*[
        F.coalesce(F.regexp_count(text, F.lit(rx)), F.lit(0))
         .cast("long").alias(f"n_{name}")
        for name, rx in PII_PATTERNS.items()
    ])


def redact_pii(text: Column,
               tokens: dict[str, str] | None = None) -> Column:
    """Replace every PII match with its type token.  Email first:
    the phone pattern could otherwise eat digit runs inside an
    already-masked email's domain remnant."""
    tokens = tokens or PII_TOKENS
    out = text
    for name, rx in PII_PATTERNS.items():
        out = F.regexp_replace(out, rx, tokens[name])
    return out


def pii_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-row PII profile: counts per type + total + redacted text.
    One zero-shuffle projection."""
    t = F.col(text_col)
    c = pii_counts(t)
    total = sum((c.getField(f"n_{n}") for n in PII_PATTERNS),
                F.lit(0).cast("long"))
    return df.select(
        F.col(id_col),
        *[c.getField(f"n_{n}").alias(f"n_{n}") for n in PII_PATTERNS],
        total.alias("n_pii"),
        redact_pii(t).alias("redacted"))
