"""PII masking transform — capability parity with the reference's
pii-detection stateful function.

The reference masks the *entire serialized message JSON* with two regexes
(PiiDetector.java:15-18: SSN ``\\d{3}-\\d{2}-\\d{4}``, US phone
``[2-9]\\d{2}-\\d{3}-\\d{4}``; applied in PiiDetector.maskPII), replacing
matches with ``###``. Here the same regexes are Catalyst ``regexp_replace``
expressions (JVM-side, codegen'd) applicable to a single column, every
string column, or a whole row serialized with to_json — the last mirrors
the reference exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SSN_RE = r"\d{3}-\d{2}-\d{4}"
PHONE_RE = r"[2-9]\d{2}-\d{3}-\d{4}"
MASK = "###"


def mask_pii_col(col: Column | str) -> Column:
    """Mask SSN + US-phone patterns in one string column (A23 regexes,
    applied in the reference's order: SSN first, then phone)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, SSN_RE, MASK), PHONE_RE, MASK
    )


def mask_pii_strings(df: DataFrame) -> DataFrame:
    """Mask every string column in place — the columnar equivalent of the
    reference's whole-message masking (schema survives, unlike masking the
    serialized JSON, which could corrupt it if keys matched the patterns)."""
    out = df
    for name, dtype in df.dtypes:
        if dtype == "string":
            out = out.withColumn(name, mask_pii_col(name))
    return out


# -- extended detectors (capability-plus over the reference's two regexes) --

EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
CARD_RE = r"\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}"


def luhn_valid(digit_str: Column) -> Column:
    """Luhn checksum over a digits-only string — pure Catalyst (transform
    with index + aggregate), no UDF. Position counts from the RIGHT; every
    second digit doubles, >9 subtracts 9, total must divide by 10."""
    ds = F.split(digit_str, "")
    n = F.size(ds)
    vals = F.transform(
        ds,
        lambda ch, i: F.when(
            ((n - 1 - i) % 2) == 1,
            F.when(
                (F.ascii(ch) - 48) * 2 > 9, (F.ascii(ch) - 48) * 2 - 9
            ).otherwise((F.ascii(ch) - 48) * 2),
        ).otherwise(F.ascii(ch) - 48),
    )
    total = F.aggregate(vals, F.lit(0), lambda a, b: a + b)
    return (n > 0) & (total % 10 == 0)


def mask_credit_cards(col: Column | str) -> Column:
    """Mask 16-digit card numbers ONLY when the Luhn checksum validates —
    the precision upgrade a bare regex can't give (random 16-digit ids
    survive; real PANs don't). Candidates come from one
    regexp_extract_all pass; each valid candidate folds through a literal
    replace. Distinct candidates are non-overlapping patterns, so fold
    order can't change the result."""
    c = F.col(col) if isinstance(col, str) else col
    cands = F.array_distinct(F.regexp_extract_all(c, F.lit(CARD_RE), F.lit(0)))
    return F.aggregate(
        cands,
        c,
        lambda acc, cand: F.when(
            luhn_valid(F.regexp_replace(cand, "[^0-9]", "")),
            F.replace(acc, cand, F.lit(MASK)),
        ).otherwise(acc),
    )


def mask_pii_extended(col: Column | str) -> Column:
    """Full masking chain: Luhn-checked cards, then emails, then IPv4,
    then the reference's SSN + phone regexes — deterministic order, all
    JVM-side expressions."""
    c = F.col(col) if isinstance(col, str) else col
    out = mask_credit_cards(c)
    out = F.regexp_replace(out, EMAIL_RE, MASK)
    out = F.regexp_replace(out, IPV4_RE, MASK)
    return mask_pii_col(out)
