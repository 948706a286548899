"""PII detection and scrubbing for training-data curation.

Regex-only (patterns chosen to behave identically under Java regex and
RE2 — no backreferences or lookarounds), so detection counts and
redaction run map-side in whole-stage codegen: no UDF, no shuffle,
linear at any corpus size.  The standard pre-training hygiene pass:
count hits per class for audit, replace with typed placeholder tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# class → (pattern, replacement token); order matters — emails before
# cards (digits inside an address must not match), cards before phones
# (13-19 digit runs would otherwise be eaten by the shorter phone rule)
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"[0-9](?:[ -]?[0-9]){12,18}", "<CARD>"),
    ("phone", r"\+?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def luhn_valid(digits):
    """Luhn checksum over a digit-only string column — pure higher-order
    column expression (reverse → per-char doubling of every second digit
    → sum mod 10), so validation stays map-side in codegen.  The DuckDB
    twin is the same arithmetic with 1-based lambda indexes."""
    chars = F.reverse(
        F.filter(F.split(digits, "(?!^)"), lambda c: c != F.lit(""))
    )
    vals = F.transform(
        chars,
        lambda c, i: F.when(
            i % 2 == 1,
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(
                c.cast("int") * 2
            ),
        ).otherwise(c.cast("int")),
    )
    total = F.aggregate(vals, F.lit(0), lambda a, x: a + x)
    return total % 10 == 0


def with_pii_counts(docs: DataFrame) -> DataFrame:
    """Per-document PII hit counts (audit pass before scrubbing), plus
    ``n_card_valid`` — card-pattern hits that also pass the Luhn check
    (the scrubber redacts ALL card-shaped runs; the audit separates
    checksum-valid ones because they carry the actual leak risk)."""
    cols = [F.col("doc_id")]
    for name, pattern, _ in PII_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
    card_pattern = dict((n, p) for n, p, _ in PII_PATTERNS)["card"]
    cands = F.regexp_extract_all(F.col("text"), F.lit(card_pattern), F.lit(0))
    normalised = F.transform(
        cands, lambda x: F.regexp_replace(x, "[ -]", "")
    )
    cols.append(
        F.size(F.filter(normalised, luhn_valid)).cast("long").alias("n_card_valid")
    )
    return docs.select(*cols)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Replace every PII hit with its typed placeholder token."""
    scrubbed = F.col("text")
    for _, pattern, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pattern, token)
    return docs.withColumn("scrubbed_text", scrubbed)
