"""PII scrubbing operators for training-data curation.

Redaction before LLM training is a scan-shaped transform: every pattern is
a codegen `regexp_replace`/`regexp_extract_all` expression (JVM-side, no
Python), so at 100 TB it runs at parquet scan bandwidth with column
pruning. Patterns deliberately stay inside the regex subset shared by
Java's engine (Spark) and RE2 (DuckDB oracle): no lookaround, no
backreferences — which is also the subset that streams well at scale.

Parity note: the reference redacts fields by *name* via a filter plugin
(reference `stream_cdc/filters/base.py:58-98` + the integration test's
redaction filter); content-pattern scrubbing generalizes that to
free-text columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# name -> (pattern, replacement). Order matters: email first so its digits
# are not pre-mangled by the digit-run rule.
DEFAULT_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\+[0-9][0-9()\- ]{6,}[0-9]", "[PHONE]"),
    "digit_run": (r"[0-9]{3,}", "[NUM]"),
}


def redact(col: Column, patterns: dict[str, tuple[str, str]] | None = None) -> Column:
    """Apply every pattern in order; Catalyst fuses the chain into one
    codegen stage."""
    out = col
    for pattern, replacement in (patterns or DEFAULT_PATTERNS).values():
        out = F.regexp_replace(out, pattern, replacement)
    return out


def match_count(col: Column, name: str, patterns=None) -> Column:
    """How many spans the named pattern would redact (audit metric)."""
    pattern, _ = (patterns or DEFAULT_PATTERNS)[name]
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def redaction_report(
    df: DataFrame, col: str, group_by: str
) -> DataFrame:
    """Per-group audit counts: rows touched and spans redacted per pattern.

    One map-side-combinable aggregation — the audit is as cheap as the
    scrub itself.
    """
    counts = [
        F.sum(match_count(F.col(col), name)).cast("bigint").alias(f"n_{name}")
        for name in DEFAULT_PATTERNS
    ]
    touched = F.sum(
        (sum((match_count(F.col(col), n) for n in DEFAULT_PATTERNS), F.lit(0)) > 0)
        .cast("int")
    ).cast("bigint")
    return (
        df.groupBy(group_by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            touched.alias("n_rows_touched"),
            *counts,
        )
        .orderBy(group_by)
    )
