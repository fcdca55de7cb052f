"""PII detection and redaction: the pre-training privacy scrub.

Public precedent: every released web corpus pipeline carries a
regex-tier PII pass (C4's line filters, RefinedWeb/Falcon §"PII
removal", BigCode/StarCoder's PII redaction of emails/IPs/keys before
training). This is that stage, Spark-first: per-type detection counts
and in-place redaction with typed placeholder tokens, all row-local
``regexp_count`` / ``regexp_replace`` — JVM-side, whole-stage codegen,
zero shuffles, linear scan bandwidth at any corpus size.

Pattern dialect: the patterns use only the Java-regex / RE2 COMMON
SUBSET (no backreferences, no lookaround), so a DuckDB twin evaluates
the identical semantics — parity is pytest-asserted on planted PII
(tests/test_pii.py), the same strict-comparator strategy as the LM
gate. Regex PII detection is heuristic by nature (the documented
contract): precision-biased patterns, no dictionary NER — a model-based
pass at 100 TB slots in behind the same (doc_id, text) -> (doc_id,
text) seam.

Redaction order is fixed (email, ipv4, ssn, phone) and ORDER MATTERS:
the phone pattern is the broadest digit-run matcher, so structured
types must be consumed before it; applying the chain in one
``reduce``d expression keeps the whole scrub a single projection.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# (type, pattern, placeholder) — Java/RE2 common subset only.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\+?\d[\d -]{7,14}\d\b", "<PHONE>"),
)


# every pattern requires a digit or '@' (email's mandatory @; ipv4/
# ssn/phone digit bodies), so this single cheap character-class test
# is an EXACT pre-gate: a doc failing it cannot match any pattern
_GATE_RE = "[0-9@]"


def _count_and_redact(col: Column) -> tuple[dict[str, Column], Column]:
    """(per-type counts, fully redacted text), with CONSUME-IN-ORDER
    counting: each type is counted on the text with earlier types
    already replaced, so the counts describe exactly what the
    redaction chain consumes. Counting every pattern on the raw text
    instead double-counts — an SSN's digits-and-dashes body also
    matches the broad phone pattern, so 'ssn 123-45-6789' would report
    a phantom phone (review r7 finding); placeholders contain no
    digits, so a consumed match can never re-match a later pattern."""
    counts: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"n_{name}"] = F.regexp_count(col, F.lit(pat))
        col = F.regexp_replace(col, pat, repl)
    return counts, col


def pii_scan(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text",
             char_gate: bool = False) -> DataFrame:
    """Profile AND redacted text in ONE projection (the benched shape:
    profile + redact as separate frames joined back would scan and
    regex the corpus twice and add a corpus-sized shuffle). Per-type
    consumed-match counts (n_email, n_ipv4, n_ssn, n_phone — see
    _count_and_redact for the ordering contract), the n_pii total, the
    has_pii flag, and ``redacted_<text_col>``.

    ``char_gate`` (opt-in) wraps each output in the exact [0-9@]
    pre-test. MEASURED before defaulting: on a 90% digit-bearing corpus
    (sf1.0) the gated form ran 3.5x SLOWER (20.3 vs 5.9 s) — the
    per-column CASE wrappers defeat whole-stage-codegen subexpression
    sharing across the chained counts. Enable only for corpora known
    digit-sparse."""
    gate = F.col(text_col).rlike(_GATE_RE)
    counts, redacted = _count_and_redact(F.col(text_col))
    if char_gate:
        counts = {n: F.when(gate, c).otherwise(F.lit(0))
                  for n, c in counts.items()}
        redacted = F.when(gate, redacted).otherwise(F.col(text_col))
    total = reduce(lambda a, b: a + b, counts.values())
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[c.cast("long").alias(n) for n, c in counts.items()],
        total.cast("long").alias("n_pii"),
        (total > 0).alias("has_pii"),
        redacted.alias(f"redacted_{text_col}"))
