"""PII scrub (operators/pii.pii_scan): DuckDB-twin parity on planted
PII (strict compare — the patterns are the Java/RE2 common subset, so
both engines must agree exactly), idempotence, and the exact char
gate."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.pii import PII_PATTERNS, pii_scan
from aws_payment_data_lake_spark.sources import load

_PLANTED = [
    (1, "contact a.b@x.co or c@d.org for help"),
    (2, "server at 10.0.0.255 answered"),
    (3, "ssn 123-45-6789 leaked with phone +1 555 123 4567"),
    (4, "clean text with w123 tokens and no pii at all"),
    (5, "overlap: mail me@host.org from 192.168.1.1 at 555-123-4567"),
    (6, ""),
]


def _twin(rows):
    """Consume-in-order twin: each type counted on the text with
    earlier types already replaced (the operator's contract — an SSN
    must not also count as a phone)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    cur, counts = "text", []
    for name, pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({cur}, '{pat}')) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    profile = {r[0]: r[1:] for r in con.sql(
        f"SELECT doc_id, {', '.join(counts)} FROM d ORDER BY doc_id"
    ).fetchall()}
    redacted = dict(con.sql(
        f"SELECT doc_id, {cur} FROM d ORDER BY doc_id").fetchall())
    return profile, redacted


def test_profile_and_redaction_match_duckdb_twin(spark):
    df = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    want_prof, want_red = _twin(_PLANTED)

    got_prof = {r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_ssn"],
                              r["n_phone"])
                for r in pii_scan(df).collect()}
    assert got_prof == want_prof
    # sanity on the planted rows themselves, not just cross-engine
    assert got_prof[1] == (2, 0, 0, 0)
    assert got_prof[4] == (0, 0, 0, 0)
    # consume-in-order: the SSN is NOT double-counted as a phone, while
    # the genuine phone on the same row still counts
    assert got_prof[3] == (0, 0, 1, 1)

    got_red = {r["doc_id"]: r["redacted_text"]
               for r in pii_scan(df).collect()}
    assert got_red == want_red
    assert "<EMAIL>" in got_red[1] and "@" not in got_red[1]
    assert "<SSN>" in got_red[3] and "<PHONE>" in got_red[3]


def test_redaction_is_idempotent(spark):
    """Scanning redacted text again finds zero PII and changes
    nothing (placeholders contain no digit or @)."""
    df = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    once = pii_scan(df).select("doc_id",
                               F.col("redacted_text").alias("text"))
    twice = pii_scan(once)
    assert twice.agg({"n_pii": "sum"}).collect()[0][0] == 0
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.select("doc_id", "redacted_text").collect()))


def test_corpus_scan_shape(spark):
    """Over the real documents table: no shuffle (one projection) and
    a well-formed result for every row."""
    import io
    from contextlib import redirect_stdout

    (docs,) = load(spark, SF_DIR, "documents")
    prof = pii_scan(docs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        prof.explain("formatted")
    assert "Exchange" not in buf.getvalue()
    assert prof.count() == docs.count()


def test_char_gate_is_exact(spark):
    """The [0-9@] pre-gate changes nothing: gated and ungated outputs
    are identical on a mix of planted-PII and clean docs (every
    pattern needs a digit or @, so the gate is exact by construction)."""
    rows = [(1, "call me at +1 415-555-0188 or a@b.co"),
            (2, "clean prose with no personal data at all"),
            (3, "ssn 123-45-6789 and ip 10.0.0.1"),
            (4, "digits 123 but no pii shape x")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    gated = pii_scan(docs, char_gate=True).collect()
    raw = pii_scan(docs, char_gate=False).collect()
    assert sorted(map(tuple, gated)) == sorted(map(tuple, raw))
