"""Property-based tests (SURVEY.md §5.2.4) over the medallion transforms.

Hypothesis drives adversarial row content through the bronze/silver
functions; each property is one the pipeline's correctness argument
leans on. Example counts are small (Spark pays ~0.5 s per example) but
the strategies bias toward the nasty region: empty strings, whitespace,
unicode, nulls, negative/huge amounts, bad timestamps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from aws_payment_data_lake_spark.plans import bronze as B
from aws_payment_data_lake_spark.plans import silver as S

SETTINGS = settings(max_examples=12, deadline=None,
                    suppress_health_check=[HealthCheck.too_slow])

maybe_text = st.one_of(
    st.none(),
    st.text(min_size=0, max_size=12),
    st.sampled_from(["  padded  ", "", "ZZZ", "usd", "PENDINGISH",
                     "Ünïcødé", "\ttab\t"]))
maybe_amount = st.one_of(
    st.none(),
    st.sampled_from(["-1.00", "0.00", "0.01", "99999999999.99", "nan",
                     "not-a-number", "1e3", " 5.00 "]),
    st.decimals(min_value=-10**6, max_value=10**6, places=2).map(str))
maybe_ts = st.one_of(
    st.none(),
    st.sampled_from(["2024-01-01T00:00:00", "2024-13-40T99:99:99",
                     "garbage", "", "2024-02-29T12:00:00"]))

row = st.tuples(maybe_text, maybe_text, maybe_text, maybe_amount,
                maybe_text, maybe_text, maybe_ts, maybe_text)

SCHEMA = T.StructType([T.StructField(n, T.StringType()) for n in
                       ("txn_id", "merchant_id", "user_id", "amount",
                        "currency", "status", "txn_ts", "country")])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@SETTINGS
@given(rows=st.lists(row, min_size=1, max_size=8))
def test_curate_status_is_total(spark, rows):
    out = S.curate_status(_df(spark, rows)).select("status_curated").collect()
    allowed = {"PENDING", "SUCCESS", "REFUNDED", "FAILED", "UNKNOWN"}
    assert all(r[0] in allowed for r in out)  # never null, never novel


@SETTINGS
@given(rows=st.lists(row, min_size=1, max_size=8))
def test_validation_split_partitions_bronze(spark, rows):
    df = B.cast_dtypes(_df(spark, rows))
    n = df.count()
    n_valid = S.validate(df).count()
    n_audit = S.audit(df).count()
    assert n_valid + n_audit == n  # audit ∪ silver = bronze, disjoint


@SETTINGS
@given(rows=st.lists(row, min_size=1, max_size=8))
def test_bronze_never_throws_and_dedup_idempotent(spark, rows):
    out = B.run_bronze(_df(spark, rows))
    once = out.collect()  # ANSI mode: try_* casts must absorb any input
    again = B.deduplicate(out).collect()
    key = repr  # rows contain None: not orderable natively
    assert sorted(map(tuple, once), key=key) == sorted(map(tuple, again), key=key)


@SETTINGS
@given(rows=st.lists(row, min_size=1, max_size=8))
def test_normalise_idempotent(spark, rows):
    df = _df(spark, rows)
    one = B.normalise_strings(df)
    two = B.normalise_strings(one)
    assert sorted(map(tuple, one.collect()), key=repr) == \
        sorted(map(tuple, two.collect()), key=repr)


# ---------------------------------------------------------------------------
# Round-3 operator properties: quantization, salted join, resize,
# connected components — each a correctness invariant the scale path
# leans on, driven through adversarial small inputs.
# ---------------------------------------------------------------------------

vec = st.lists(
    st.one_of(st.floats(min_value=-1e3, max_value=1e3,
                        allow_nan=False, allow_infinity=False),
              st.sampled_from([0.0, -0.0, 1e-30, -1e-30])),
    min_size=4, max_size=4)


@SETTINGS
@given(edges=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1, max_size=12))
def test_connected_components_matches_union_find(spark, edges):
    """Star-contraction output == a driver-side union-find oracle for
    ANY small graph (self-loops, duplicates, arbitrary orientation)."""
    from aws_payment_data_lake_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: (r.canonical_doc_id, r.group_size)
           for r in connected_components(df).collect()}

    real = [e for e in edges if e[0] != e[1]]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    want = {n: (root, len(members))
            for root, members in comps.items() for n in members}
    assert got == want


token = st.text(alphabet="abcxyz0", min_size=1, max_size=4)


@SETTINGS
@given(st.lists(st.lists(token, min_size=0, max_size=12),
                min_size=1, max_size=6),
       st.integers(min_value=2, max_value=8))
def test_word_ngrams_matches_python_reference(spark, docs, n):
    """functions.text.word_ngrams (the incremental zip_with build that
    now backs shingles, the repetition profile, and decontamination)
    == the obvious Python sliding window, for arbitrary token lists
    and n in 2..8 — including docs shorter than n (empty result) and
    single-token/empty docs."""
    from aws_payment_data_lake_spark.functions import word_ngrams

    df = spark.createDataFrame(
        [(i, " ".join(tks)) for i, tks in enumerate(docs)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", word_ngrams(F.split("text", " "), n).alias("g")).collect()}
    for i, tks in enumerate(docs):
        # split(" ") of "" yields [""], of "a" yields ["a"] — mirror it
        toks = " ".join(tks).split(" ")
        want = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        assert got[i] == want, (i, toks, n)


@SETTINGS
@given(st.lists(st.lists(token, min_size=0, max_size=30),
                min_size=1, max_size=5),
       st.integers(min_value=1, max_value=10),
       st.integers(min_value=1, max_value=10))
def test_chunking_matches_python_reference(spark, docs, stride, extra):
    """operators.chunking.chunk_documents == the obvious Python sliding
    window for arbitrary token lists and any 1 <= stride <= window —
    including docs shorter than the window, exact-multiple lengths, and
    the trailing-chunk drop rule."""
    from aws_payment_data_lake_spark.operators.chunking import (
        chunk_documents,
    )

    window = stride + extra - 1  # any window >= stride
    df = spark.createDataFrame(
        [(i, " ".join(tks)) for i, tks in enumerate(docs)],
        "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, window, stride).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_token"], r["n_chunk_tokens"],
             r["chunk_text"]))
    for i, tks in enumerate(docs):
        toks = " ".join(tks).split(" ")  # mirror split(" ") semantics
        want = []
        for start in range(0, len(toks), stride):
            if start > 0 and start + window - stride >= len(toks):
                continue
            piece = toks[start:start + window]
            want.append((start // stride, start, len(piece),
                         " ".join(piece)))
        assert sorted(got.get(i, [])) == want, (i, toks, window, stride)


@SETTINGS
@given(ivs=st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 15)).map(
        lambda t: (t[0], t[0] + t[1])),
    min_size=0, max_size=12))
def test_merge_spans_matches_python_reference(spark, ivs):
    """merge_spans (the array-local fold under span dedup + decontam
    scrub): output must be sorted, pairwise-disjoint with gaps >= 1,
    and cover exactly the union of the inputs (adjacent intervals
    merge — a zero-length gap cannot survive)."""
    from aws_payment_data_lake_spark.functions.spans import merge_spans

    df = spark.createDataFrame(
        [(sorted(ivs),)], "ivs: array<struct<s: int, e: int>>")
    (got,) = df.select(merge_spans(F.col("ivs")).alias("m")).collect()
    merged = [(iv["s"], iv["e"]) for iv in got["m"]]

    # python reference: union of covered points, grouped into runs
    covered = sorted({p for s, e in ivs for p in range(s, e + 1)})
    runs, start = [], None
    for i, p in enumerate(covered):
        if start is None:
            start = p
        if i + 1 == len(covered) or covered[i + 1] > p + 1:
            runs.append((start, p))
            start = None
    assert merged == runs


@SETTINGS
@given(n_tok=st.integers(1, 30),
       ivs=st.lists(st.tuples(st.integers(0, 29), st.integers(0, 6)).map(
           lambda t: (t[0], t[0] + t[1])), min_size=0, max_size=5))
def test_split_by_spans_complement_property(spark, n_tok, ivs):
    """split_tokens_by_spans: surviving pieces are exactly the
    complement of the merged spans — no removed token survives, no
    kept token vanishes, and piece texts are the original tokens."""
    from aws_payment_data_lake_spark.functions.spans import (
        merge_spans,
        split_tokens_by_spans,
    )

    # contract: spans derive from real window positions, always inside
    # the doc — clamp the generated intervals to the token range
    ivs = [(s, min(e, n_tok - 1)) for s, e in ivs if s < n_tok]
    toks = [f"t{i}" for i in range(n_tok)]
    df = (spark.createDataFrame(
        [(1, toks, sorted(ivs))],
        "doc_id: long, tk: array<string>, raw: array<struct<s: int, e: int>>")
        .select("doc_id", "tk", merge_spans(F.col("raw")).alias("spans")))
    pieces = split_tokens_by_spans(df, "text").collect()

    removed = {p for s, e in ivs for p in range(s, e + 1)}
    kept = [i for i in range(n_tok) if i not in removed]
    got_tokens = [t for r in sorted(pieces, key=lambda r: r["segment_idx"])
                  for t in r["text"].split(" ")]
    assert got_tokens == [toks[i] for i in kept]
    assert all(r["n_tokens"] == len(r["text"].split(" ")) for r in pieces)
