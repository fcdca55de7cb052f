"""N-gram language-model quality scoring: the CCNet/Gopher-style
perplexity filter (public refs: Wenzek et al. 2019 "CCNet", arXiv
1911.00359, which filters Common Crawl by KenLM perplexity; Rae et al.
2021 "Gopher", arXiv 2112.11446). A corpus-trained add-one-smoothed
bigram LM scores every document's mean token log-probability; low
scores (high perplexity proxy) flag boilerplate, gibberish and
non-prose — the standard pretraining quality gate.

Spark-first shape, no UDFs anywhere:
  train  two hash aggregations over the exploded token/bigram streams
         (map-side combinable; output ∝ vocabulary, not corpus) plus a
         one-row totals frame (V, T) carried by broadcast crossJoin —
         no driver collect, the whole plan stays lazy.
  score  bigrams are built ROW-LOCALLY (arrays_zip of two shifted
         slices — no window, no per-doc shuffle), exploded, joined to
         the count tables on their keys, and aggregated back per doc.

100 TB cost model: the two training aggs shuffle token keys once; the
scoring join shuffles the token stream by bigram key against a count
table whose size is the distinct-bigram count (Heaps-law-bounded, and
prunable: ``prune_min_count`` drops rare bigrams so the count table
broadcasts — pruned bigrams honestly fall back to the unseen add-one
probability, trading a bounded score shift for a shuffle-free join;
the classic pruned-KenLM deployment).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aws_payment_data_lake_spark.operators.spread import spread_narrow_scan


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(id_col, F.split(F.col(text_col), " ").alias("tk"))


def train_bigram_lm(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", prune_min_count: int = 1,
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigrams, bigrams, totals): c(w); c(prev, w) with count >=
    prune_min_count; and a one-row (vocab_size V, total_tokens T)."""
    tok = _tokens(spread_narrow_scan(docs, id_col), id_col, text_col)
    uni = (tok.select(F.explode("tk").alias("w"))
           .groupBy("w").agg(F.count("*").alias("c_w")))
    big = (
        tok.select(F.explode(F.arrays_zip(
            F.slice("tk", 1, F.size("tk") - 1),
            F.slice("tk", 2, F.size("tk") - 1))).alias("p"))
        .select(F.col("p.0").alias("prev"), F.col("p.1").alias("w"))
        .groupBy("prev", "w").agg(F.count("*").alias("c_bg"))
        .where(F.col("c_bg") >= prune_min_count)
    )
    totals = uni.agg(F.count("*").alias("V"),
                     F.sum("c_w").cast("long").alias("T"))
    return uni, big, totals


def lm_perplexity(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", prune_min_count: int = 1,
                  lm: tuple[DataFrame, DataFrame, DataFrame] | None = None,
                  ) -> DataFrame:
    """Per-document add-one bigram LM score: (id, n_tokens,
    avg_logprob, ppl_proxy). The first token scores against the unigram
    distribution, every later token against P(w | prev) =
    (c(prev,w)+1) / (c(prev)+V). ``ppl_proxy`` = exp(-avg_logprob) —
    low is fluent, high is junk. Pass ``lm`` (from `train_bigram_lm`,
    possibly over a DIFFERENT reference corpus — the CCNet deployment
    scores crawl text under a Wikipedia-trained LM) to decouple
    training from scoring; defaults to self-trained."""
    uni, big, totals = (lm if lm is not None
                        else train_bigram_lm(docs, id_col, text_col,
                                             prune_min_count))
    tok = _tokens(spread_narrow_scan(docs, id_col), id_col, text_col)

    first = (tok.select(id_col, F.element_at("tk", 1).alias("w"))
             .join(uni, "w", "left")
             .crossJoin(F.broadcast(totals))
             .select(id_col, F.log((F.coalesce("c_w", F.lit(0)) + 1)
                                   / (F.col("T") + F.col("V")))
                     .alias("logprob")))
    pairs = (
        tok.select(id_col, F.explode(F.arrays_zip(
            F.slice("tk", 1, F.size("tk") - 1),
            F.slice("tk", 2, F.size("tk") - 1))).alias("p"))
        .select(id_col, F.col("p.0").alias("prev"), F.col("p.1").alias("w"))
    )
    rest = (
        pairs.join(big, ["prev", "w"], "left")
        .join(uni.select(F.col("w").alias("prev"),
                         F.col("c_w").alias("c_prev")), "prev", "left")
        .crossJoin(F.broadcast(totals))
        .select(id_col,
                F.log((F.coalesce("c_bg", F.lit(0)) + 1)
                      / (F.coalesce("c_prev", F.lit(0)) + F.col("V")))
                .alias("logprob"))
    )
    return (
        first.unionByName(rest)
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.avg("logprob").alias("_avg"))
        .select(id_col, "n_tokens",
                F.round("_avg", 6).alias("avg_logprob"),
                F.round(F.exp(-F.col("_avg")), 4).alias("ppl_proxy"))
    )
