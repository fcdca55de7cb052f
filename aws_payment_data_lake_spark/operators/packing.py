"""Training-shard packing: assign documents to ~fixed-token-budget
shards, the step between a curated corpus and a training dataloader.

Greedy packing is inherently sequential, so the scale shape is
stream-parallel: documents hash into ``n_streams`` INDEPENDENT packing
streams (a fixed parameter, NOT the cluster's parallelism — assignments
are identical at any partition count), each stream packs in doc-id order
with one window cumsum, and a shard is the run of documents whose
stream-local starting token offset falls in [k*budget, (k+1)*budget).
Consequences of that rule (document-level packing can't hit budgets
exactly): a shard's token total can overshoot the budget by at most one
document, and the CUMULATIVE stream total through any non-final shard k
reaches (k+1)*budget — an individual shard may undershoot when its
predecessor's last document overshot into its window. One shuffle (by
stream), one windowed pass — no driver loop, no iteration.

Epoch shuffling: ``epoch_seed`` turns the within-stream order into a
seeded hash permutation (shuffle-then-pack, re-derived from the seed
each epoch — no stored permutation table to ship or go stale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _stream_order(id_col: str, epoch_seed: int | None,
                  order_exprs: list[Column] | None) -> list[Column]:
    """Within-stream packing order. Default: doc_id (stable corpus
    order). With ``epoch_seed``: a seeded hash permutation with doc_id
    tiebreak — the standard shuffle-then-pack step a training run does
    PER EPOCH (same docs, new co-packing each epoch; the seed is the
    epoch number, so any worker re-derives the order with no stored
    permutation table — nothing to ship, nothing to go stale).
    ``order_exprs`` overrides both (the driver query passes the
    md5-based cross-engine hash so DuckDB replays the permutation;
    production keeps xxhash64)."""
    if order_exprs is not None:
        return list(order_exprs)
    if epoch_seed is None:
        return [F.col(id_col)]
    return [F.xxhash64(F.lit(int(epoch_seed)), F.col(id_col)),
            F.col(id_col)]


def pack_training_shards(docs: DataFrame, token_budget: int = 512,
                         n_streams: int = 32, id_col: str = "doc_id",
                         text_col: str = "text",
                         n_tokens_expr: Column | None = None,
                         stream_expr: Column | None = None,
                         epoch_seed: int | None = None,
                         order_exprs: list[Column] | None = None
                         ) -> DataFrame:
    """One row per document: (doc_id, n_tokens, stream, shard_idx,
    shard_id) with shard_id = "<stream>-<shard_idx>".

    Tokens default to whitespace tokens (the corpus convention); pass
    ``n_tokens_expr`` to pack by any other counter. The packing shape is
    identical either way (the counter only changes the cumsum input).
    Deterministic:
    stream = xxhash64(doc_id) mod n_streams, order within stream is
    doc_id, shard boundary is the running token count BEFORE the
    document (integer arithmetic only). ``stream_expr`` overrides the
    stream hash — the registered driver query passes the repo's
    md5-based cross-engine hash so DuckDB can oracle the assignment
    exactly (xxhash64 has no DuckDB twin); production keeps the cheaper
    default."""
    n_tok = (F.size(F.split(F.col(text_col), " "))
             if n_tokens_expr is None else n_tokens_expr)
    stream = (F.pmod(F.xxhash64(id_col), F.lit(n_streams))
              if stream_expr is None else stream_expr)
    w = (Window.partitionBy("stream")
         .orderBy(*_stream_order(id_col, epoch_seed, order_exprs))
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        docs.select(id_col, n_tok.alias("n_tokens"),
                    stream.alias("stream"))
        .withColumn("tokens_before",
                    F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("shard_idx",
                    (F.col("tokens_before") / F.lit(token_budget))
                    .cast("long"))
        .select(id_col, "n_tokens", "stream", "shard_idx",
                F.concat_ws("-", "stream", "shard_idx").alias("shard_id"))
    )
