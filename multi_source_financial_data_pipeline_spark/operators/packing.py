"""Sequence packing for LLM pretraining: concatenate documents in a
deterministic order and chunk the token stream into fixed-length training
sequences ("concat-and-chunk", the standard GPT-style packing).

Why this formulation and not greedy bin packing: a greedy packer's bin state
makes each placement depend on every earlier placement — inherently serial,
not expressible as a distributed plan without a stateful single pass.
Concat-and-chunk placement depends ONLY on the prefix sum of token counts
before the document, so it is one window cumsum per shard: a single hash
exchange + per-partition sort, linear at any corpus size, no Python, no
driver state. Shards bound each window partition and map 1:1 onto the
shard files a trainer would read.

Shard granularity IS the scale knob: a window partitioned by a handful of
coarse shards (e.g. `source` alone) funnels every row of a shard through
one task's sort. Callers at scale pass a COMPOSITE shard key — e.g.
(source, md5(doc_id) % N) — so partition size is corpus_size/(|sources|·N)
and N grows with the corpus. Packing semantics stay deterministic because
the sub-shard is a pure function of the row key.

Output per document: its absolute token offset in the shard stream, the
first/last training sequence it lands in, and how many sequences it spans —
everything a downstream writer needs to materialize packed sequences with
document-boundary metadata (for attention-mask resets at doc boundaries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def concat_chunk_packing(
    df: DataFrame,
    seq_len: int,
    tokens: Column,
    shard_col: str | list[str] = "source",
) -> DataFrame:
    """Assign each document its packed position under per-shard
    concatenate-and-chunk with sequence length ``seq_len``.

    `tokens` is the per-row token count expression (kept caller-supplied so
    the tokenizer convention matches the rest of the pipeline). `shard_col`
    may be a list — pass a composite (coarse key, hash sub-shard) at scale
    (see module docstring). Offsets use integer DIV, exact for any corpus
    size a BIGINT can count.
    """
    shard_cols = [shard_col] if isinstance(shard_col, str) else list(shard_col)
    w = (
        Window.partitionBy(*shard_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.select(
        "doc_id", *shard_cols, tokens.cast("long").alias("n_tokens")
    ).withColumn("end_offset", F.sum("n_tokens").over(w))
    start = F.col("end_offset") - F.col("n_tokens")
    return out.select(
        "doc_id",
        *shard_cols,
        "n_tokens",
        start.alias("start_offset"),
        F.expr(f"(end_offset - n_tokens) DIV {seq_len}").alias("first_seq"),
        F.expr(f"(end_offset - 1) DIV {seq_len}").alias("last_seq"),
        (
            F.expr(f"(end_offset - 1) DIV {seq_len}")
            - F.expr(f"(end_offset - n_tokens) DIV {seq_len}")
            + F.lit(1)
        )
        .cast("long")
        .alias("n_seqs_spanned"),
    )
