"""Training-sequence assembly: fixed-token document chunking and GPT-style
concat-and-chunk sequence packing.

Neither shape exists in the reference (seriesly's unit of work is one JSON
document per timestamp, `reference database.go:239-257`); both are core to
an LLM pretraining pipeline: chunking splits long documents into
overlapping context windows, packing concatenates the corpus into
fixed-length training sequences with zero padding waste.

Scale notes (100 TB):
  * ``chunk_documents`` is entirely narrow — tokenize, explode chunk
    indices, slice — no shuffle at any scale; whole-stage codegen end to
    end.
  * ``pack_sequences`` needs a running token offset, i.e. ONE window
    cumsum per packing shard. Sharding is the scale knob: the offsets are
    computed within (part_col, shard), so no single sorted partition ever
    has to hold the whole corpus — 1000 shards means 1000 independent
    streams packed in parallel, which is exactly how multi-worker
    tokenizer/packer jobs shard in practice. Within a shard the window is
    a streaming frame (rank + running sum, no buffering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seriesly_spark.functions.bucketing import idiv


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into whitespace-token chunks of
    ``chunk_tokens`` tokens advancing ``chunk_tokens - overlap`` per step
    (so consecutive chunks share ``overlap`` tokens). Every document emits
    at least one chunk; the final chunk may be short.

    Output: (id, chunk_id, start_tok, n_tok, chunk_text). Narrow plan —
    split, sequence-explode, slice all happen inside one codegen stage.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # ceil((n - overlap) / stride), floored at 1: positions 0, stride, ...
    # cover [start, start + chunk_tokens) until the end of the document.
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    start = F.col("chunk_id") * stride
    chunk = F.slice(F.col("__toks"), start + 1, chunk_tokens)
    return (
        docs.select(
            F.col(id_col), toks.alias("__toks"), n_chunks.alias("__nc")
        )
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            start.cast("bigint").alias("start_tok"),
            F.size(chunk).cast("bigint").alias("n_tok"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    part_col: str = "source",
    shards: int = 1,
) -> DataFrame:
    """Concat-and-chunk packing: within each (``part_col``, shard) stream,
    documents are laid end-to-end in ``id_col`` order and the token stream
    is cut every ``seq_len`` tokens. Emits one row per (sequence x
    document) overlap — the assignment table a sequence builder reads to
    materialize training rows.

    Output: (part, shard, seq_id, id, doc_start_tok, n_tok_in_seq) where
    ``seq_id`` numbers sequences within the (part, shard) stream,
    ``doc_start_tok`` is the offset INTO THE DOCUMENT where this
    sequence's slice begins, and ``n_tok_in_seq`` is the slice length. A
    document longer than ``seq_len`` spans several sequences; sequences
    fill completely except each stream's last.

    One hash shuffle on (part, shard) for the running-offset window;
    everything after is narrow. ``shards`` bounds the sorted partition
    size — shard = id mod shards is deterministic, and the driver oracle
    mirrors it exactly.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    w = (
        Window.partitionBy("part", "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sized = docs.select(
        F.col(part_col).alias("part"),
        (F.col(id_col) % shards).cast("bigint").alias("shard"),
        F.col(id_col),
        F.size(toks).cast("bigint").alias("__n"),
    ).withColumn("__end", F.sum("__n").over(w))
    gstart = F.col("__end") - F.col("__n")
    # idiv: exact integer floor-division — global token offsets outgrow a
    # double's 53-bit mantissa long before 100 TB of text does 2^63.
    first_seq = idiv("__gs", seq_len)
    last_seq = idiv("__end - 1", seq_len)
    seq_lo = F.col("seq_id") * seq_len
    s = F.greatest(F.col("__gs"), seq_lo)
    e = F.least(F.col("__end"), seq_lo + seq_len)
    return (
        sized.withColumn("__gs", gstart)
        .withColumn(
            "seq_id", F.explode(F.sequence(first_seq, last_seq))
        )
        .select(
            "part",
            "shard",
            "seq_id",
            id_col,
            (s - F.col("__gs")).alias("doc_start_tok"),
            (e - s).alias("n_tok_in_seq"),
        )
    )
