"""Training-sequence packing: assign documents to fixed-size context
windows (the concatenate-then-chunk layout GPT-style pre-training uses).

Documents are laid out in a deterministic order (doc_id) within each
source stream; a running token total places every document at an
absolute offset, from which its context-window id and in-window offset
follow arithmetically.  Everything is one window function over
(source, doc_id) — a single shuffle on ``source``, no driver state, and
the assignment is a pure function of the input (stable under
repartitioning, unlike any accumulate-in-a-loop packer).

Scale note: parallelism is bounded by the number of pack streams.  With
``n_salts > 1`` each source shards into deterministic sub-streams
(``salt = doc_id mod n_salts``) that pack independently — any
deterministic partition of documents into streams is a valid training
layout, and the window then parallelises across sources × salts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from puma_matcher_spark.llmdata.textstats import tokens


def sequence_packing(
    docs: DataFrame,
    ctx_len: int = 512,
    n_salts: int = 1,
) -> DataFrame:
    """Per-document packing assignment: (doc_id, source, n_tokens,
    pack_id, pack_offset, n_packs_spanned).

    ``pack_id`` is the context window the document STARTS in,
    ``pack_offset`` its token offset inside that window, and
    ``n_packs_spanned`` how many windows it crosses (documents longer
    than the remaining window space wrap — chunking semantics, no
    padding waste).

    ``n_salts > 1`` is the 100 TB parallelism path: each source splits
    into ``doc_id % n_salts`` sub-streams packed independently (pack_id
    is then unique per (source, stream_salt)); the assignment stays a
    pure function of the input.
    """
    n_tok = F.size(tokens(F.lower(F.col("text"))))
    base = docs.select("doc_id", "source", n_tok.cast("long").alias("n_tokens"))
    if n_salts > 1:
        base = base.withColumn(
            "stream_salt", F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int")
        )
        w = Window.partitionBy("source", "stream_salt").orderBy("doc_id")
    else:
        w = Window.partitionBy("source").orderBy("doc_id")
    out = base.withColumn("_end", F.sum("n_tokens").over(w))
    start = F.col("_end") - F.col("n_tokens")
    cols = ["doc_id", "source"] + (["stream_salt"] if n_salts > 1 else [])
    return out.select(
        *cols,
        F.col("n_tokens"),
        F.floor(start / ctx_len).cast("long").alias("pack_id"),
        (start % ctx_len).cast("long").alias("pack_offset"),
        (
            F.floor((F.col("_end") - 1) / ctx_len) - F.floor(start / ctx_len) + 1
        ).cast("long").alias("n_packs_spanned"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_len: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document's token stream into fixed-size overlapping
    chunks — the pre-tokenization step that turns long documents into
    training sequences (stride = chunk_len - overlap; the final chunk
    keeps the tail and may be shorter).

    Chunk starts are ``1 + k*stride`` for
    ``k in [0, ceil(max(0, n - chunk_len) / stride)]`` — a pure function
    of the token count, so the layout is stable across engines and
    partitionings.  Everything is one higher-order expression plus a
    posexplode: map-side only, no shuffle, linear at any corpus size.

    Output: (doc_id, chunk_id, n_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_len:
        raise ValueError("need 0 <= overlap < chunk_len")
    stride = chunk_len - overlap
    # NULL text → empty token array: greatest() SKIPS nulls in Spark, so
    # a NULL _tk otherwise slips past the zero-token CASE and emits one
    # phantom chunk row (NULL n_tokens, '' text) that the oracle never
    # has (zoo-parity-pinned)
    base = docs.select(
        "doc_id",
        F.coalesce(
            tokens(F.lower(F.col("text"))), F.array().cast("array<string>")
        ).alias("_tk"),
    )
    chunks = F.expr(
        # zero-token documents yield NO chunks (not one empty chunk)
        f"CASE WHEN size(_tk) = 0 THEN cast(array() as array<array<string>>) ELSE "
        f"transform(sequence(0, cast(ceil(greatest(0, size(_tk) - {chunk_len}) / {stride}) as int)), "
        f"k -> slice(_tk, 1 + k * {stride}, {chunk_len})) END"
    )
    return base.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "_chunk")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("_chunk").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )
