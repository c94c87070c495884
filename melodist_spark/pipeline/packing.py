"""Sequence packing: lay documents out into fixed-length training
sequences.

Pretraining consumes fixed-length token sequences, not documents: the
corpus is put in a reproducible shuffled order, concatenated into one
token stream, and chunked every ``seq_len`` tokens (documents spanning
a boundary are split across neighbouring sequences). The operator
computes that layout as a MANIFEST — for every document its absolute
token offset in the stream and the first/last sequence it lands in —
which is what a loader needs to assemble batches.

The core is a global running sum over a deterministic order. A naive
window (``sum().over(Window.orderBy(...))``) funnels the whole corpus
through ONE task; here it is the classic two-phase distributed prefix
sum instead:

1. documents get an engine-portable uniform hash ``h`` (md5-based,
   the same family as ``sampling._hash01``) — the reproducible
   shuffle order — and a range bucket ``floor(h * n_buckets)``,
   which is ORDER-ALIGNED with ``h`` (bucket boundaries are cut
   points of the global order);
2. per-bucket token totals (one tiny map-side-combined aggregation,
   ``n_buckets`` rows) are turned into exclusive bucket offsets with
   a window over those few rows, and broadcast-joined back;
3. the within-bucket running sum is a window partitioned by bucket —
   every task handles ~1/n_buckets of the corpus.

No driver-side data, no single-task stage; skew is impossible by
construction (the hash is uniform). The layout depends only on
(ids, token counts, salt, seq_len) — rerunning on any partitioning,
any cluster, any engine gives byte-identical sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _hash01
from .text import token_count


def chunk_tokens(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into ``max_tokens``-token chunks with
    ``overlap`` tokens of left context carried into each following
    chunk (the RAG / long-document-pretraining prep step).

    Entirely narrow JVM expressions: tokenize once, build chunk
    start offsets with ``sequence``, slice per chunk, posexplode —
    no shuffle, no Python. Chunk starts advance by
    ``max_tokens - overlap``; every token of the original document
    appears in at least one chunk and the non-overlap prefix of each
    chunk reconstructs the document in order. Empty/blank documents
    yield no chunks.

    Output: (all input columns minus ``text_col``) + ``chunk_id``,
    ``chunk_text``, ``chunk_tokens``.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    step = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    staged = df.withColumn("__toks", toks).withColumn(
        "__n", token_count(F.col(text_col))
    )
    # chunk start offsets 0, step, 2*step, ...; a start s > 0 only
    # earns a chunk if it contributes tokens beyond the previous
    # chunk's end (s < n - overlap) — otherwise the trailing chunk
    # would be a pure suffix-duplicate of its predecessor (e.g. an
    # 8-token doc at max=10/overlap=3 must yield ONE chunk, not a
    # redundant second chunk of its last token)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((F.col("__n") - overlap - 1) / step).cast("int"),
            F.lit(0),
        )
        * step,
        F.lit(step),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(
                F.slice(F.col("__toks"), s + 1, F.lit(max_tokens)), " "
            ).alias("chunk_text"),
            F.least(F.col("__n") - s, F.lit(max_tokens))
            .cast("long")
            .alias("chunk_tokens"),
        ),
    )
    # posexplode over the struct array yields (pos, struct)
    out = (
        staged.filter(F.col("__n") > 0)
        .select(
            "*",
            F.posexplode(chunks).alias("chunk_id", "__c"),
        )
        .select(
            *[c for c in df.columns if c != text_col],
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("__c.chunk_text").alias("chunk_text"),
            F.col("__c.chunk_tokens").alias("chunk_tokens"),
        )
    )
    return out


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    n_buckets: int = 1024,
) -> DataFrame:
    """Return the packing manifest: one row per document with
    ``n_tokens``, ``begin_offset`` (absolute position in the
    concatenated token stream), ``seq_first``/``seq_last`` (the
    ``seq_len``-sized sequences the document touches) and
    ``offset_in_seq`` (position within ``seq_first``).

    ``tokens_col`` supplies a precomputed token count; otherwise
    whitespace :func:`~melodist_spark.pipeline.text.token_count` of
    ``text_col`` is used. Zero-token documents occupy no stream space
    (``seq_last < seq_first`` marks them).
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    ntok = (
        F.col(tokens_col)
        if tokens_col is not None
        else token_count(F.col(text_col))
    ).cast("bigint")
    staged = df.withColumn("__h", _hash01(id_col, salt)).withColumn(
        "__ntok", ntok
    )
    bucket = F.least(
        F.floor(F.col("__h") * n_buckets).cast("int"), F.lit(n_buckets - 1)
    )
    staged = staged.withColumn("__bucket", bucket)

    # phase 1+2: per-bucket totals -> exclusive offsets (n_buckets
    # rows; the window over them is trivially small)
    totals = staged.groupBy("__bucket").agg(F.sum("__ntok").alias("__tot"))
    off_w = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__bucket",
        F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias("__bucket_off"),
    )

    # phase 3: within-bucket running sum, bucket offset broadcast in
    run_w = (
        Window.partitionBy("__bucket")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        staged.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "begin_offset",
            F.col("__bucket_off")
            + F.coalesce(F.sum("__ntok").over(run_w), F.lit(0)),
        )
        .withColumn("n_tokens", F.col("__ntok"))
        .withColumn(
            "seq_first", F.floor(F.col("begin_offset") / seq_len).cast("bigint")
        )
        .withColumn(
            "seq_last",
            F.floor(
                (F.col("begin_offset") + F.col("n_tokens") - 1) / seq_len
            ).cast("bigint"),
        )
        .withColumn(
            "offset_in_seq",
            (F.col("begin_offset") % seq_len).cast("bigint"),
        )
    )
    return out.drop("__h", "__ntok", "__bucket", "__bucket_off")
