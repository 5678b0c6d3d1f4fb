"""Training-sequence packing: context-length chunking + remainder packing.

LLM pretraining consumes fixed-length token sequences; the standard
curation ending (T5's "pack", GPT-NeoX's `mmap` packing, HF
`group_texts`) splits each document into context-budget pieces and then
coalesces the sub-budget remainders so padding waste stays bounded. The
reference crawler stops at extraction; this is a north-rule LLM-tier
addition, downstream of dedup/quality in the same pipeline.

Semantics here (deliberately order-deterministic so a SQL oracle can
replay it bit-for-bit):

1. Each document yields ``ceil(n_tokens / budget)`` pieces; every piece
   is ``budget`` tokens except a final remainder.
2. A piece of exactly ``budget`` tokens is its own pack
   (``full-<doc>-<idx>``).
3. Remainder pieces pack per SOURCE in ``(doc_id, piece_idx)`` order by
   running-total next-fit: pack = ``floor(tokens_before / budget)`` —
   the same explicit-floor cumsum contract as ``sinks.compaction_plan``
   (a pack can overshoot by < budget; documented approximation, the
   windowed one-exchange shape is the point).

Scale shape: piece explosion is IN-ROW (sequence+explode inside
whole-stage codegen — no UDF, no shuffle); then exactly TWO keyed
exchanges — the per-source cumsum window and the per-pack stats window.
Source cardinality is the parallelism floor for the cumsum (a single
giant source serializes its window; real corpora shard by
source×date — pass that composite as ``source_col``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from crawler_spark.pipeline.textstats import token_count_expr


def sequence_pack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    budget: int,
) -> DataFrame:
    """``(source, id, piece_idx, piece_tokens, pack_id, pack_tokens,
    n_pack_pieces, pack_fill)`` — one row per training-sequence piece.

    ``pack_fill`` is ``pack_tokens / budget`` (ints in, ONE correctly
    rounded IEEE division out — deterministic cross-engine). Documents
    with zero tokens yield no pieces.
    """
    b = int(budget)
    pieces = (
        df.select(
            F.col(source_col).alias("source"),
            F.col(id_col).alias("_id"),
            token_count_expr(F.col(text_col)).alias("n"),
        )
        .filter(F.col("n") >= 1)
        .select(
            "source",
            "_id",
            "n",
            F.explode(
                # (n-1) div b = ceil(n/b) - 1: INTEGER division — no
                # double rounding, valid for any budget value
                F.sequence(F.lit(0), F.expr(f"(n - 1) div {b}").cast("int"))
            ).alias("piece_idx"),
        )
        .select(
            "source",
            "_id",
            "piece_idx",
            F.least(
                F.lit(b), F.col("n") - F.col("piece_idx") * b
            ).cast("long").alias("piece_tokens"),
        )
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy("_id", "piece_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rem_tokens = F.when(
        F.col("piece_tokens") < b, F.col("piece_tokens")
    ).otherwise(F.lit(0))
    packed = (
        pieces.withColumn(
            "_cum_rem",
            F.coalesce(F.sum(rem_tokens).over(cum_w), F.lit(0)).cast("long"),
        )
        .withColumn(
            "pack_id",
            F.when(
                F.col("piece_tokens") == b,
                F.concat(
                    F.lit("full-"),
                    F.col("_id").cast("string"),
                    F.lit("-"),
                    F.col("piece_idx").cast("string"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("rem-"),
                    F.col("source"),
                    F.lit("-"),
                    # INTEGER division — same explicit-floor contract as
                    # compaction_plan, no double rounding for any budget
                    F.expr(f"_cum_rem div {b}").cast("string"),
                )
            ),
        )
        .drop("_cum_rem")
    )
    pack_w = Window.partitionBy("pack_id")
    return packed.select(
        "source",
        F.col("_id").alias(id_col),
        F.col("piece_idx").cast("long").alias("piece_idx"),
        "piece_tokens",
        "pack_id",
        F.sum("piece_tokens").over(pack_w).cast("long").alias("pack_tokens"),
        F.count(F.lit(1)).over(pack_w).cast("long").alias("n_pack_pieces"),
        (F.sum("piece_tokens").over(pack_w).cast("double") / b).alias(
            "pack_fill"
        ),
    )


def passage_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 48,
    stride: int = 24,
) -> DataFrame:
    """Sliding token windows with overlap — the RAG/eval-chunking
    counterpart to :func:`sequence_pack`'s disjoint split: passage i
    covers tokens ``[i·stride, i·stride + size)``, and the window count
    ``1 + ceil(max(0, n - size) / stride)`` guarantees the final window
    reaches the document tail (ragged, never dropped). Overlapping
    windows keep answers that straddle a boundary retrievable, which is
    why retrieval chunkers default to stride < size.

    Output: ``(id, passage_idx, start_tok, n_pass_tokens,
    passage_hash)`` — the hash is the portable md5h60 of the
    space-joined window, so downstream dedup/retrieval joins on it
    cross-engine.

    Shape: everything is IN-ROW (tokenize once, explode a
    ``sequence``, ``slice`` per window) — zero shuffles, zero UDFs; at
    100 TB this rides the scan exactly like the fingerprint
    expressions. The ceil is written over ``greatest(0, n-size)`` so
    the integer division never sees a negative operand (Spark ``div``
    truncates toward zero, DuckDB ``//`` floors — they disagree ONLY
    below zero).

    ``ValueError`` unless ``0 < stride <= size``: a stride past the window
    size skips tokens between windows and can leave an empty window at the
    tail.
    """
    from crawler_spark.pipeline.dedup import md5h60
    from crawler_spark.pipeline.textstats import tokens_expr

    b, s = int(size), int(stride)
    if not 0 < s <= b:
        raise ValueError(f"passage_windows needs 0 < stride <= size, got stride={s}, size={b}")
    toks = df.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks")
    ).withColumn("_n", F.size("_toks")).filter(F.col("_n") >= 1)
    nw = F.expr(f"1 + ((greatest(0, _n - {b}) + {s} - 1) div {s})")
    exploded = toks.select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), (nw - 1).cast("int"))).alias(
            "passage_idx"
        ),
    )
    win = F.slice(F.col("_toks"), F.col("passage_idx") * s + 1, b)
    return exploded.select(
        F.col(id_col),
        F.col("passage_idx").cast("long").alias("passage_idx"),
        (F.col("passage_idx") * s).cast("long").alias("start_tok"),
        F.size(win).cast("long").alias("n_pass_tokens"),
        md5h60(F.array_join(win, " ")).alias("passage_hash"),
    )
