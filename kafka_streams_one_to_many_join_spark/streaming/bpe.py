"""Streaming tokenizer-statistics maintenance — the stream twin of
``functions.text.bpe_pair_counts``.

A tokenizer-training corpus is rarely static: new documents keep
arriving, and the BPE pair statistics must stay current without
re-scanning the corpus.  The decomposition mirrors the batch operator's
scale argument: everything corpus-sized happens ONCE (per arriving
document), and all state is vocabulary-bounded.

Two chained queries through a parquet through-dir (Spark allows one
stateful operator per query — the same topology as the streaming
segment dedup):

- **stage 1** (`streaming_word_deltas`): per-word keyed state holding a
  single "seen" flag — the ONLY custom state the problem needs, because
  pair counts are LINEAR in word-occurrence deltas (no retraction can
  ever be required), while the distinct-word support ``n_words`` needs
  exactly one bit per vocabulary word to know a word's first arrival.
  Emits (w, d_count, is_new) per batch, append semantics.  State is
  O(|vocab|) flags — bounded by the vocabulary, never the corpus.
- **stage 2** (`streaming_bpe_pair_totals`): pure projection expanding
  each word delta into its distinct symbol pairs with within-word
  multiplicities (array HOFs over ≤ word-length arrays), folded by
  Spark's BUILT-IN streaming aggregation in update mode — no custom
  state code at all where the engine's declarative operator suffices.

3-batch replay equals the batch operator on the same corpus regardless
of arrival order or batch boundaries (tests/test_streaming.py); the
global merge_rank is a read-off of the maintained counts (sort the
alphabet²-bounded result), not streaming state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state


def streaming_word_deltas(
    docs: DataFrame, text_col: str = "text", token_mode: str = "ascii"
) -> DataFrame:
    """Stage 1: (word, batch occurrence count, first-ever-seen flag) per
    micro-batch.  Keyed state = one flag per vocabulary word."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_streams_one_to_many_join_spark.functions.text import tokens_expr

    words = docs.select(F.explode(tokens_expr(text_col, token_mode)).alias("w"))

    output_schema = StructType(
        [
            StructField("w", StringType(), False),
            StructField("d_count", LongType(), False),
            StructField("is_new", BooleanType(), False),
        ]
    )
    state_schema = StructType([StructField("seen", LongType(), True)])

    def step(w, state, pdfs):
        n = sum(len(pdf) for pdf in pdfs)
        if n == 0:
            return None, []
        return (1,), [(w, n, state is None)]

    return keyed_state(words, "w", step, output_schema, state_schema)


def streaming_bpe_pair_totals(deltas: DataFrame) -> DataFrame:
    """Stage 2: expand word deltas to distinct symbol pairs with
    within-word multiplicities (pure projection), then fold with the
    built-in streaming aggregation (update mode): pair_count is linear
    in the deltas, n_words adds 1 per first-seen word containing the
    pair — both monotone, so the latest row per pair is the running
    total."""
    pairs_expr = (
        "transform(sequence(1, length(w) - 1), "
        "i -> named_struct('l', substr(w, i, 1), 'r', substr(w, i + 1, 1)))"
    )
    expanded = (
        deltas.filter(F.length("w") >= 2)
        .select(
            "d_count",
            "is_new",
            F.explode(
                F.expr(
                    f"transform(array_distinct({pairs_expr}), "
                    f"p -> named_struct("
                    f"'l', p.l, 'r', p.r, "
                    f"'mult', size(filter({pairs_expr}, x -> x = p))))"
                )
            ).alias("p"),
        )
        .select(
            F.col("p.l").alias("left_sym"),
            F.col("p.r").alias("right_sym"),
            (F.col("d_count") * F.col("p.mult")).alias("d_pairs"),
            F.when(F.col("is_new"), F.lit(1)).otherwise(F.lit(0)).alias("d_words"),
        )
    )
    return expanded.groupBy("left_sym", "right_sym").agg(
        F.sum("d_pairs").alias("pair_count"),
        F.sum("d_words").alias("n_words"),
    )
