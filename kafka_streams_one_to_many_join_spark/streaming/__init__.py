"""Streaming: the continuously-maintained one-to-many join with table
semantics (upsert both sides, delete propagation on the many side,
re-emission on either side's update) — the capability the reference was
built to demonstrate (DemoApp.scala:50-60) and that Spark's declarative
stream-stream joins cannot express (append-only, no retraction/delete).
"""

from kafka_streams_one_to_many_join_spark.streaming.dedup import (
    streaming_dedup,
    streaming_dedup_within_watermark,
)
from kafka_streams_one_to_many_join_spark.streaming.join import (
    car_move_detection,
    symmetric_one_to_many_join,
    tag_car_moves,
    tag_zone_events,
)
from kafka_streams_one_to_many_join_spark.streaming.latest import (
    streaming_latest_by_key,
)
from kafka_streams_one_to_many_join_spark.streaming.stream_join import (
    stream_static_join,
    stream_stream_join,
)
from kafka_streams_one_to_many_join_spark.streaming.bpe import (
    streaming_bpe_pair_totals,
    streaming_word_deltas,
)
from kafka_streams_one_to_many_join_spark.streaming.dedup import (
    streaming_segment_dup_deltas,
    streaming_segment_dup_totals,
)
from kafka_streams_one_to_many_join_spark.streaming.packing import (
    streaming_token_chunks,
)
from kafka_streams_one_to_many_join_spark.streaming.similarity import (
    streaming_lsh_topk,
)
from kafka_streams_one_to_many_join_spark.streaming.sketch import (
    streaming_bloom_filter,
    streaming_cms_counts,
    streaming_hll_distinct,
    streaming_quantile_sketch,
)
from kafka_streams_one_to_many_join_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

__all__ = [
    "car_move_detection",
    "streaming_bloom_filter",
    "streaming_bpe_pair_totals",
    "streaming_word_deltas",
    "streaming_cms_counts",
    "streaming_segment_dup_deltas",
    "streaming_segment_dup_totals",
    "streaming_hll_distinct",
    "streaming_quantile_sketch",
    "streaming_lsh_topk",
    "streaming_token_chunks",
    "session_agg",
    "sliding_agg",
    "stream_static_join",
    "stream_stream_join",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "streaming_latest_by_key",
    "symmetric_one_to_many_join",
    "tag_car_moves",
    "tag_zone_events",
    "tumbling_agg",
]
