"""Streaming substrate — the reference-parity layer.

The reference's 1,405 lines of coordination (shard discovery, assignment,
balancing, worker lifecycle, heartbeats, Redis checkpoints —
src/Kinesis/Coordination.hs, src/Kinesis/Redis.hs) collapse here into
Structured Streaming configuration:

- shard discovery/assignment/rebalance -> the source connector plans input
  partitions every micro-batch (SURVEY.md §3.4);
- Redis sequence-number checkpoints (syncShardState,
  src/Kinesis/Coordination.hs:343-359) -> the checkpointLocation offset +
  commit logs, upgraded from at-least-once to exactly-once per epoch;
- the user Processor callback (src/Kinesis/Coordination.hs:51-53) ->
  foreachBatch (see runner.Processor);
- LiveStats/ClusterState monitoring (src/Kinesis/Coordination.hs:92-94,
  Types.hs:133-142) -> StreamingQueryListener (see monitor).
"""

from kinesis_app_spark.streaming.runner import StreamRunner
from kinesis_app_spark.streaming.sources import (
    file_stream,
    kinesis_stream_reader,
    rate_stream,
)
from kinesis_app_spark.streaming.monitor import ClusterStateListener, StatsReporter

__all__ = [
    "StreamRunner",
    "file_stream",
    "kinesis_stream_reader",
    "rate_stream",
    "ClusterStateListener",
    "StatsReporter",
]
