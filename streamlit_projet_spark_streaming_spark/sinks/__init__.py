"""Batch sink layer: partitioned/sorted gold-table writes and packed
training-shard export. Streaming sinks live in ``streaming/`` (consumer
checkpointed append, gold refresh)."""

from .writer import write_packed_shards, write_partitioned

__all__ = ["write_partitioned", "write_packed_shards"]
