"""Structured Streaming ingest (Kafka / HTTP / file sources), lake
maintenance (compaction), and the streaming dedup fold.

Import each name from the module that defines it."""
