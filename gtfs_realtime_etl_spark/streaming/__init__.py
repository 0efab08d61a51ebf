"""Structured Streaming ingest (Kafka / HTTP / file sources), lake
maintenance (compaction), stateful operators, and watermarked windows.

Import each name from the module that defines it."""
