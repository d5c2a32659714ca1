"""Structured-Streaming surface: drop-dir bulk ingest (the reference's
spool-file pipeline re-expressed), streaming windowed aggregation,
streaming sessionization, and the incremental-dedup index loop
(epoch_index).
"""
