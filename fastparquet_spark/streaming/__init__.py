"""Structured Streaming surface.

The reference has no streaming operators (SURVEY.md §2.5); this module
adds the one piece a continuously-ingesting encode pipeline needs:
``encode_stream``, a foreachBatch sink that runs the encode engine on
every micro-batch into per-epoch directories.  Spark's checkpoint gives
at-least-once batch replay; our per-partition manifests make replays
idempotent (resume skips committed partitions) — so the sink is
effectively exactly-once, the streaming twin of the batch job's
checkpoint/resume contract.
"""

from fastparquet_spark.streaming.jobs import encode_stream

__all__ = ["encode_stream"]
