"""Event-time windowed operators (SURVEY.md §2.9) — batch-first.

The same window expressions run unchanged under Structured Streaming
(``readStream`` → identical transformations → ``writeStream``); the
batch path is the contract surface, the streaming path is
``streaming.jobs``: a file-source stream drained once with
``trigger(availableNow=True)`` into a memory sink, hash-checked as the
``stream_tumbling`` Qkey.
"""

from mini_sql_engine_spark.streaming import event_windows, jobs  # noqa: F401
