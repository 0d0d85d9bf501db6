"""Structured-Streaming CEP engine over audio clip + transcript streams.

The north-star recast of the reference's time-series pipeline core
(rtdip/core pipelines/: sources -> transformers -> destinations, SURVEY §2.1,
§2.12) as a watermark-driven streaming engine:

- ``source``    — stream sources (parquet-dir stand-in for the Iceberg table)
- ``windows``   — tumbling/sliding/session windowed aggregates (+salting)
- ``join``      — watermarked stream-stream join with late-correction drops
- ``sessions``  — applyInPandasWithState gap/session detection + fills
- ``cep``       — A-followed-by-B pattern state machine with absence alerts
                  (+ RocksDB state-store confs)
- ``twa``       — incremental time-weighted average (bucket state + carried
                  last observation; bit-compatible with the batch TWA verb)
- ``interp``    — incremental resample+interpolate (pending gap buckets
                  decided by the next non-empty bucket)
- ``sink``      — idempotent exactly-once merge sink with lineage/metrics
- ``job``       — spark-submit entrypoint used by bench at N / 4N cores
"""
