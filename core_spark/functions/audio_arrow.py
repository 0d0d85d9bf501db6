"""Zero-copy Arrow-native audio feature extraction (mapInArrow).

The pandas_udf path materializes one Python ``bytes`` object per clip from the
Arrow buffer — at 32 concurrent workers that is tens of thousands of ~35 KB
heap allocations per micro-batch, and the kernel's minor-fault path
serializes under that load (see the functions/audio.py decode_pcm note).
This module reads clips **directly out of the Arrow record batch**: the
binary column is one contiguous data buffer + an offsets vector, so each
clip is a ``numpy`` view (no copy, no allocation), decode output and FFT
temporaries are the only per-clip allocations, and the worker's allocator
reaches steady state within the first batch.

Decode and features are the ones the pandas UDFs run: ``_decode_view_i16``
(the one codec table, all four codecs) and ``_spectral_one_i16``, so both
passes give the same bits for the same clip. This is the production hot path
for the streaming CEP job; the pandas UDFs in functions/audio.py remain the
ergonomic column-expression API.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .audio import _decode_view_i16, _spectral_one_i16

FEATURE_FIELDS = [
    ("energy", T.DoubleType()),
    ("peak", T.DoubleType()),
    ("zcr", T.DoubleType()),
    ("dominant_freq_hz", T.DoubleType()),
    ("spectral_centroid_hz", T.DoubleType()),
]


def _binary_offsets_data(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) numpy views over a (Large)Binary Arrow array."""
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=otype)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return offsets, data


def spectral_features_arrow(df: DataFrame) -> DataFrame:
    """clips frame -> per-clip DSP features, zero-copy from Arrow buffers.

    Output drops ``bytes``/``transcript`` (shuffles carry scalars only) and
    keeps clip_id, ingest_ts, sr_hz, dur_ms plus the feature columns
    (streaming/windows.clip_features_spectral adds the shard key).
    """
    keep = ["clip_id", "ingest_ts", "sr_hz", "dur_ms"]
    # prune BEFORE the Arrow stage: mapInArrow consumes its whole input row,
    # so an explicit select is what keeps unused columns (transcript) out of
    # the parquet scan's ReadSchema and out of the JVM->Python Arrow stream
    df = df.select(*keep, "bytes", "codec")
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(n, t) for n, t in FEATURE_FIELDS]
    )

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            offsets, data = _binary_offsets_data(rb.column(rb.schema.get_field_index("bytes")))
            codecs = rb.column(rb.schema.get_field_index("codec")).to_pylist()
            srs = rb.column(rb.schema.get_field_index("sr_hz")).to_numpy()
            feats = np.empty((n, 8), dtype=np.float64)
            for i in range(n):
                view = data[offsets[i] : offsets[i + 1]]
                pcm = _decode_view_i16(view, codecs[i])
                feats[i] = _spectral_one_i16(pcm, int(srs[i]))
            cols = [rb.column(rb.schema.get_field_index(c)) for c in keep]
            cols += [pa.array(feats[:, j]) for j in range(len(FEATURE_FIELDS))]
            yield pa.RecordBatch.from_arrays(
                cols, names=keep + [n_ for n_, _ in FEATURE_FIELDS]
            )

    return df.mapInArrow(extract, out_schema)
