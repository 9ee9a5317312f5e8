"""Explicit StructType schemas — the engine never infers schemas for its
own tables, mirroring the reference's explicit Arrow schemas
(/root/reference/fupi/utils.py:18-36, pa.schema declared per table and
enforced at create_table).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The north-rule clip table — exact shape from BASELINE.json input_hint.
CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sr_hz", T.IntegerType(), False),
        T.StructField("dur_ms", T.IntegerType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("transcript", T.StringType(), False),
    ]
)
