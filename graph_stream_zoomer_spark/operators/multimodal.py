"""Media digests: document text bytes as an opaque ``binary`` payload,
hashed through Arrow-batched ``mapInPandas``.

Scale notes: mapInPandas streams Arrow batches, so a 100 TB binary column
never materializes per-row Python objects; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so one batch of
payloads fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

DIGEST_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("digest", StringType(), False),
    ]
)


def media_digests(docs: DataFrame) -> DataFrame:
    """Byte length + sha256 digest of each document's UTF-8 text payload,
    keyed by ``doc_id`` as ``media_id``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "digest": pdf["payload"].map(lambda b: hashlib.sha256(b).hexdigest()),
                }
            )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return media.mapInPandas(run, DIGEST_SCHEMA)
