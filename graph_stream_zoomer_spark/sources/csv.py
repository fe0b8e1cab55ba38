"""CSV source/sink (reference S4/S8).

Reference parity: CitiBike CSV → triple mapping
(``application/CiteBikeExample.java:85-105``,
``application/functions/CitibikeCSVLineToStreamTripleMap.java:33-82``) and
the row-format CSV sink writing ``path_V`` / ``path_E``
(``model/graph/StreamGraph.java:146-161``). Our engine's CSV unit is the
transcript table; triples derive through the standard binding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .transcripts import TRANSCRIPT_DDL

_MAP_AS_JSON = "to_json(%s) as %s"


def read_transcript_csv(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """Transcript CSV (header, ISO timestamps) → the canonical transcript
    DataFrame; `streaming=True` returns a file-stream over the directory."""
    if streaming:
        return (
            spark.readStream.schema(TRANSCRIPT_DDL)
            .option("header", "true")
            .csv(path)
        )
    return spark.read.schema(TRANSCRIPT_DDL).option("header", "true").csv(path)


def write_graph_csv(vertices: DataFrame, edges: DataFrame, path: str) -> None:
    """Batch CSV sink: two outputs ``<path>_V`` and ``<path>_E``
    (StreamGraph.writeAsCsv parity). Map-typed property bags are serialized
    as JSON strings (CSV cannot hold maps)."""
    from pyspark.sql import functions as F

    def flat(df: DataFrame) -> DataFrame:
        cols = []
        for name, dtype in df.dtypes:
            if dtype.startswith("map<") or dtype.startswith("struct<"):
                cols.append(F.to_json(F.col(name)).alias(name))
            else:
                cols.append(F.col(name))
        return df.select(*cols)

    flat(vertices).write.mode("overwrite").option("header", "true").csv(path + "_V")
    flat(edges).write.mode("overwrite").option("header", "true").csv(path + "_E")
