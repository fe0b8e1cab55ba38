"""graph_stream_zoomer_spark — a from-scratch PySpark-native engine with the
query & data-processing capabilities of dbs-leipzig/graph-stream-zoomer
(windowed property-graph-stream grouping), extended with the large-scale
training-data pipeline operators (dedup, similarity search, text analysis,
sketches, media digests) a 100 TB deployment needs.

Not a port: the reference is Flink Table API + Gradoop; this engine is
DataFrame/Catalyst-first (see SURVEY.md §7 design stance).
"""

from .config import StreamGraphConfig, WindowConfig, WindowKind
from .model import StreamGraph, split_triples
from .operators.aggregation import (
    ApproxPercentileProperty,
    AvgProperty,
    CollectSetProperty,
    Count,
    CountDistinctProperty,
    MaxProperty,
    MinProperty,
    PercentileProperty,
    StddevProperty,
    SumProperty,
)
from .operators.grouping import GraphStreamGrouping, GroupingBuilder

__all__ = [
    "ApproxPercentileProperty",
    "AvgProperty",
    "CollectSetProperty",
    "Count",
    "CountDistinctProperty",
    "PercentileProperty",
    "StddevProperty",
    "GraphStreamGrouping",
    "GroupingBuilder",
    "MaxProperty",
    "MinProperty",
    "StreamGraph",
    "StreamGraphConfig",
    "SumProperty",
    "WindowConfig",
    "WindowKind",
    "split_triples",
]

__version__ = "0.1.0"
