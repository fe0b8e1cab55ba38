"""Transcript input binding (BASELINE.json input_hint) + deterministic
synthetic transcript generator.

Input table shape (``TRANSCRIPT_DDL``): ``(conv_id:string, turn_idx:int,
role:string, text:string, tool:string, ts:timestamp)`` — an Iceberg table or
a parquet directory (``streaming/job.py:read_transcript_stream``).

Graph binding (SURVEY.md §1.4): vertex = turn, edge = successor edge between
consecutive turns of one conversation; each successor edge plus its two
endpoint turns is a StreamTriple, which feeds the joinless triple fast path
of the grouping operator.

Generator design for 100 TB scale: rows are synthesized *distributively*
from ``spark.range`` with pure column expressions — no driver-side loops, no
runtime randomness (every value derives from xxhash64 of (conv_id,
turn_idx)), so any worker can regenerate any partition independently and the
same (seed, n) always yields byte-identical data (FIXTURES.md §2 spec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import StreamGraphConfig
from ..functions.properties import quote, text as sql_text
from ..model import VERTEX_SCHEMA, VERTEX_STRUCT, StreamGraph, triple_edges

FILLER = "the quick brown fox jumps over the lazy dog and then it stops to think "
BASE_EPOCH = 1735689600  # 2025-01-01 00:00:00 UTC


def _h(*cols: Column, seed: int = 42) -> Column:
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def generate_transcripts(
    spark: SparkSession,
    num_convs: int,
    *,
    late_fraction_pct: int = 1,
    skew: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic transcripts, mean ≈9 turns/conversation.

    ``skew``: the first 0.1% of conv_ids get 10× turns and a hot role —
    a hot-key input for the grouping's partial aggregation. ``late_fraction_pct``% of turns
    get ts lagged 15 s (1.5× the default watermark) to exercise late-data
    drops.
    """
    convs = spark.range(0, num_convs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    n_skewed = max(1, num_convs // 1000) if skew else 0
    convs = convs.select(
        F.col("id").alias("conv_i"),
        F.format_string("c%08d", F.col("id")).alias("conv_id"),
        (F.lit(2) + F.pmod(_h(F.col("id")), F.lit(15))).alias("_base_turns"),
        (F.col("id") < n_skewed).alias("_skewed"),
    ).withColumn(
        "n_turns",
        F.when(F.col("_skewed"), F.least(F.col("_base_turns") * 10, F.lit(160))).otherwise(
            F.col("_base_turns")
        ),
    )
    turns = convs.select(
        "conv_i",
        "conv_id",
        "_skewed",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    th = _h(F.col("conv_i"), F.col("turn_idx"))
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("user"))
        .when(F.col("_skewed"), F.lit("assistant"))
        .when(F.pmod(F.col("turn_idx"), F.lit(2)) == 1, F.lit("assistant"))
        .when(F.pmod(th, F.lit(3)) == 0, F.lit("tool"))
        .otherwise(F.lit("user"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("search"), F.lit("python"), F.lit("browser")),
            (F.pmod(th, F.lit(3)) + 1).cast("int"),
        ),
    ).otherwise(F.lit(""))
    text_len = F.lit(20) + F.pmod(th, F.lit(381))
    text = F.concat(
        F.col("conv_id"),
        F.lit(":"),
        F.col("turn_idx").cast("string"),
        F.lit(":"),
        role,
        F.lit(":"),
        F.substring(F.repeat(F.lit(FILLER), 6), 1, 400).substr(F.lit(1), text_len),
    )
    # monotone within a conversation: offset ∈ [31·t, 31·t+29]; the next
    # turn starts at 31·(t+1) > 31·t+29
    offset_s = F.col("turn_idx") * 31 + F.pmod(th, F.lit(30))
    late = F.pmod(_h(F.col("conv_i"), F.col("turn_idx"), seed=777), F.lit(100)) < late_fraction_pct
    ts_s = (
        F.lit(BASE_EPOCH)
        + F.pmod(_h(F.col("conv_i")), F.lit(86_400))
        + offset_s
        - F.when(late & (F.col("turn_idx") > 0), F.lit(15)).otherwise(F.lit(0))
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(ts_s).alias("ts"),
    )


# ---------------------------------------------------------------------------
# transcript → property-graph binding: one spec for batch and streaming
# ---------------------------------------------------------------------------

#: The transcript input table (BASELINE.json input_hint): what the streaming
#: job's file source, the CSV source and the Kafka value parser read.
TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

# Turn columns the graph reads structurally: the vertex id, label and time
# (``text`` only through its length). Every other turn column is a property.
_STRUCTURAL = ("conv_id", "turn_idx", "role", "ts")


def slim_turns(t: DataFrame) -> DataFrame:
    """The turn columns the graph is built from, projected BEFORE any
    ``conv_id`` exchange, analytic window or state store: the raw ``text``
    payload dominates row bytes but only its length survives into the
    properties. Catalyst does not push ``length(text)`` below a window or
    a stream-stream join, so without this projection the batch ``count()``
    and ``lead()`` windows shuffle every turn's text, and the streaming
    successor join serializes it into its state store per micro-batch.
    Turn columns beyond the transcript's own (say ``value_c`` of the
    ``events`` table, sources/events_binding.py) ride along as properties."""
    rest = [quote(c) for c in t.columns if c not in (*_STRUCTURAL, "text")]
    return t.selectExpr("conv_id", "turn_idx", "role", *rest, "ts", "length(text) AS text_len")


# The binding is written as SQL expression templates over the slim turn
# columns (``cols``, the slim frame's) named ``{p}<column>``: ``""``/``"n_"``
# over the batch ``lead()``, ``"a."``/``"b."`` over the streaming join. One
# ``selectExpr`` of them is a handful of py4j calls, where the same columns
# built with ``Column`` methods took hundreds (see functions/properties.py).


def _col(p: str, c: str) -> str:
    """Slim column ``c`` of the turn named ``{p}<column>``, quoted."""
    return p + quote(c) if p.endswith(".") else quote(p + c)


def _props(p: str, cols: list[str]) -> str:
    """Key/value entries of a turn's property bag: each slim column outside
    ``_STRUCTURAL`` as a string under its own name (``tool`` and
    ``text_len`` of a transcript), and the hour bucket of its time."""
    entries = [f"{sql_text(c)}, CAST({_col(p, c)} AS STRING)" for c in cols if c not in _STRUCTURAL]
    return ", ".join([*entries, f"'hour_bucket', date_format({p}ts, 'yyyy-MM-dd HH')"])


def _turn_vertex(p: str, cols: list[str], conv_id: str | None = None) -> dict[str, str]:
    """The vertex of the turn whose slim columns are named ``{p}<column>``;
    ``conv_id`` names its conversation column when the prefix has none.
    vertex_id = conv_id:turn_idx, label = role (SURVEY.md §1.4). The bag is
    a ``map(...)``: a key lookup of it folds to the one entry read
    (SimplifyExtractValueOps), so entries that no key or aggregate reads
    are never computed."""
    return {
        "vertex_id": f"concat_ws(':', {conv_id or p + 'conv_id'}, CAST({p}turn_idx AS STRING))",
        "event_time": f"{p}ts",
        "vertex_label": f"{p}role",
        "vertex_properties": f"map({_props(p, cols)})",
    }


def vertex_columns(cols: list[str], p: str = "") -> list[str]:
    """The turn's vertex as VERTEX_SCHEMA columns (see ``_turn_vertex``)."""
    v = _turn_vertex(p, cols)
    return [f"{v[f]} AS {f}" for f in VERTEX_SCHEMA.fieldNames()]


def triple_columns(cols: list[str], a: str, b: str, conv_id: str | None = None) -> list[str]:
    """The successor edge a → b with both endpoint vertices as
    TRIPLE_SCHEMA columns. The edge takes b's time, its label is the role
    transition, and its bag is b's bag plus ``transition``."""
    src, tgt = _turn_vertex(a, cols), _turn_vertex(b, cols, conv_id)
    label = f"concat_ws('->', {a}role, {b}role)"

    def vstruct(v: dict[str, str]) -> str:
        return "struct(" + ", ".join(f"{v[f]} AS {f}" for f in VERTEX_STRUCT.fieldNames()) + ")"

    return [
        f"concat({src['vertex_id']}, '->', CAST({b}turn_idx AS STRING)) AS edge_id",
        f"{tgt['event_time']} AS event_time",
        f"{label} AS edge_label",
        f"map({_props(b, cols)}, 'transition', {label}) AS edge_properties",
        f"{vstruct(src)} AS source",
        f"{vstruct(tgt)} AS target",
    ]


def transcript_vertices(t: DataFrame) -> DataFrame:
    """Every turn as a vertex (raw turns in, VERTEX_SCHEMA out)."""
    slim = slim_turns(t)
    return slim.selectExpr(*vertex_columns(slim.columns))


def transcript_triples(t: DataFrame) -> DataFrame:
    """Successor triples via a single pass: lead() over (conv_id, turn_idx).

    One analytic-window shuffle partitioned by conv_id, over the slim turns
    (``text_len``, never ``text``). Both endpoint turns ride along inline
    as StreamTriple structs, so the grouping operator's joinless fast path
    applies; that path reads only the endpoint fields its keys need, and
    Catalyst prunes the rest (unread ``lead()`` columns included). Batch
    form — the streaming form uses a watermarked self-join
    (streaming/binding.py)."""
    slim = slim_turns(t)
    w = "OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    leads = [f"lead({quote(c)}) {w} AS {quote('n_' + c)}" for c in slim.columns if c != "conv_id"]
    nxt = slim.selectExpr("*", *leads).where("n_turn_idx IS NOT NULL")
    return nxt.selectExpr(*triple_columns(slim.columns, "", "n_", conv_id="conv_id"))


def transcript_graph_vertices(t: DataFrame) -> DataFrame:
    """Vertex stream derived in ONE pass over the slim turns: the set of
    triple endpoints = every turn of a conversation with ≥2 turns, each
    exactly once. Splitting the triple stream instead (Extractor-style,
    split_triples) would emit each interior turn twice and need a dedup
    shuffle. The count-over-conversation window does NOT share the
    successor lead()'s exchange: the vertex and triple streams are separate
    queries, so each scans the turns and has its own
    ``Exchange hashpartitioning(conv_id)``, which carries ``text_len``
    rather than ``text``."""
    slim = slim_turns(t)
    return (
        slim.selectExpr("*", "count(1) OVER (PARTITION BY conv_id) AS _conv_turns")
        .where("_conv_turns >= 2")
        .selectExpr(*vertex_columns(slim.columns))
    )


def transcript_graph(t: DataFrame, config: StreamGraphConfig | None = None) -> StreamGraph:
    """Transcript turns → StreamGraph with the single-pass vertex stream,
    the triple stream for the joinless edge path, and the uniqueness hint
    that lets the grouping operator skip both dedup shuffles."""
    config = config or StreamGraphConfig()
    triples = transcript_triples(t)
    vertices = transcript_graph_vertices(t)
    return StreamGraph(
        vertices=vertices,
        edges=triple_edges(triples),
        config=config,
        triples=triples,
        elements_unique=True,
    )
