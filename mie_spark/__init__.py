"""mie_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of kraklabs/mie, re-expressed Spark-first.

The reference (kraklabs/mie) is a Go + embedded-CozoDB knowledge-graph
memory server; see SURVEY.md for the full capability inventory this
package reproduces. Nothing here is a translation of the reference's
code: the storage plane is parquet + DataFrames, the query plane is
Spark SQL / DataFrame API, and custom operators (vector search, dedup,
text analysis) are expressed declaratively so Catalyst/Tungsten pick
the physical strategy.

Layout:
    session     — tuned SparkSession factory (AQE, Arrow, shuffle sizing)
    sources     — table catalog over the parquet test corpus
    functions   — vector / text / hashing column expressions
    operators   — relational, join/graph, vector, dedup, text, multimodal
    streaming   — Structured Streaming ingest + stateful ops
    generations — versioned-directory commits (streaming state)
    api         — MieClient: the reference's 9-tool semantic surface
"""

__version__ = "0.1.0"
