"""cql_replicator_spark — a PySpark-native analytics/replication engine.

A from-scratch rebuild of the *capabilities* of aws-samples/cql-replicator
expressed Spark-first: snapshot-diff CDC (tiling -> PK snapshots ->
anti-join diffs -> bulk hydration), a batched resilient CQL sink, a
ledger state machine, reconciliation, plus an
extended large-scale data-pipeline surface (dedup, similarity search,
text analysis, multimodal plumbing).

Design stance (see SURVEY.md §7): declare logical plans with the DataFrame
API and let Catalyst/AQE pick physical strategy; Python only at the edges.
"""

__version__ = "0.1.0"
