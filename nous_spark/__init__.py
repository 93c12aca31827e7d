"""nous_spark — a PySpark-native knowledge-graph construction & analytics engine.

A from-scratch DataFrame-first re-creation of the capabilities of the
streaming-graphs/NOUS reference (triple extraction, entity linking,
canonicalization, graph materialization, frequent-subgraph mining, path
search), plus the large-scale training-data operators (dedup, similarity
search, text analysis) that a 100 TB corpus pipeline needs.

Architecture invariants (the whole point of this engine vs the reference):
  * DataFrame/SQL logical plans everywhere — Catalyst plans, Tungsten runs.
  * Python only in Arrow-batched pandas UDFs — never per-row Python.
  * Explicit partitioning/salting on skewed keys; broadcast for small dims.
  * Every pipeline stage checkpoints to parquet with per-write-task lineage,
    giving exact resume after failure.
"""

__version__ = "0.1.0"
