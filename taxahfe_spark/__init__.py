"""taxahfe_spark — a from-scratch PySpark-native hierarchical feature-engineering engine.

Re-expresses the capabilities of the reference (aoliver44/taxaHFE, an R
implementation of Hierarchical Feature Engineering over taxonomy trees) as an
idiomatic Spark engine, generalized into a point-in-time feature pipeline over
tokenized training sequences:

- taxonomy-tree collapse: path split -> level-by-level "observed wins" rollup
  (reference: lib/tree.R:372-449) -> prevalence/abundance filters
  (lib/tree.R:339-363) -> child-vs-parent correlation pruning +
  permutation-importance competition (lib/tree.R:457-850)
- point-in-time layer: as-of joins to taxonomy snapshots, lag/lead windows,
  gap sessionization, LOCF backfill (generalizes lib/tree.R:1086-1144)
- training-data-pipeline ops: dedup (exact / minhash-LSH / simhash / n-gram
  jaccard), similarity search, text quality stats.

Everything is DataFrame-first: built-in pyspark.sql.functions in the hot path,
Arrow-vectorized pandas UDFs (applyInPandas / mapInPandas) only where the
semantics genuinely need per-group imperative logic (the RF competition), and
never row-at-a-time Python. Every frame built from driver-side data (id
lists, offset tables, small pandas results) is an Arrow local relation made
by ``session.local_frame``; no package code calls ``createDataFrame`` on a
Python list, whose pickled rows would need a Spark Python worker to decode.
"""

__version__ = "0.1.0"

from taxahfe_spark.session import get_spark  # noqa: F401
