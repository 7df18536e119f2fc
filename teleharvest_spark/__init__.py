"""teleharvest_spark — a PySpark-native schema + constraint validation engine.

A brand-new engine (NOT a port) with the query/data-processing
capabilities of the reference `igorpuchkovcom/teleharvest`
(read-only at /root/reference): declarative check suites over tables
of pre-tokenized training sequences —

* single-pass per-partition column stats (min/max/null-rate,
  Greenwald-Khanna approx quantiles via ``percentile_approx``,
  a DataSketches HLL distinct estimate via ``hll_sketch_agg``),
* a strictly-ordered row-level check cascade with first-failing-reason
  violation rows (reference: ``processor.py:97-145``),
* uniqueness on ``doc_id`` via partial-agg hash-aggregate dedup
  (salting measured and rejected for counts — operators/uniqueness.py),
* referential integrity of ``source`` via broadcast anti-join,
* distribution drift (KS statistic, PSI) in vectorized Arrow UDFs,
* max-cosine-similarity vs a broadcast baseline population
  (reference: ``services/embedding_service.py:34-45``),
* checkpoint-manifest resumability (reference: per-channel watermarks,
  ``processor.py:55-71``).

Everything is public PySpark DataFrame/SQL API — no custom Catalyst
rules, no RDDs in the hot path, no per-row Python.
"""

__version__ = "0.1.0"
