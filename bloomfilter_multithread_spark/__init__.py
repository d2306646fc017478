"""bloomfilter_multithread_spark — a PySpark-native distributed mergeable-sketch engine.

A from-scratch re-expression of the capabilities of the C++ reference
``dylan-keller/bloomfilter-multithread`` (a pthread/semaphore partitioned
Bloom-filter pipeline over DNA k-mers) as an idiomatic Spark library:

- ``sketches``  — pure-numpy mergeable sketches (Bloom, HLL, count-min,
  KLL, t-digest) sharing one ``MergeableSketch`` interface
  (create / update_hashes / merge / estimate / to_bytes / from_bytes).
- ``operators`` — Spark-side build (per-partition partials via
  ``mapInArrow``, merged on the driver when small, else on the
  executors, each sketch's partials in one ``mapInArrow`` task),
  broadcast probe,
  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  cosine), similarity search, and text analysis.
- ``sources``   — IO (Iceberg with parquet fallback) and the
  deterministic synthetic transcript generator (FIXTURES.md).
- ``plans``     — checkpointed, resumable builds with per-partition
  lineage + metrics.
- ``streaming`` — Structured Streaming sketch build (foreachBatch
  incremental merge).

Design rule: ALL string->int64 hashing happens JVM-side through
``F.xxhash64`` (whole-stage codegen); Python UDFs only ever receive
int64 arrays and do pure numpy bit arithmetic. No per-row Python.
"""

__version__ = "0.1.0"
