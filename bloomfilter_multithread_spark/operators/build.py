"""Distributed sketch build + merge + probe — the engine core.

Re-expression of the reference pipeline (SURVEY.md §3.1):

  reference                                  here
  ---------                                  ----
  FASTA char scan (FastaReader.cpp:25-49)    columnar parquet/Iceberg scan
  route `hmin % q` (SkmerExtractor.cpp:164)  exchange on the hash-block id
                                             (``route_for``) only when the
                                             filter outgrows the cache
                                             (``ROUTE_MIN_BYTES``) — NOT
                                             needed for correctness: merge
                                             is assoc+comm, so ANY
                                             partitioning yields the same
                                             sketch (partition-invariance
                                             test); optional salted
                                             repartition to balance skew
  per-thread disjoint Bloom insert           per-partition partial sketches
  (SkmerSplitter.cpp:62-89)                  in ONE mapInArrow pass (numpy)
  (no merge — filters stay disjoint,         bitwise-OR / max / add merge,
   main.cpp:119-127)                         on the driver or the executors
  probe (SkmerSplitter.cpp:91-151)           broadcast sketch + Arrow-batch
                                             probe column (zero shuffle)

Hot-path rule: ALL string hashing is JVM-side ``F.xxhash64`` inside
whole-stage codegen; Python sees int64/float64 Arrow batches only.

Scale notes (100 TB / 10^12 turns, 1000 executors):
- the scan+hash+partial-build stage is embarrassingly parallel, no shuffle
  at all unless ``salt_partitions`` is requested or a ``route_for`` filter
  is at least ``ROUTE_MIN_BYTES``;
- partials are fixed-size (sketch bytes, KB-MB each), so the merge moves
  O(P * sketch_bytes) — independent of row count. That bound is known
  from the spec params before the job runs, and it picks the merge plan
  (``merge_plan``): a small total is collected and folded on the driver,
  a large one is folded on the executors, each spec's partials in one
  task, so the driver never ingests it;
- probe broadcasts one merged sketch and adds a column map-side — no
  shuffle, no join.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sketches import MergeableSketch, sketch_class
from ..sketches.base import merge_all


@dataclass
class SketchSpec:
    """One sketch to build: over a hashed key expression (bloom/hll/cms)
    or a numeric value expression (kll/tdigest). ``pre_hashed`` marks a
    column that is ALREADY a 64-bit hash (e.g. a JVM-side shingle hash) —
    it is passed through instead of being re-hashed."""

    name: str
    kind: str  # bloom | cbf | hll | kmv | cms | mg | ams | kll | tdigest | hdr
    column: str | Column  # input column / SQL expression string
    params: dict = field(default_factory=dict)
    pre_hashed: bool = False

    VALUE_KINDS = ("kll", "tdigest", "hdr")

    @property
    def is_value(self) -> bool:
        return self.kind in self.VALUE_KINDS

    def make(self) -> MergeableSketch:
        return sketch_class(self.kind).create(**self.params)


def _key_hash(c: Column, pre_hashed: bool) -> Column:
    """The int64 key hash that both the build and the probe run. A null
    key hashes to null, so the build drops it and the probe answers
    absent for it (``xxhash64(NULL)`` is its seed, 42, not null)."""
    if pre_hashed:
        return c.cast("long")
    # JVM-side hashing: string/num key -> int64, stays in codegen
    return F.when(c.isNotNull(), F.xxhash64(c))


def _input_col(spec: SketchSpec) -> Column:
    c = F.expr(spec.column) if isinstance(spec.column, str) else spec.column
    return c.cast("double") if spec.is_value else _key_hash(c, spec.pre_hashed)


_PARTIAL_SCHEMA = pa.schema(
    [
        ("group_key", pa.string()),
        ("spec_name", pa.string()),
        ("partition_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("sketch", pa.binary()),
    ]
)
PARTIAL_DDL = ("group_key string, spec_name string, partition_id int, n_rows long, "
               "sketch binary")


def _dedup_projection(specs: list[SketchSpec]) -> tuple[list[Column], dict[str, int]]:
    """Projection with each distinct input expression shipped ONCE, plus a
    spec-name -> column-index map. Two specs share a column iff they name
    the same input (the same SQL string, or the same ``Column`` object)
    and agree on value-vs-hash and pre_hashed, so the projected
    expression is identical. The headline 5-sketch build ships
    ``length(text)`` for BOTH kll and t-digest — as separate columns that
    is 8 of the 40 bytes/row crossing the exchange + Arrow boundary for
    no information (measured ~7% of the drain wall at 22M rows)."""
    cols: list[Column] = []
    index: dict[str, int] = {}
    seen: dict[tuple, int] = {}
    for s in specs:
        source = s.column if isinstance(s.column, str) else id(s.column)
        key = (source, s.is_value, s.pre_hashed)
        if key in seen:
            index[s.name] = seen[key]
            continue
        seen[key] = index[s.name] = len(cols)
        cols.append(_input_col(s).alias(f"_c{len(cols)}"))
    return cols, index


def _update(sketches: list[MergeableSketch], inputs: list[tuple[bool, int]],
            batch: pa.RecordBatch) -> None:
    """Feed one Arrow batch to each sketch from its (is_value, column)
    input. Nulls are dropped on the Arrow side, so a hash column reaches
    numpy as int64 (never through float64, which loses hash bits)."""
    for sk, (is_value, ci) in zip(sketches, inputs):
        col = batch.column(ci)
        if col.null_count:
            col = col.drop_null()
        arr = col.to_numpy(zero_copy_only=False)
        if is_value:
            sk.update_values(arr[~np.isnan(arr)])
        else:
            sk.update_hashes(arr)


def _group_slices(batch: pa.RecordBatch) -> Iterator[tuple[str, pa.RecordBatch]]:
    """(key, rows) for each group of ``batch``, keyed by its last column,
    rows in input order; null keys are dropped. One stable sort of the
    dictionary codes per batch, whatever the number of groups."""
    keys = batch.column(batch.num_columns - 1)
    if keys.null_count:
        batch = batch.filter(keys.is_valid())
        keys = batch.column(batch.num_columns - 1)
    enc = keys.dictionary_encode()
    codes = enc.indices.to_numpy()
    rows = batch.take(np.argsort(codes, kind="stable"))
    ends = np.cumsum(np.bincount(codes, minlength=len(enc.dictionary)))
    start = 0
    for key, end in zip(enc.dictionary.to_pylist(), ends.tolist()):
        yield key, rows.slice(start, end - start)
        start = end


def build_partials(df: DataFrame, specs: list[SketchSpec],
                   salt_partitions: int | None = None,
                   route_for: str | None = None,
                   route_partitions: int | None = None,
                   group_col: str | None = None) -> DataFrame:
    """One vectorized pass over ``df`` building every spec's partial
    per Spark partition. Returns a tiny DataFrame of serialized partials
    (``PARTIAL_DDL``) with per-partition lineage (partition_id, n_rows) —
    the checkpointable unit for resumable builds.

    Without ``group_col`` each partition emits one row per spec, even
    when it is empty, with a null ``group_key``. With ``group_col`` it
    emits one row per (group, spec) for each group present in it, the
    key carried as its string form; rows with a null key are dropped.

    ``route_for`` names a BLOCKED spec — a bloom with ``block_bits`` or a
    cbf with ``block_slots`` (both pick the block from the hash's top
    bits, so the routing expression is identical) — to route where
    routing pays: the projection is exchanged on that spec's hash-block
    id into ``route_partitions`` partitions, so every partition's partial
    touches only its own cache-resident blocks —
    the reference's `hmin % q` minimizer routing (SkmerExtractor.cpp:164)
    as an explicit Spark repartition. Routing exists purely to shrink the
    per-task working set from m_bits to ~m_bits/P, so it runs only when
    the spec's ``wire_bytes_bound`` is at least ``ROUTE_MIN_BYTES``.
    Below that the filter fits in cache and the build is exactly the
    ``route_for=None`` build: no exchange, ``route_partitions`` unused,
    and the spec's bound counted once per partition.

    However the rows are partitioned (routed, salted or as they come) and
    however the partials are merged, a ``merge_exact`` kind merges to the
    same bytes; KLL, t-digest and Misra-Gries merge to sketches within
    their stated bounds (tests/test_merge_invariance.py).

    An ungrouped build's sketch column carries the specs'
    ``wire_bytes_bound`` totals in its metadata, for ``merge_plan``.
    Duplicate spec names, and a ``route_for`` that names no spec, raise
    ``ValueError``.
    """
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names in {names}")
    if route_for is not None and route_for not in names:
        raise ValueError(f"route_for={route_for!r} names no spec of {names}")
    if route_for:
        spec = specs[names.index(route_for)]
        bb = int(spec.params.get("block_bits", 0) or spec.params.get("block_slots", 0))
        mb = int(spec.params.get("m_bits", 0) or spec.params.get("m_slots", 0))
        if not bb or not mb or mb % bb:
            raise ValueError(
                "route_for requires a blocked spec (bloom block_bits / cbf block_slots)")
        nb_log2 = int(math.log2(mb // bb))
        if sketch_class(spec.kind).wire_bytes_bound(**spec.params) < ROUTE_MIN_BYTES:
            route_for = None  # the filter fits in cache: the exchange buys nothing
    cols, col_index = _dedup_projection(specs)
    if group_col is not None:
        # the key rides last, so the spec column indices do not move
        cols.append(F.col(group_col).cast("string").alias("_g"))
    proj = df.select(*cols)
    if route_for:
        block = F.shiftrightunsigned(F.col(f"_c{col_index[route_for]}"), 64 - nb_log2)
        nparts = route_partitions or df.sparkSession.sparkContext.defaultParallelism
        proj = proj.repartition(nparts, block)
    elif salt_partitions:
        # explicit salted round-robin spread for skewed upstreams; the
        # merged result is invariant to this (tested), it only balances
        # work. Placement note (measured, BENCH.md §2b): this salts the
        # hash PROJECTION, i.e. it balances the sketch-insert stage. If
        # the expensive work is an upstream derivation (e.g. shingle
        # explode), salt the rows BEFORE that derivation instead —
        # df.repartition(n) ahead of the explode measured 4.35x on a
        # role-skewed fixture where projection-level salting was noise.
        proj = proj.repartition(salt_partitions)
    makers = [(s.kind, dict(s.params)) for s in specs]
    inputs = [(s.is_value, col_index[s.name]) for s in specs]
    slices = _group_slices if group_col is not None else (lambda b: [(None, b)])

    def fresh() -> list[MergeableSketch]:
        return [sketch_class(kind).create(**params) for kind, params in makers]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # group key -> one sketch per spec; an ungrouped partition has the
        # one key None and reports it even when it is empty
        acc = {} if group_col is not None else {None: fresh()}
        n_rows = dict.fromkeys(acc, 0)
        for batch in batches:
            for key, rows in slices(batch):
                if key not in acc:
                    acc[key], n_rows[key] = fresh(), 0
                n_rows[key] += rows.num_rows
                _update(acc[key], inputs, rows)
        if acc:
            yield _partials_batch([(g, name) for g in acc for name in names],
                                  [n_rows[g] for g in acc for _ in names],
                                  [sk for sks in acc.values() for sk in sks],
                                  TaskContext.get().partitionId())

    partials = proj.mapInArrow(build, schema=PARTIAL_DDL)
    if group_col is not None:
        return partials
    per_partition, once = partial_wire_bytes(specs, route_for)
    return partials.withMetadata("sketch", {"wire_bytes_per_partition": per_partition,
                                            "wire_bytes_once": once})


def _partials_batch(keys: list[tuple[str | None, str]], n_rows: list[int],
                    sketches: list[MergeableSketch], partition_id: int) -> pa.RecordBatch:
    """One ``PARTIAL_DDL`` row per (group_key, spec_name) key."""
    return pa.RecordBatch.from_pydict(
        {
            "group_key": [g for g, _ in keys],
            "spec_name": [name for _, name in keys],
            "partition_id": [partition_id] * len(keys),
            "n_rows": n_rows,
            "sketch": [sk.to_bytes() for sk in sketches],
        },
        schema=_PARTIAL_SCHEMA,
    )


def _merge_batches(batches: Iterator[pa.RecordBatch],
                   partition_id: int) -> Iterator[pa.RecordBatch]:
    """Arrow-side combiner: folds all partial rows of ``batches`` into
    one row per (group_key, spec_name), in row order."""
    acc: dict[tuple[str | None, str], MergeableSketch] = {}
    n_rows: dict[tuple[str | None, str], int] = {}
    for batch in batches:
        keys = zip(batch.column("group_key").to_pylist(), batch.column("spec_name").to_pylist())
        counts = batch.column("n_rows").to_pylist()
        blobs = batch.column("sketch")
        for i, key in enumerate(keys):
            sk = MergeableSketch.from_bytes(blobs[i].as_py())
            acc[key] = sk if key not in acc else acc[key].merge(sk)
            n_rows[key] = n_rows.get(key, 0) + (counts[i] or 0)
    if acc:
        yield _partials_batch(list(acc), [n_rows[k] for k in acc], list(acc.values()),
                              partition_id)


def _merge_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    return _merge_batches(batches, TaskContext.get().partitionId())


# ------------------------------------------------------------ merge plan

# The largest partial total (by ``wire_bytes_bound``) that is collected
# and folded on the driver instead of merged on the executors. The
# executor merge costs a shuffle and one Python task per non-empty
# shuffle partition whatever the bytes; the driver fold costs one Arrow
# collect and a serial fold. On 4 cores the driver fold was the faster
# from 4 MiB to 80 MiB of partials (CHANGES.md); the cut-off stays below
# the m = 2^29 (64 MiB) Bloom builds, which the 32-core box has not been
# measured on.
DRIVER_FOLD_MAX_BYTES = 32 << 20

# The smallest ``route_for`` spec (by ``wire_bytes_bound``) that is routed.
# The exchange costs a second stage whatever the size; it pays only once
# an unrouted task's whole filter no longer fits in cache (Putze et al.'s
# cache-blocking argument). On 4 cores (``make route-cutoff``, CHANGES.md)
# the routed 5-spec build was the faster from a Bloom of m = 2^26 and a
# CBF of 2^21 slots (both 8 MiB), and at m = 2^25 only over 100k rows
# (over 1M rows the unrouted one was the faster there).
ROUTE_MIN_BYTES = 8 << 20


def partial_wire_bytes(specs: list[SketchSpec],
                       route_for: str | None = None) -> tuple[int, int]:
    """Upper bounds, fixed by the spec params whatever the rows, on the
    partials' wire bytes: (per partition, once in total), so that P
    partitions' partials take at most ``once + P * per_partition``. A
    routed spec's partials are block-disjoint, so its bound counts once
    (its P envelope headers, ~50 B each, are left out)."""
    per_partition = once = 0
    for s in specs:
        b = sketch_class(s.kind).wire_bytes_bound(**s.params)
        if s.name == route_for:
            once += b
        else:
            per_partition += b
    return per_partition, once


def merge_plan(wire_bytes: int | None) -> str:
    """Where partials bounded by ``wire_bytes`` in total (None: unknown)
    are folded: ``"driver"`` up to ``DRIVER_FOLD_MAX_BYTES``, else
    ``"executors"`` (``_executor_merge``)."""
    small = wire_bytes is not None and wire_bytes <= DRIVER_FOLD_MAX_BYTES
    return "driver" if small else "executors"


def _partition_count(df: DataFrame) -> int | None:
    """``df``'s partition count as far as its physical plan tells without
    running a job, else None. With adaptive execution on, the count of
    an exchange is an upper bound (coalescing only lowers it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the initial plan, exchanges inserted
    return _plan_partitions(plan)


def _plan_partitions(node) -> int | None:
    n = node.outputPartitioning().numPartitions()
    if n > 0:
        return n
    children = node.children()
    kids = [children.apply(i) for i in range(children.size())]
    name = node.getClass().getSimpleName()
    if not kids:
        # the leaves whose splits are known without a job: file splits
        # (unless a subquery prunes them), driver-side rows, and a cache
        # that is already filled
        if name == "FileSourceScanExec" and "dynamicpruning" not in \
                node.partitionFilters().toString().lower():
            return node.inputRDD().getNumPartitions()
        if name == "RDDScanExec":
            return node.execute().getNumPartitions()
        if name == "InMemoryTableScanExec":
            cache = node.relation().cacheBuilder()
            if cache.isCachedColumnBuffersLoaded():
                return cache.cachedColumnBuffers().getNumPartitions()
        return None
    counts = [_plan_partitions(k) for k in kids]
    if None in counts or (len(counts) > 1 and name != "UnionExec"):
        return None
    return sum(counts)


def _plan_for(partials: DataFrame) -> str:
    """``merge_plan`` for a ``build_partials`` result: its spec bounds
    ride on the sketch column's metadata, P is its partition count. Other
    partial frames (no metadata) take the executor merge."""
    meta = partials.schema["sketch"].metadata
    wire_bytes = None
    if "wire_bytes_per_partition" in meta:
        p = _partition_count(partials)
        if p is not None:
            wire_bytes = meta["wire_bytes_once"] + p * meta["wire_bytes_per_partition"]
    return merge_plan(wire_bytes)


def _executor_merge(partials: DataFrame) -> DataFrame:
    """Fold partials on the executors to one row per (group_key,
    spec_name): one exchange on that key, then ``_merge_batches`` in each
    task. The global and the grouped build both merge this way."""
    return partials.repartition("group_key", "spec_name").mapInArrow(_merge_task, PARTIAL_DDL)


def tree_merge(partials: DataFrame) -> dict[str, MergeableSketch]:
    """Merge partial sketches into one sketch per spec — the merge
    primitive the reference lacks (its q filters stay disjoint forever,
    main.cpp:119-127). ``merge_plan`` picks where: on the driver, the
    P partials are collected and folded here, with no shuffle and no
    merge task; on the executors, each spec's partials are folded in one
    task (``_executor_merge``) and the driver collects one row per spec.
    Either way the rows come to the driver over Arrow."""
    if _plan_for(partials) == "executors":
        partials = _executor_merge(partials)
    return merge_partials_local(partials.toArrow().to_pylist())


def build_and_persist(df: DataFrame, specs: list[SketchSpec], path: str,
                      route_for: str | None = None,
                      route_partitions: int | None = None) -> None:
    """Cluster-side build: scan -> partials -> merge -> parquet state at
    ``path``, one ``PARTIAL_DDL`` row per spec; consumers load exactly the
    specs they need via ``load_sketches``. The merge follows
    ``merge_plan``: on the driver, the driver merges the small partials
    and writes the state in one task; on the executors, the executors
    write it and the driver never ingests the merged blobs (at m = 2^29+
    the collect is seconds of serial time a cluster job shouldn't pay).
    This is the scale-correct form of the reference's stubbed binary sink
    (main.cpp:233-239)."""
    partials = build_partials(df, specs, route_for=route_for, route_partitions=route_partitions)
    if _plan_for(partials) == "driver":
        # the executors' combiner, run here over the collected partials
        folded = _merge_batches(partials.toArrow().to_batches(), 0)
        table = pa.Table.from_batches(list(folded), schema=_PARTIAL_SCHEMA)
        state = df.sparkSession.createDataFrame(table).coalesce(1)
    else:
        state = _executor_merge(partials)
    state.write.mode("overwrite").parquet(path)


def load_sketches(spark, path: str, names: list[str] | None = None
                  ) -> dict[str, MergeableSketch]:
    """Load merged sketches from a ``build_and_persist`` state dir,
    optionally only the named specs (predicate pushes to the parquet scan).
    The schema is given, so the load runs no schema-inference job; a state
    written before ``group_key`` existed reads it as null."""
    df = spark.read.schema(PARTIAL_DDL).parquet(path)
    if names:
        df = df.where(F.col("spec_name").isin(list(names)))
    return merge_partials_local(df.collect())


def build_sketches(df: DataFrame, specs: list[SketchSpec],
                   salt_partitions: int | None = None,
                   route_for: str | None = None) -> dict[str, MergeableSketch]:
    """scan -> per-partition partials (mapInArrow) -> ``tree_merge``."""
    return tree_merge(build_partials(df, specs, salt_partitions=salt_partitions,
                                     route_for=route_for))


def merge_partials_local(partial_rows) -> dict[str, MergeableSketch]:
    """Driver-side fold of collected partial rows (used by checkpoint
    resume where partials are already tiny local objects)."""
    by_name: dict[str, list[bytes]] = {}
    for r in partial_rows:
        by_name.setdefault(r["spec_name"], []).append(bytes(r["sketch"]))
    return {k: merge_all(v) for k, v in by_name.items()}


# ---------------------------------------------------------------- probe

# Worker-process-level cache of deserialized broadcast sketches: python
# workers are reused across tasks, and deserializing (and for Bloom,
# unpacking) a large sketch once per Arrow BATCH would dominate probe
# cost. Keyed by a driver-generated token; FIFO bounded by entry count
# AND resident bytes — a probed Bloom is held unpacked at byte-per-bit
# (m_bits bytes, 8x its packed blob), so four m=2^29 filters would pin
# 2 GB per worker if only the entry count were capped.
_PROBE_CACHE: dict[str, tuple[MergeableSketch, int]] = {}
_PROBE_CACHE_MAX = 4
_PROBE_CACHE_MAX_BYTES = 1 << 30


def _resident_bytes(sk: MergeableSketch, blob_len: int) -> int:
    """Worst-case in-memory footprint of a cached sketch — asks the
    sketch itself (``resident_nbytes``, e.g. Bloom's unpacked byte-per-
    bit form or CBF's int64 counter array, both of which can dwarf a
    sparse wire blob); wire length is only the fallback for kinds whose
    working form is the deserialized payload itself."""
    n = sk.resident_nbytes()
    if n is not None:
        return int(n)
    return max(blob_len, 1)


def _cached_from_bytes(token: str, blob: bytes) -> MergeableSketch:
    hit = _PROBE_CACHE.get(token)
    if hit is not None:
        return hit[0]
    sk = MergeableSketch.from_bytes(blob)
    nbytes = _resident_bytes(sk, len(blob))
    total = sum(b for _, b in _PROBE_CACHE.values())
    while _PROBE_CACHE and (
        len(_PROBE_CACHE) >= _PROBE_CACHE_MAX
        or total + nbytes > _PROBE_CACHE_MAX_BYTES
    ):
        _, evicted = _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        total -= evicted
    # an oversized sketch is still cached (alone): the worker needs it
    # resident for the current task stream regardless
    _PROBE_CACHE[token] = (sk, nbytes)
    return sk


# sketch method -> (Spark return type, Arrow return type)
_PROBE_TYPES = {"probe_hashes": ("boolean", pa.bool_()),
                "estimate_hashes": ("long", pa.int64())}


def _probe_udf(spark, sketch, method: str):
    """Arrow UDF mapping a column of int64 key hashes to ``sketch.<method>``
    of each: the blob is broadcast once and deserialized once per worker
    (``_cached_from_bytes``). A null hash (null key) answers as absent:
    False, or an estimate of 0."""
    blob = sketch.to_bytes() if isinstance(sketch, MergeableSketch) else bytes(sketch)
    bc = spark.sparkContext.broadcast(blob)
    token = uuid.uuid4().hex
    spark_type, arrow_type = _PROBE_TYPES[method]

    @F.arrow_udf(spark_type)
    def probe(h: pa.Array) -> pa.Array:
        sk = _cached_from_bytes(token, bc.value)
        out = getattr(sk, method)(h.fill_null(0).to_numpy())
        if h.null_count:
            out = np.where(h.is_valid().to_numpy(zero_copy_only=False), out, 0)
        return pa.array(out, type=arrow_type)

    return probe


def with_might_contain(df: DataFrame, key: str | Column, sketch, out_col: str = "might_contain",
                       pre_hashed: bool = False) -> DataFrame:
    """Broadcast-probe: adds a boolean column testing key membership in a
    merged Bloom sketch — the analog of the reference query phase
    (SkmerSplitter.cpp:91-151) and of Spark's own runtime
    BloomFilterMightContain. Zero false negatives by construction; a null
    key probes False.

    Map-side only: JVM xxhash64 -> Arrow batch -> numpy probe. No shuffle.
    ``pre_hashed`` marks a key column that already carries the 64-bit
    hash (e.g. the rolled k-mer kernel); it must match the build side's
    ``SketchSpec(..., pre_hashed=True)`` so both run the identical hash.
    """
    key_col = F.expr(key) if isinstance(key, str) else key
    probe = _probe_udf(df.sparkSession, sketch, "probe_hashes")
    return df.withColumn(out_col, probe(_key_hash(key_col, pre_hashed)))


def with_cms_estimate(df: DataFrame, key: str | Column, sketch, out_col: str = "cms_estimate",
                      ) -> DataFrame:
    """Adds the count-min frequency estimate for each row's key (map-side);
    a null key estimates 0."""
    key_col = F.expr(key) if isinstance(key, str) else key
    est = _probe_udf(df.sparkSession, sketch, "estimate_hashes")
    return df.withColumn(out_col, est(_key_hash(key_col, False)))


def register_probe_udf(spark, sketch, name: str = "might_contain_udf") -> str:
    """Register the broadcast sketch probe as a SQL-callable function
    (SURVEY §2.2 UDF-registration surface — absent in the reference,
    whose 'API' is main() plus three worker functions): after
    ``register_probe_udf(spark, bloom, "bloom_seen")``, any
    ``spark.sql`` string can write ``WHERE bloom_seen(xxhash64(text))``.
    Same execution shape as with_might_contain — broadcast blob,
    worker-cached deserialization, Arrow-batched vectorized probe,
    map-side only — just exposed through the catalog instead of the
    DataFrame DSL.  Returns the registered name."""
    spark.udf.register(name, _probe_udf(spark, sketch, "probe_hashes"))
    return name
