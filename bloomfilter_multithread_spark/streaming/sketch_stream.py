"""Structured Streaming surface: incremental sketch maintenance.

The reference is a bounded two-phase batch program — its FIFO/semaphore
machinery (/root/reference/src/main.cpp:83-103) is intra-process
micro-batching, not event-time streaming (SURVEY.md §2.2). This module is
the genuinely-new streaming surface the mergeable-sketch design enables:

- ``StreamingSketchBuilder``: readStream -> foreachBatch -> per-batch
  partial build (the same one-pass ``build_partials`` as batch) ->
  merge-into-state: the previous state and the batch's partials go
  through the batch build's one ``_fold``, with the partials merged on
  the executors first when ``merge_plan`` says so. The state is one
  ``PARTIAL_DDL`` parquet file, ``<state_dir>/state.parquet``, written by
  the driver and readable with ``load_sketches``. Because every sketch
  merge is associative + commutative + idempotent-on-replay *at the
  batch level* (we commit per-epoch markers), a restart replays at most
  one epoch and converges to the identical sketch a batch build over the
  full input produces (asserted bit-exactly for Bloom/HLL/CMS in tests).
- ``running_distinct_per_key``: custom stateful operator via
  ``applyInPandasWithState`` — a per-key running mergeable sketch (HLL
  registers or a KMV envelope, ``kind=``) kept in GroupState, emitting
  (key, estimate) updates each micro-batch.
- ``windowed_counts``: event-time tumbling windows + watermark for late
  data, straight from the built-in surface.

Scale notes: foreachBatch state is O(specs * sketch_bytes) regardless of
stream length; a batch's partials cross to the driver only when their
bound is within ``DRIVER_FOLD_MAX_BYTES``, else they are merged on the
executors first (one row per spec).
At 10^12 turns the same pipeline runs continuously with
``trigger(processingTime=...)`` on a real cluster; tests use
``trigger(availableNow=True)`` for bounded determinism.
"""

from __future__ import annotations

import json
import os
from itertools import chain
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.build import (SketchSpec, _PARTIAL_SCHEMA, _fold_by_spec, _merge_batches,
                               _planned_batches, _spec_signature, _wire_bytes, _write_parquet,
                               build_partials)
from ..sketches import MergeableSketch


class StreamingSketchBuilder:
    """Maintains one merged sketch per spec across micro-batches.

    State layout (local or any shared FS):
      <state_dir>/state.parquet   one ``PARTIAL_DDL`` row per spec; the
                                  schema metadata holds the last merged
                                  epoch, the owning checkpoint and the
                                  specs' ``[name, kind, params]``
    written by the driver with pyarrow, atomically (tmp + rename), and
    readable with ``load_sketches``. Each epoch folds the previous state
    and the batch's partials in one ``_fold``; the partials are merged on
    the executors first when their bound says so (``merge_plan``), as in
    a batch build. ``foreach_batch`` is idempotent per epoch: a replayed
    epoch (restart after crash between state write and checkpoint commit)
    is detected and skipped, so state never double-counts a batch even
    though sketch merge itself is not idempotent for CMS. A state built
    with other specs, or by another checkpoint, raises ``ValueError``.
    """

    def __init__(self, specs: list[SketchSpec], state_dir: str):
        self.specs = specs
        self.state_dir = state_dir
        self._checkpoint: str | None = None  # identity guard, set by start()
        os.makedirs(state_dir, exist_ok=True)

    @property
    def state_path(self) -> str:
        return os.path.join(self.state_dir, "state.parquet")

    def load_state(self) -> tuple[int, dict[str, MergeableSketch]]:
        epoch, batches, _ = self._load_raw()
        return epoch, _fold_by_spec(batches)

    def _load_raw(self) -> tuple[int, list[pa.RecordBatch], dict[bytes, bytes]]:
        if os.path.exists(os.path.join(self.state_dir, "state.json")):
            raise ValueError(
                f"{self.state_dir} holds a state.json, the hex-encoded state format this "
                "version no longer reads: rebuild the stream into a fresh state_dir")
        try:
            table = pq.read_table(self.state_path)
        except FileNotFoundError:
            return -1, [], {}
        return int(table.schema.metadata[b"epoch"]), table.to_batches(), table.schema.metadata

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        last_epoch, state, meta = self._load_raw()
        owner = meta.get(b"checkpoint", b"").decode() or None
        # The epoch-replay guard assumes epoch ids grow within ONE
        # checkpointed query. Reusing a state_dir with a NEW checkpoint
        # restarts epoch ids at 0, which the guard would silently treat
        # as replays and skip every batch — fail loudly instead.
        if owner is not None and self._checkpoint is not None and owner != self._checkpoint:
            raise ValueError(
                f"sketch state at {self.state_dir} belongs to checkpoint {owner!r}; "
                f"this query uses {self._checkpoint!r} — resuming would silently "
                "skip batches. Use a fresh state_dir (or the original checkpoint)."
            )
        specs = _spec_signature(self.specs)
        if meta and json.loads(meta[b"specs"]) != specs:
            raise ValueError(
                f"specs {specs} differ from the {json.loads(meta[b'specs'])} that the state at "
                f"{self.state_dir} was built with; an added spec would cover only the later "
                "epochs. Use a fresh state_dir.")
        if epoch_id <= last_epoch:
            return  # replayed epoch after restart — already merged
        partials = build_partials(batch_df, self.specs)
        folded = _merge_batches(chain(state, _planned_batches(partials, _wire_bytes(partials))))
        schema = _PARTIAL_SCHEMA.with_metadata(
            {"epoch": str(epoch_id), "checkpoint": self._checkpoint or "", "specs": json.dumps(specs)})
        tmp = self.state_path + ".tmp"
        _write_parquet(pa.Table.from_batches(folded, schema), tmp)
        os.replace(tmp, self.state_path)

    def start(self, stream_df: DataFrame, checkpoint_dir: str, available_now: bool = True):
        self._checkpoint = checkpoint_dir
        writer = (
            stream_df.writeStream.foreachBatch(self.foreach_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def build_available(self, stream_df: DataFrame, checkpoint_dir: str,
                        timeout_s: int = 300) -> dict[str, MergeableSketch]:
        """Process everything currently available, then return the merged
        sketches (Trigger.AvailableNow — the streaming analog of the
        reference's phase barrier, main.cpp:124-133)."""
        q = self.start(stream_df, checkpoint_dir, available_now=True)
        q.awaitTermination(timeout_s)
        _, state = self.load_state()
        return state


def read_parquet_stream(spark: SparkSession, path: str, schema,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


# ----------------------------------------------------- stateful operator


_SKETCH_STATE_SCHEMA = "sketch binary, n long"  # envelope bytes: any registered kind
_RUNNING_OUT_DDL = "key string, n_turns long, est_distinct long"


def running_distinct_per_key(stream_df: DataFrame, key_col: str, value_col: str,
                             p: int = 12, timeout: str = "NoTimeout",
                             kind: str = "hll", params: dict | None = None) -> DataFrame:
    """Custom stateful streaming op: per-key running distinct-value
    estimate via a mergeable sketch held in GroupState. Emits one updated
    (key, n_turns, est_distinct) row per key per micro-batch.

    ``kind`` selects any registered hashed sketch with an ``estimate()``
    (``"hll"`` p=12 → 4 KiB state/key; ``"kmv"`` k via ``params`` →
    k·8 B state/key and exact counts until saturation — pick per key
    cardinality budget). State stores the serialized envelope, so a
    restart resumes the exact sketch (version-checked by ``from_bytes``).

    The update path is vectorized: values arrive pre-hashed (JVM
    xxhash64); the pandas handler folds whole batches into the sketch
    with numpy — no per-row Python."""
    from ..sketches import sketch_class

    cls = sketch_class(kind)
    if params is None:
        params = {"p": p} if kind == "hll" else {}

    hashed = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.xxhash64(F.col(value_col)).alias("h"),
    )

    def update(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            sketch_bytes, n = state.get
            sk = cls.from_bytes(bytes(sketch_bytes))
        else:
            sk, n = cls.create(**params), 0
        for pdf in pdf_iter:
            sk.update_hashes(pdf["h"].to_numpy(dtype=np.int64))
            n += len(pdf)
        state.update((bytearray(sk.to_bytes()), n))
        yield pd.DataFrame(
            {"key": [key[0]], "n_turns": [n], "est_distinct": [int(round(sk.estimate()))]}
        )

    return hashed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_OUT_DDL,
        stateStructType=_SKETCH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                    window: str = "10 minutes", watermark: str = "30 minutes",
                    key_col: str | None = None) -> DataFrame:
    """Event-time tumbling-window counts + approx distinct with watermarked
    late-data handling — the built-in surface, included for completeness of
    the streaming operator inventory (SURVEY.md §2.2 'streaming: none')."""
    agg_keys = [F.window(ts_col, window).alias("win")]
    if key_col:
        agg_keys.append(F.col(key_col))
    aggs = [F.count("*").alias("n_rows")]
    if key_col is None:
        aggs.append(F.approx_count_distinct(ts_col).alias("approx_distinct_ts"))
    return stream_df.withWatermark(ts_col, watermark).groupBy(*agg_keys).agg(*aggs)


_RUNNING_Q_OUT_DDL = (
    "key string, n_turns long, p50_milli long, p90_milli long, p99_milli long"
)


def running_quantiles_per_key(stream_df: DataFrame, key_col: str, value_col: str,
                              kind: str = "tdigest", params: dict | None = None,
                              timeout: str = "NoTimeout") -> DataFrame:
    """VALUE-sketch twin of :func:`running_distinct_per_key`: per-key
    running latency/size quantiles via a mergeable value sketch
    (t-digest or KLL) held in GroupState — "p99 latency per tool,
    updated per micro-batch" without ever storing the raw values.

    State is the serialized envelope (t-digest δ=200 ≈ a few KiB per
    key; restart resumes the exact digest, version-checked). The update
    path folds whole Arrow batches with ``update_values`` — no per-row
    Python. Emits (key, n_turns, p50/p90/p99 in milli-units) per key
    per micro-batch; stream ≡ batch equality within the sketch's
    determinism is pinned in tests/test_streaming.py."""
    from ..sketches import sketch_class

    cls = sketch_class(kind)
    if params is None:
        params = {"delta": 200.0} if kind == "tdigest" else {}

    proj = stream_df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("v"),
    )

    def update(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            sketch_bytes, n = state.get
            sk = cls.from_bytes(bytes(sketch_bytes))
        else:
            sk, n = cls.create(**params), 0
        for pdf in pdf_iter:
            vals = pdf["v"].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            sk.update_values(vals)
            n += len(pdf)
        state.update((bytearray(sk.to_bytes()), n))
        milli = [int(round(sk.quantile(q) * 1000)) for q in (0.5, 0.9, 0.99)]
        yield pd.DataFrame(
            {"key": [key[0]], "n_turns": [n],
             "p50_milli": [milli[0]], "p90_milli": [milli[1]], "p99_milli": [milli[2]]}
        )

    return proj.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_Q_OUT_DDL,
        stateStructType=_SKETCH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
