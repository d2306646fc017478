"""Checkpointed, resumable sketch builds with per-partition lineage.

Re-expression of the reference's stubbed binary sink ("TODO: write in
output file !!!", /root/reference/src/main.cpp:233-239) as a real state
store: every per-partition partial sketch row (``PARTIAL_DDL`` plus a
``written_at`` stamp) is written to a parquet state directory together
with build metadata. A killed build resumes by re-running ONLY missing
chunks, then merges every chunk's partials where ``merge_plan`` says; a
resume with other specs than the stored ones raises ``ValueError``.

Lineage & metrics per partition: partition_id, n_rows, sketch bytes
size, wall-time stamp of the chunk write. The merge is associative +
commutative, so resuming in any order yields the identical final sketch
(asserted by tests).

At cluster scale the same layout works unchanged: the state dir is any
Hadoop-compatible path; chunked writes commit atomically per chunk via
parquet's _SUCCESS-style rename semantics.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import (PARTIAL_DDL, SketchSpec, _fold_by_spec, _partition_count,
                               _planned_batches, _spec_signature, build_partials,
                               partial_wire_bytes)
from ..sketches import MergeableSketch


class SketchCheckpoint:
    """State dir layout:
    <dir>/meta.json                 build config: chunking, the specs'
                                    [name, kind, params], and each
                                    committed chunk's partition count
    <dir>/partials/chunk=<i>/*.parquet   ``PARTIAL_DDL`` rows for input
                                    chunk i, plus ``written_at``
    """

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.partials_dir = os.path.join(state_dir, "partials")

    # -- metadata ------------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.state_dir, "meta.json")

    def write_meta(self, meta: dict) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        with open(self._meta_path(), "w") as f:
            json.dump(meta, f, indent=2)

    def read_meta(self) -> dict | None:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # -- chunk state -----------------------------------------------------
    def completed_chunks(self, spark: SparkSession) -> set[int]:
        """The chunks whose write committed (parquet ``_SUCCESS``)."""
        done = glob.glob(os.path.join(glob.escape(self.partials_dir), "chunk=*", "_SUCCESS"))
        return {int(os.path.basename(os.path.dirname(p)).split("=", 1)[1]) for p in done}

    def chunk_path(self, chunk: int) -> str:
        return os.path.join(self.partials_dir, f"chunk={chunk}")

    # -- main API ----------------------------------------------------------
    def build_resumable(self, df: DataFrame, specs: list[SketchSpec], n_chunks: int = 8,
                        chunk_key=None) -> dict[str, MergeableSketch]:
        """Split the input into ``n_chunks`` deterministic hash-chunks
        (chunk = pmod(xxhash64(chunk_key), n_chunks)); build + persist
        partials chunk-by-chunk, skipping chunks already committed; merge
        all persisted partials into the final sketches.

        Kill/restart at any point ⇒ identical final result (merge is
        associative+commutative; chunks are deterministic row sets)."""
        spark = df.sparkSession
        chunk_key = chunk_key if chunk_key is not None else F.lit(1)
        meta = self.read_meta()
        if meta is None:
            meta = {
                "n_chunks": n_chunks,
                "specs": _spec_signature(specs),
                "started_at": time.time(),
                "chunks": {},
            }
            self.write_meta(meta)
        elif meta["specs"] != _spec_signature(specs):
            raise ValueError(
                f"specs {_spec_signature(specs)} differ from the {meta['specs']} that the "
                f"checkpoint at {self.state_dir} was built with; a resume would build the "
                "difference from the missing chunks only. Use a fresh state_dir.")
        n_chunks = meta["n_chunks"]

        done = self.completed_chunks(spark)
        chunked = df.withColumn("__chunk", F.pmod(F.xxhash64(chunk_key), F.lit(n_chunks)))
        for chunk in range(n_chunks):
            if chunk in done:
                continue
            part = build_partials(chunked.where(F.col("__chunk") == chunk).drop("__chunk"), specs)
            part = part.withColumn("written_at", F.lit(time.time()))
            part.write.mode("overwrite").parquet(self.chunk_path(chunk))
            meta["chunks"][str(chunk)] = {"committed_at": time.time(),
                                          "partitions": _partition_count(part)}
            self.write_meta(meta)

        return self.merge_state(spark)

    def merge_state(self, spark: SparkSession) -> dict[str, MergeableSketch]:
        """Fold every committed chunk's partials where ``merge_plan`` says.
        The bound is the stored specs' per-partition bound times the
        partition count each chunk recorded at commit; a chunk without one
        leaves it unknown (the executor merge)."""
        meta = self.read_meta()
        chunks = [meta["chunks"].get(str(c), {}).get("partitions")
                  for c in self.completed_chunks(spark)]
        specs = [SketchSpec(name, kind, "", params) for name, kind, params in meta["specs"]]
        wire_bytes = None if None in chunks else sum(chunks) * partial_wire_bytes(specs)[0]
        df = spark.read.schema(PARTIAL_DDL).parquet(os.path.join(self.partials_dir, "chunk=*"))
        return _fold_by_spec(_planned_batches(df, wire_bytes))

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage + metrics: one row per (chunk, partition,
        spec) with n_rows and sketch byte size."""
        df = spark.read.option("basePath", self.partials_dir).parquet(
            os.path.join(self.partials_dir, "chunk=*")
        )
        return df.select(
            "chunk", "spec_name", "partition_id", "n_rows",
            F.length("sketch").alias("sketch_bytes"), "written_at",
        )
