"""Sketches as PER-KEY aggregates — ``GROUP BY key, approx_agg(x)``.

The grouped build is the global build (``build.py``) with a group key:
the same one-pass ``mapInArrow`` kernel splits each Arrow batch by key
(one stable sort of the batch's dictionary codes) and emits one partial
per (group, spec) present in the partition; the same ``_merge_batches``
then folds the partials, exchanged on (group_key, spec_name). The
shuffle moves at most |groups x partitions x specs| sketch blobs, never
data rows. The global build's spread level is skipped: the group keys
already spread the merge. A hot group still fans in to one merge task,
but its input is capped at one partial per map partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sketches import MergeableSketch
from .build import SketchSpec, _merge_levels, build_partials


def build_sketches_grouped(
    df: DataFrame, group_col: str, specs: list[SketchSpec]
) -> DataFrame:
    """One merged sketch per (group, spec). The group key is carried as
    its string form (cast both when joining back); null keys are dropped.
    Returns a DataFrame (group_key, spec_name, n_rows, sketch) with
    exactly one row per (group, spec)."""
    return _merge_levels(build_partials(df, specs, group_col=group_col), fanout=1) \
        .select("group_key", "spec_name", "n_rows", "sketch")


def collect_grouped(merged: DataFrame) -> dict[tuple[str, str], MergeableSketch]:
    """Driver-side view: {(group_key, spec_name): sketch} — for modest
    group counts (estimates, probe broadcast); leave the DataFrame form
    for high-cardinality keys."""
    return {
        (r["group_key"], r["spec_name"]): MergeableSketch.from_bytes(bytes(r["sketch"]))
        for r in merged.collect()
    }
