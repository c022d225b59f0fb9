"""THE versioned state-plane cycle, written once for every ``streaming/``
plane (rollup, profile, drift counts / embedding moments, term stats,
the packing manifest + cursors, the exact / line / passage key screens,
the MinHash band index, the lifecycle's landed vectors and curation's
``_meta`` side table).

Layout of one plane rooted at ``plane_dir`` (metadata IO through
``state_io``, parquet IO through Spark):

- ``<deltas>/batch=<id>/`` — each micro-batch OVERWRITES its own delta
  dir, so a replayed batch converges instead of doubling. ``deltas`` is
  the plane's delta subdir (``_deltas`` by default; ``""`` puts the
  batch dirs directly under ``plane_dir``).
- ``base/v=<n>/`` + ``_latest`` — :func:`fold` merges the base and the
  deltas inside a horizon into a new base version, then flips the
  pointer. Deltas at or below the pointer are dead to every reader, so
  deleting them is garbage collection, safe at any moment.
- tombstones — ``<marker_root>/batch=<t>/`` hold ``(id, t)`` rows. A
  marker is live while ``t`` is strictly above the pointer, and it
  kills rows RANKED below ``t``: a delta ranks as its batch id, the base
  as the pointer (every base row was inserted at or below it, every
  live marker sits strictly above it). A later re-insert lands above
  ``t`` and serves again. A fold applies the markers inside its
  horizon physically and GCs their dirs.

Crash story (the reference's versioned-checkpoint discipline,
RocksDBFileManager): an unflipped new base is never read, a flipped
pointer makes the folded deltas and markers dead, and every GC delete
after the flip is idempotent — re-running the fold converges to one
base version and an empty folded-delta listing.

Horizons: ``before`` is always EXCLUSIVE (``None`` = no cut). Compactors
whose public ``upto_batch`` is inclusive pass ``upto_batch + 1``.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Callable, Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_streaming_sql_s3_connector_spark.streaming import state_io

DELTAS = "_deltas"
# explicit schema: an empty delete writes a _SUCCESS-only marker dir,
# which schema inference rejects but a fixed schema reads as empty
MARKER_SCHEMA = "_id bigint, t bigint"

Ranked = tuple[int, DataFrame]
Merge = Callable[[list[Ranked], Optional[DataFrame]], DataFrame]


# --- paths and listings -----------------------------------------------------


def delta_root(plane_dir: str, deltas: str = DELTAS) -> str:
    return os.path.join(plane_dir, deltas) if deltas else plane_dir


def delta_dir(plane_dir: str, batch_id: int, deltas: str = DELTAS) -> str:
    return os.path.join(delta_root(plane_dir, deltas), f"batch={batch_id}")


def delta_ids(plane_dir: str, deltas: str = DELTAS) -> list[int]:
    return state_io.list_batch_ids(delta_root(plane_dir, deltas))


def base_dir(plane_dir: str, version: int) -> str:
    return os.path.join(plane_dir, "base", f"v={version}")


def window(
    ids: Iterable[int], ptr: Optional[int], before: Optional[int]
) -> list[int]:
    """THE liveness rule: ids strictly above the pointer ``ptr`` and
    strictly below ``before``."""
    return [
        b
        for b in ids
        if (ptr is None or b > ptr) and (before is None or b < before)
    ]


def pending(
    plane_dir: str, deltas: str = DELTAS, before: Optional[int] = None
) -> list[int]:
    """Delta ids strictly above the pointer and below ``before``."""
    return window(
        delta_ids(plane_dir, deltas), state_io.read_pointer(plane_dir), before
    )


def union(frames: Iterable[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def over_union(fn: Callable[[DataFrame], DataFrame]) -> Merge:
    """A :func:`fold` merge over the plain union of the live frames —
    the shape of every plane without tombstones."""
    return lambda ranked, _marks: fn(union(f for _, f in ranked))


# --- the write-once schema sidecar --------------------------------------------
# A zero-row batch writes a _SUCCESS-only dir that parquet schema
# inference rejects; planes whose schema depends on the caller persist
# it ONCE at ``<plane_dir>/_schema.json`` and read every dir with it.


def _schema_path(plane_dir: str) -> str:
    return os.path.join(plane_dir, "_schema.json")


def read_schema(plane_dir: str) -> Optional[StructType]:
    try:
        raw = state_io.read_text(_schema_path(plane_dir))
    except FileNotFoundError:
        return None
    return StructType.fromJson(json.loads(raw))


def write_schema_once(plane_dir: str, schema: StructType) -> None:
    # exclusive create: an existing schema wins (replay/restart convergent)
    state_io.write_text_atomic(
        _schema_path(plane_dir), json.dumps(schema.jsonValue()), overwrite=False
    )


def reader(spark: SparkSession, plane_dir: str):
    """A DataFrameReader fixed to the plane's persisted schema; plain
    inference for a state written before it had one."""
    schema = read_schema(plane_dir)
    return spark.read.schema(schema) if schema is not None else spark.read


# --- reads ------------------------------------------------------------------


def live_paths(
    plane_dir: str, deltas: str = DELTAS, before: Optional[int] = None
) -> list[tuple[int, str]]:
    """Rank-tagged live dirs: the base at the pointer (rank = pointer)
    plus the deltas above it (rank = batch id), cut at ``before``."""
    ptr = state_io.read_pointer(plane_dir)
    out = [(ptr, base_dir(plane_dir, ptr))] if ptr is not None else []
    out.extend(
        (b, delta_dir(plane_dir, b, deltas))
        for b in window(delta_ids(plane_dir, deltas), ptr, before)
    )
    return out


def live(
    spark: SparkSession,
    plane_dir: str,
    read: Optional[Callable[[str], DataFrame]] = None,
    deltas: str = DELTAS,
    before: Optional[int] = None,
) -> list[Ranked]:
    """:func:`live_paths` read as rank-tagged frames (``read`` defaults
    to ``spark.read.parquet``; pass a fixed-schema reader when a delta
    may be a ``_SUCCESS``-only dir)."""
    read = read or spark.read.parquet
    return [(r, read(p)) for r, p in live_paths(plane_dir, deltas, before)]


def read_live(
    spark: SparkSession,
    plane_dir: str,
    what: str,
    read: Optional[Callable[[str], DataFrame]] = None,
    deltas: str = DELTAS,
) -> DataFrame:
    """The union of every live frame; FileNotFoundError naming ``what``
    when the plane holds nothing yet."""
    frames = live(spark, plane_dir, read, deltas)
    if not frames:
        raise FileNotFoundError(f"no {what} under {plane_dir}")
    return union(f for _, f in frames)


# --- tombstones -------------------------------------------------------------


def write_tombstones(ids: DataFrame, batch_id: int, marker_root: str) -> None:
    """Write the one-column ``ids`` frame as markers ``(id, t=batch_id)``
    under ``<marker_root>/batch=<batch_id>`` — overwrite-by-batch-dir,
    so a replayed delete converges."""
    (
        ids.distinct()
        .withColumn("t", F.lit(int(batch_id)).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(marker_root, f"batch={batch_id}"))
    )


def _read_markers(
    spark: SparkSession, marker_root: str, ids: list[int], schema: Optional[str]
) -> Optional[DataFrame]:
    if not ids:
        return None
    reader = spark.read.schema(schema) if schema else spark.read
    return union(
        reader.parquet(os.path.join(marker_root, f"batch={t}")) for t in ids
    )


def live_tombstones(
    spark: SparkSession,
    plane_dir: str,
    marker_root: str,
    before: Optional[int] = None,
    schema: Optional[str] = MARKER_SCHEMA,
) -> Optional[DataFrame]:
    """Un-applied markers: dirs strictly above ``plane_dir``'s pointer
    (at or below it they were applied by a fold — a replayed folded dir
    is filtered here) and below ``before`` (markers the in-flight batch
    could not have seen, keeping its replay deterministic). None when
    there are none — the pointer is read only when markers exist."""
    ids = state_io.list_batch_ids(marker_root)
    if ids:
        ids = window(ids, state_io.read_pointer(plane_dir), before)
    return _read_markers(spark, marker_root, ids, schema)


def apply_tombstones(
    ranked: Sequence[Ranked],
    marks: Optional[DataFrame],
    id_col: str,
    mark_id: str = "_id",
    row_rank: Optional[str] = None,
    how: str = "left_anti",
) -> list[DataFrame]:
    """Anti-join markers onto rank-tagged frames: marker t kills rows
    ranked below t. A frame carrying the ``row_rank`` column ranks per
    row; any other frame ranks as its tag. The marker set is the delete
    sliver — broadcast, the frames never shuffle. ``how="left_semi"``
    returns the killed rows instead."""
    if marks is None:
        return [f for _, f in ranked]
    out = []
    for rank, f in ranked:
        if row_rank is not None and row_rank in f.columns:
            m = marks.select(
                F.col(mark_id).alias("_tomb_id"), F.col("t").alias("_tomb_t")
            )
            cond = (F.col(id_col) == F.col("_tomb_id")) & (
                F.col(row_rank) < F.col("_tomb_t")
            )
            out.append(f.join(F.broadcast(m), cond, how))
        else:
            m = marks.where(F.col("t") > F.lit(int(rank))).select(
                F.col(mark_id).alias(id_col)
            )
            out.append(f.join(F.broadcast(m), id_col, how))
    return out


# --- the fold -----------------------------------------------------------------


def gc(
    plane_dir: str,
    deltas: str = DELTAS,
    marker_root: Optional[str] = None,
    version: Optional[int] = None,
) -> None:
    """Collect what the pointer ``version`` (read when None) made dead:
    deltas and markers at or below it and every other base version.
    Idempotent and safe at any moment — a crashed fold's leftovers
    converge at the next call."""
    if version is None:
        version = state_io.read_pointer(plane_dir)
        if version is None:
            return
    for b in delta_ids(plane_dir, deltas):
        if b <= version:
            state_io.remove_tree(delta_dir(plane_dir, b, deltas))
    if marker_root:
        for t in state_io.list_batch_ids(marker_root):
            if t <= version:
                state_io.remove_tree(os.path.join(marker_root, f"batch={t}"))
    for v in state_io.list_versions(os.path.join(plane_dir, "base")):
        if v != version:
            state_io.remove_tree(base_dir(plane_dir, v))


def fold(
    spark: SparkSession,
    plane_dir: str,
    merge: Merge,
    read: Optional[Callable[[str], DataFrame]] = None,
    deltas: str = DELTAS,
    before: Optional[int] = None,
    marker_root: Optional[str] = None,
    marker_schema: Optional[str] = MARKER_SCHEMA,
    extra: Sequence[Ranked] = (),
    partition_by: Sequence[str] = (),
) -> Optional[int]:
    """Fold the live frames inside the horizon into ``base/v=<new>``:
    ``merge(ranked, marks)`` gets the rank-tagged frames (``extra``
    first, then the base, then the deltas strictly below ``before``)
    and the markers in the same window (None without ``marker_root``),
    and returns the frame to write. The new version is the newest
    folded rank — markers advance it too, so a delete-only window
    still applies and GCs its markers. Then: write, flip ``_latest``,
    and :func:`gc`. Returns the new version, or None when nothing is
    pending (only the GC of a crashed earlier fold runs) or only
    markers are, over an empty plane (they stay live and keep
    filtering at read)."""
    ptr = state_io.read_pointer(plane_dir)
    ids = window(delta_ids(plane_dir, deltas), ptr, before)
    mids = (
        window(state_io.list_batch_ids(marker_root), ptr, before)
        if marker_root
        else []
    )
    extra = list(extra)
    if not (ids or mids or extra):
        if ptr is not None:
            gc(plane_dir, deltas, marker_root, ptr)
        return None
    read = read or spark.read.parquet
    ranked = extra + ([(ptr, read(base_dir(plane_dir, ptr)))] if ptr is not None else [])
    ranked += [(b, read(delta_dir(plane_dir, b, deltas))) for b in ids]
    if not ranked:
        return None
    new_v = max(ids + mids + [r for r, _ in extra])
    writer = merge(ranked, _read_markers(spark, marker_root, mids, marker_schema)).write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(base_dir(plane_dir, new_v))
    state_io.write_pointer(plane_dir, new_v)
    gc(plane_dir, deltas, marker_root, new_v)
    return new_v
