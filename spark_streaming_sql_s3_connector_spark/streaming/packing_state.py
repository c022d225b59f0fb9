"""Incremental sequence packing — the streaming twin of
`operators/packing.pack_concat`.

`streaming/curation.finalize_curation` repacks the WHOLE survivor
corpus every call: correct, but at 100 TB a refresh pays a full-corpus
window shuffle even when one micro-batch of survivors changed. This
module packs each batch of NEW survivors alone and persists an
append-only manifest: per batch, only the batch's rows shuffle, and
the already-emitted manifest never moves.

Mechanics: concat-and-split offsets are a per-shard running token sum,
and sums are mergeable — so the only cross-batch state a trigger needs
is each shard's CURSOR (total tokens emitted so far). Per batch:

1. read the per-shard cursors = SUM over prior batches' cursor deltas
   (``num_shards`` rows per batch, broadcast-scale by construction);
2. pack the batch alone with the batch operator (same shard function,
   same within-shard id order), then SHIFT each shard's offsets by its
   cursor and recompute ``seq_first``/``seq_last`` — integer `div`,
   identical arithmetic to the batch operator and its DuckDB oracle;
3. write the batch's manifest rows AND its per-shard token totals in
   ONE partitioned write under ``pack/_deltas/batch=<id>``
   (``plane=pack`` / ``plane=cursors``) — one write job per trigger,
   and the dir OVERWRITES itself, so a foreachBatch replay converges
   (the `streaming/state_plane.py` exactly-once recipe). A pre-fold
   state's split layout (flat manifest delta + ``cursors/_deltas``)
   still reads and folds.

Law (tested, including through a real stream with a replayed batch):
processing doc-id-range-ordered batches incrementally equals
``pack_concat`` on the union corpus — because "order by id within
shard" over the union is exactly the concatenation of the per-batch
orders when batches partition the id space in order (the same
precondition every incremental stage in this repo documents), and the
cursor shift is the associativity of the running sum.

Sequence ids stay monotonic per shard across batches for free:
``seq_first = start_offset div capacity`` and offsets only grow.

Scale shape: per-trigger cost is one window shuffle over the BATCH
(not the corpus) plus a broadcast of ``num_shards`` cursor rows; state
reads are O(batches) tiny cursor files until :func:`compact_pack_state`
folds them to one ``num_shards``-row base. The manifest itself is
append-only data, compacted only for file-count hygiene.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.streaming import state_io, state_plane

_PACK = "pack"
_CURSORS = "cursors"
# the combined delta's partition column, and the cursor total column
# that rides the same write — neither may be a caller keep_col
_PLANE = "plane"
_TOKS = "toks"

# explicit schemas: a batch with zero survivors writes _SUCCESS-only
# dirs, which schema inference rejects but a fixed schema reads empty
_CURSOR_SCHEMA = "shard int, toks bigint"

_delta_dir = state_plane.delta_dir


# the manifest schema depends on the caller's id column, so it can't be
# a module constant like _CURSOR_SCHEMA — it is persisted ONCE at the
# first write (state_plane's schema sidecar) and every later read
# (manifest reads AND the compaction fold) uses it
def _read_manifest_schema(pack_dir: str) -> Optional[StructType]:
    return state_plane.read_schema(os.path.join(pack_dir, _PACK))


def _write_manifest_schema_once(pack_dir: str, schema: StructType) -> None:
    state_plane.write_schema_once(os.path.join(pack_dir, _PACK), schema)


def _read_plane(
    spark: SparkSession, path: str, schema: Optional[StructType], plane: str
) -> DataFrame:
    """One dir's rows of ``plane``: the combined delta's ``plane=<plane>``
    partition (the other partition is pruned). A manifest dir without
    the partition level — a base, or a legacy flat delta — reads whole:
    its ``plane`` column reads NULL. A pre-schema legacy state infers."""
    if schema is None:
        return spark.read.parquet(path)
    tagged = StructType(schema.fields + [StructField(_PLANE, StringType())])
    keep = F.col(_PLANE) == plane
    if plane == _PACK:
        keep = keep | F.col(_PLANE).isNull()
    return spark.read.schema(tagged).parquet(path).where(keep).drop(_PLANE)


def _manifest_read(spark: SparkSession, pack_dir: str):
    schema = _read_manifest_schema(pack_dir)
    return lambda path: _read_plane(spark, path, schema, _PACK)


def _combined_cursors(
    spark: SparkSession, pack_dir: str, before: Optional[int]
) -> list[state_plane.Ranked]:
    """The ``plane=cursors`` partitions of the combined deltas above the
    CURSOR pointer (the cursor fold runs first, so a shared dir below it
    is already in the cursor base even when a crash left it un-GC'd)."""
    pk = os.path.join(pack_dir, _PACK)
    ids = state_plane.window(
        state_plane.delta_ids(pk),
        state_io.read_pointer(os.path.join(pack_dir, _CURSORS)),
        before,
    )
    schema = StructType.fromDDL(_CURSOR_SCHEMA)
    return [
        (b, _read_plane(spark, _delta_dir(pk, b), schema, _CURSORS)) for b in ids
    ]


def _sum_cursors(df: DataFrame) -> DataFrame:
    return df.groupBy("shard").agg(F.sum(_TOKS).alias(_TOKS))


def _cursor_base(
    spark: SparkSession, pack_dir: str, before_batch: Optional[int]
) -> DataFrame:
    """Per-shard token cursors accumulated STRICTLY before
    ``before_batch``: base (if compacted) + legacy and combined cursor
    deltas, summed. Returns an empty frame on a fresh state."""
    ranked = state_plane.live(
        spark,
        os.path.join(pack_dir, _CURSORS),
        spark.read.schema(_CURSOR_SCHEMA).parquet,
        before=before_batch,
    ) + _combined_cursors(spark, pack_dir, before_batch)
    if not ranked:
        return spark.createDataFrame([], _CURSOR_SCHEMA)
    return _sum_cursors(state_plane.union(f for _, f in ranked))


def pack_batch_incremental(
    batch: DataFrame,
    batch_id: int,
    pack_dir: str,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
    keep_cols: tuple[str, ...] = (),
) -> None:
    """Pack one micro-batch of new survivors into the persisted
    manifest (see module doc). Precondition: batches partition the doc
    id space in order (ids in batch N all above batch N-1's), the same
    contract every incremental dedup stage here carries — otherwise
    the incremental==batch law has no order to agree on.

    ``keep_cols``: extra batch columns carried verbatim onto the
    manifest rows (see ``pack_concat``) — the curation finalize folds
    its (lang, qscore) plane into the manifest this way, ONE delta
    write per trigger instead of two and a join-free
    ``read_curated_pack``. They must match the columns the state was
    started with (a mismatch raises before anything is written)."""
    layout = sorted({_PLANE, _TOKS} & set(keep_cols))
    if layout:
        raise ValueError(
            f"keep_cols {layout} collide with the pack delta's layout "
            f"columns {_PLANE!r}/{_TOKS!r}"
        )
    spark = batch.sparkSession
    # persisted: `local` feeds BOTH the manifest rows and the cursor
    # totals of the one delta write — without the cache the write re-runs
    # the pack's window shuffle per branch
    local = pack_concat(
        batch, id_col, capacity,
        text_col=text_col, token_col=token_col, num_shards=num_shards,
        keep_cols=keep_cols,
    ).persist()
    cursors = _cursor_base(spark, pack_dir, before_batch=batch_id)
    shifted = (
        local.join(F.broadcast(cursors), "shard", "left")
        .withColumn(
            "start_offset",
            F.col("start_offset") + F.coalesce(F.col(_TOKS), F.lit(0)),
        )
        .select(
            F.col(id_col),
            *keep_cols,
            "shard",
            "start_offset",
            "n_tokens",
            F.expr(f"start_offset div {int(capacity)}")
            .cast("bigint")
            .alias("seq_first"),
            F.expr(
                f"greatest(start_offset + n_tokens - 1, start_offset) "
                f"div {int(capacity)}"
            )
            .cast("bigint")
            .alias("seq_last"),
        )
    )
    try:
        # persist the manifest schema BEFORE the first delta lands so a
        # zero-survivor batch (whose dir holds only _SUCCESS) stays
        # readable; a continued state must keep its columns, or the next
        # fold would silently drop the extra ones
        persisted = _read_manifest_schema(pack_dir)
        if persisted is None:
            _write_manifest_schema_once(pack_dir, shifted.schema)
        elif persisted.fieldNames() != shifted.columns:
            raise ValueError(
                f"pack state {pack_dir}: persisted manifest columns "
                f"{persisted.fieldNames()} differ from this batch's "
                f"{shifted.columns} — continue with the same id_col and "
                "keep_cols, or start a new pack dir"
            )
        totals = _sum_cursors(
            local.select("shard", F.col("n_tokens").alias(_TOKS))
        ).coalesce(1)
        (
            shifted.withColumn(_PLANE, F.lit(_PACK))
            .unionByName(
                totals.withColumn(_PLANE, F.lit(_CURSORS)),
                allowMissingColumns=True,
            )
            .write.mode("overwrite")
            .partitionBy(_PLANE)
            .parquet(_delta_dir(os.path.join(pack_dir, _PACK), batch_id))
        )
        # a replay of a batch the split layout wrote: its cursor delta now
        # rides the combined dir, so the legacy copy would double-count
        state_io.remove_tree(_delta_dir(os.path.join(pack_dir, _CURSORS), batch_id))
    finally:
        local.unpersist()


def read_manifest_batch(
    spark: SparkSession, pack_dir: str, batch_id: int
) -> DataFrame:
    """The manifest rows one batch appended (its ``plane=pack`` rows;
    a legacy flat delta reads whole) — the per-trigger gated plane the
    curation finalize writes. The batch's delta must not be folded
    yet."""
    return _read_plane(
        spark,
        _delta_dir(os.path.join(pack_dir, _PACK), batch_id),
        _read_manifest_schema(pack_dir),
        _PACK,
    )


def read_packed_manifest(spark: SparkSession, pack_dir: str) -> DataFrame:
    """The accumulated per-doc manifest across every packed batch —
    identical schema and values to ``pack_concat`` over the union of
    the batches (the law the tests pin)."""
    return state_plane.read_live(
        spark,
        os.path.join(pack_dir, _PACK),
        "packing state",
        _manifest_read(spark, pack_dir),
    )


def streaming_pack(
    stream: DataFrame,
    pack_dir: str,
    checkpoint_dir: str,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
):
    """Maintain the incremental packing manifest off any stream (incl.
    the s3-connector source). Returns the StreamingQuery."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        pack_batch_incremental(
            batch, batch_id, pack_dir, id_col, capacity,
            text_col=text_col, token_col=token_col, num_shards=num_shards,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def compact_pack_state(
    spark: SparkSession, pack_dir: str, upto_batch: Optional[int] = None
) -> None:
    """Fold committed deltas of both state tables into ``base/v=<n>``
    behind atomic pointers, on ONE horizon. Cursors fold to ONE
    ``num_shards``-row frame (sums are mergeable); the manifest folds
    by concatenation — pure file-count hygiene, rows never change.
    ``upto_batch`` defaults to everything; pass the last COMMITTED
    batch id when compacting beside a live stream (same replay guard
    as every compactor in this package)."""
    before = None if upto_batch is None else upto_batch + 1
    # cursors FIRST: the manifest fold GCs the shared delta dirs, whose
    # cursor rows must already sit behind the cursor pointer
    state_plane.fold(
        spark,
        os.path.join(pack_dir, _CURSORS),
        state_plane.over_union(lambda df: _sum_cursors(df).coalesce(1)),
        read=spark.read.schema(_CURSOR_SCHEMA).parquet,
        before=before,
        extra=_combined_cursors(spark, pack_dir, before),
    )
    state_plane.fold(
        spark,
        os.path.join(pack_dir, _PACK),
        state_plane.over_union(lambda df: df),
        read=_manifest_read(spark, pack_dir),
        before=before,
    )
