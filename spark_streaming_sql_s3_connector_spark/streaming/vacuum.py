"""One maintenance entry point for EVERY persisted state plane.

The package keeps its delta-log state in a handful of layouts — rollup /
profile / drift-count / embedding-moment sinks (``_deltas`` + pointer),
BM25 term stats (``terms``/``corpus``/``postings`` subdirs), the
incremental packing manifest (``pack``, plus ``cursors`` once folded),
the dedup screening indexes (``_new`` key dirs), the MinHash band index
(``_bands``), the self-refreshing ANN lifecycle root, and the IVF-PQ ANN
index (``quantizers.json``). Every compactor but the ANN index's folds
through the one shared cycle in ``streaming/state_plane.py``. An
operator running a 100 TB pipeline should not need to know each
compactor and its replay guard: this module walks a state root,
CLASSIFIES each plane by its on-disk signature (layout markers first,
then the delta schema for the ``_deltas`` family), and runs the kind's
compactor from one kind→compactor table with its always-safe default —
the serving-plane analog of the source metadata log's bounded
self-maintenance (reference: RocksDBS3SourceLog.scala:416-460, where one
maintenance path both folds and GCs).

Classification rules (checked in order, first match wins, matched
subtrees are not descended into):

- ``index/`` + ``vectors/`` + ``drift_state/`` → ``ann_lifecycle``: the
  index compaction, the landed-vector fold
  (``ann_lifecycle.fold_landed_vectors``) and the moments fold
- ``quantizers.json``            → ``operators/ann_index.compact_ann_index``
- ``_bands/``                    → ``streaming/dedup_index.compact_index``
- ``_new/``                      → ``streaming/exact_dedup.compact_index``
- both screens default to the strictly-below-newest-delta-or-marker
  guard (the newest write is the only batch a restart can replay, and
  folding a line/passage delta would corrupt a replay's ``_docs``
  rewrite)
- ``terms/`` + ``corpus/``       → ``streaming/term_stats.compact_term_stats``
- ``pack/`` + (``cursors/`` or ``pack/_schema.json``)
                                 → ``streaming/packing_state.compact_pack_state``
- ``_deltas/`` with a delta schema of:
    - ``_n_rows`` + ``_nn_*``    → ``streaming/profile.compact_profile``
    - exactly ``bucket, n``      → ``streaming/drift.compact_drift_counts``
    - exactly ``dim, n, s, ss``  → ``streaming/drift.compact_embedding_moments``
    - ``bucket`` + ``_ca_*``     → ``streaming/rollup.compact_rollup`` with
      ``keys`` = the non-bucket, non-partial columns (derived from the
      schema, so rollups with any key set vacuum correctly)
  anything else is reported as ``skipped`` (never guessed at).

``upto_batch`` (optional) passes through to every compactor that takes
a fold horizon — hand it the last COMMITTED batch id when vacuuming
beside live streams, exactly as each compactor documents. Every fold
GCs its superseded versions, so after a vacuum each plane holds ONE
base version + only post-horizon deltas (the bounded-version law the
tests pin over a 10-batch lifecycle).

Returns a report (one dict per plane found: path, plane, result) so
callers can log what a maintenance cycle actually did.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
    compact_ann_index,
)
from spark_streaming_sql_s3_connector_spark.streaming import (
    ann_lifecycle,
    dedup_index,
    drift,
    exact_dedup,
    packing_state,
    profile,
    rollup,
    state_io,
    state_plane,
    term_stats,
)


def _delta_schema_cols(spark: SparkSession, deltas_root: str) -> Optional[set]:
    for e, isdir in sorted(state_io.list_names_info(deltas_root)):
        p = os.path.join(deltas_root, e)
        if e.startswith("batch=") and isdir:
            try:
                return set(spark.read.parquet(p).columns)
            except Exception:
                continue
    return None


def _classify_deltas(spark: SparkSession, plane_dir: str) -> Optional[str]:
    cols = _delta_schema_cols(spark, os.path.join(plane_dir, "_deltas"))
    if cols is None:
        return None
    if "_n_rows" in cols and any(c.startswith("_nn_") for c in cols):
        return "profile"
    if cols == {"bucket", "n"}:
        return "drift_counts"
    if cols == {"dim", "n", "s", "ss"}:
        return "embedding_moments"
    if "bucket" in cols and any(c.startswith("_ca_") for c in cols):
        return "rollup"
    return None


def classify_plane(spark: SparkSession, d: str) -> Optional[str]:
    """The signature classification table, exposed on its own so other
    maintenance entry points (e.g. `curation.propagate_doc_deletes_for_pipeline`)
    route by the SAME detection rules vacuum compacts by. Returns the
    plane kind ('ann_index' | 'minhash_bands' | 'key_screen' |
    'term_stats' | 'packing' | 'profile' | 'drift_counts' |
    'embedding_moments' | 'rollup' | 'unknown_deltas'), or None when
    ``d`` is not a plane root (a container to descend into)."""
    names = set(state_io.list_names(d))
    if {"index", "vectors", "drift_state"} <= names:
        # a self-refreshing ANN lifecycle root (streaming/ann_lifecycle):
        # must match BEFORE descending, so its index / vectors / moments
        # planes are maintained together with the lifecycle's own replay
        # horizons (the vectors fold in particular is not discoverable
        # from the child dirs alone). `moments` is deliberately NOT in
        # the signature — it appears only at the first streamed trigger,
        # and a bootstrapped-but-unstreamed root must classify the same
        # way (its index would otherwise be maintained standalone).
        return "ann_lifecycle"
    if "quantizers.json" in names:
        return "ann_index"
    if "_bands" in names:
        return "minhash_bands"
    if "_new" in names:
        return "key_screen"
    if "terms" in names and "corpus" in names:
        return "term_stats"
    if "pack" in names and (
        "cursors" in names or state_io.exists(os.path.join(d, "pack", "_schema.json"))
    ):
        return "packing"
    if "_deltas" in names:
        return _classify_deltas(spark, d) or "unknown_deltas"
    return None


def walk_planes(spark: SparkSession, state_root: str):
    """Yield ``(path, plane_kind)`` for every recognized state plane
    under ``state_root`` — the shared walk (plane roots are never also
    containers; plane-internal dirs never nest other planes)."""
    if not state_io.is_dir(state_root):
        return
    stack = [state_root]
    while stack:
        d = stack.pop()
        kind = classify_plane(spark, d)
        if kind is not None:
            yield d, kind
            continue
        for e, isdir in sorted(state_io.list_names_info(d), reverse=True):
            p = os.path.join(d, e)
            if isdir and not e.startswith(("batch=", "v=", "_")):
                stack.append(p)


def _screen_horizon(d: str, deltas: str, upto_batch: Optional[int]):
    """The screens' safe default beside a live stream: never fold the
    newest delta OR forget marker — the only batch a restart could
    replay (marker-only windows included; folding a replayable line or
    passage delta would corrupt the replay's ``_docs`` rewrite)."""
    if upto_batch is not None:
        return upto_batch
    ids = state_plane.delta_ids(d, deltas) + state_io.list_batch_ids(
        exact_dedup._marker_root(d)
    )
    return max(ids) if ids else None


def _ann_lifecycle(spark: SparkSession, d: str, upto_batch: Optional[int]) -> dict:
    """A lifecycle root's three planes on their own replay horizons."""
    if upto_batch is None:
        # never fold the newest vector landing — the only trigger a
        # restart could replay (vectors land FIRST in a trigger, so
        # their newest id is the lifecycle's newest write)
        ids = state_plane.delta_ids(ann_lifecycle._vectors_dir(d), "")
        fold = ann_lifecycle.fold_landed_vectors(
            spark, d, upto_batch=max(ids) - 1 if ids else None
        )
        idx_upto = max(ids) if ids else None
    else:
        fold = ann_lifecycle.fold_landed_vectors(spark, d, upto_batch=upto_batch)
        idx_upto = upto_batch + 1
    return {
        "index": compact_ann_index(
            spark, os.path.join(d, "index"), upto_batch=idx_upto
        ),
        "vectors": fold,
        "moments": drift.compact_embedding_moments(
            spark, os.path.join(d, "moments")
        ),
    }


def _rollup(spark: SparkSession, d: str, upto_batch: Optional[int]):
    cols = _delta_schema_cols(spark, os.path.join(d, "_deltas"))
    keys = sorted(c for c in cols if c != "bucket" and not c.startswith("_ca_"))
    return rollup.compact_rollup(spark, d, keys=keys)


# plane kind -> compactor(spark, plane_dir, upto_batch); each keeps its
# own documented horizon meaning (see the module doc)
_COMPACTORS = {
    "ann_index": lambda spark, d, upto: compact_ann_index(
        spark, d, upto_batch=upto
    ),
    "ann_lifecycle": _ann_lifecycle,
    "minhash_bands": lambda spark, d, upto: dedup_index.compact_index(
        spark, d, upto_batch=_screen_horizon(d, "_bands", upto)
    ),
    "key_screen": lambda spark, d, upto: exact_dedup.compact_index(
        spark, d, upto_batch=_screen_horizon(d, "_new", upto)
    ),
    "term_stats": lambda spark, d, upto: term_stats.compact_term_stats(
        spark, d, upto_batch=upto
    ),
    "packing": lambda spark, d, upto: packing_state.compact_pack_state(
        spark, d, upto_batch=upto
    ),
    "profile": lambda spark, d, _: profile.compact_profile(spark, d),
    "drift_counts": lambda spark, d, _: drift.compact_drift_counts(spark, d),
    "embedding_moments": lambda spark, d, _: drift.compact_embedding_moments(
        spark, d
    ),
    "rollup": _rollup,
}


def vacuum(
    spark: SparkSession, state_root: str, upto_batch: Optional[int] = None
) -> list[dict]:
    """Walk ``state_root``, compact every recognized state plane with
    its safe default through the kind→compactor table, GC superseded
    versions (each compactor's own GC), and return the per-plane
    report. See the module doc for the classification table and the
    ``upto_batch`` live-stream guard."""
    report: list[dict] = []
    if not state_io.is_dir(state_root):
        return report
    stack = [state_root]
    while stack:
        d = stack.pop()
        try:
            kind = classify_plane(spark, d)
            if kind is not None:
                compact = _COMPACTORS.get(kind)
                result = compact(spark, d, upto_batch) if compact else "skipped"
        except Exception as e:  # one sick plane must not stop the sweep
            kind, result = "error", f"{type(e).__name__}: {e}"
        if kind is not None:
            report.append({"path": d, "plane": kind, "result": result})
            continue  # a plane root is never also a container
        for e, isdir in sorted(state_io.list_names_info(d), reverse=True):
            p = os.path.join(d, e)
            # plane-internal dirs never nest other planes
            if isdir and not e.startswith(("batch=", "v=", "_")):
                stack.append(p)
    return sorted(report, key=lambda r: r["path"])
