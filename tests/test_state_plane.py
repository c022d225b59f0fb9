"""Crash-window law of the shared versioned state-plane fold
(streaming/state_plane.py), for every plane kind vacuum compacts
through it.

Each plane is built from a few small batches through its own writer
(plus a delete where the plane takes tombstones), then compacted with
the fold interrupted at a durable write:

- at the pointer flip (the new base is written but never pointed at);
- at the first GC delete (the pointer flipped, nothing collected yet).

Either way the plane's read must equal its pre-fold read, and re-running
the compactor must converge to ONE base version per sub-plane with no
delta or marker dir left at or below the pointer.
"""

import os
import random
import shutil
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import (
    state_io,
    state_plane,
    vacuum,
)

# fold everything: every horizon convention is past the last batch
UPTO = 100
DIM = 4


def _docs(spark, b, n=6):
    rows = [
        (
            b * 10 + i,
            f"doc {b * 10 + i} stream words {'alpha' if i % 2 else 'beta'}",
            1_700_000_000 + b * 3600 + i,
            ["click", "view"][i % 2],
            float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, ts_s bigint, event_type string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))


def _emb(batch):
    return batch.select(
        "doc_id", F.array(F.col("value"), F.col("value") + 1).alias("v")
    )


def _vecs(spark, start, n, seed):
    rng = random.Random(seed)
    return spark.createDataFrame(
        [(start + i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(n)],
        ["vec_id", "embedding"],
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- per-kind fixtures: build(spark, d), read(spark, d) -> rows, and the
# (plane_dir, deltas, marker_root) triples the fold maintains


def _build_rollup(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.rollup import (
        _PARTIALS,
        _delta_dir,
        time_bucket,
    )

    for b in range(2):
        (
            _docs(spark, b)
            .withColumn("bucket", time_bucket(F.col("ts"), 3600))
            .groupBy("bucket", "event_type")
            .agg(*[fn(F.col("value")).alias(n) for n, fn in _PARTIALS])
            .write.mode("overwrite")
            .parquet(_delta_dir(d, b))
        )


def _read_rollup(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.rollup import read_rollup

    return _rows(read_rollup(spark, d))


def _build_profile(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.profile import profile_batch

    for b in range(2):
        profile_batch(_docs(spark, b).select("doc_id", "event_type"), b, d)


def _read_profile(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.profile import read_profile

    return _rows(read_profile(spark, d))


def _build_counts(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import count_batch

    for b in range(2):
        count_batch(_docs(spark, b), b, d, "event_type")


def _read_counts(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_category_counts,
    )

    return _rows(read_category_counts(spark, d))


def _build_moments(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        embedding_moment_batch,
    )

    for b in range(2):
        embedding_moment_batch(_emb(_docs(spark, b)), b, d, "v")


def _read_moments(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_embedding_moments,
    )

    return _rows(read_embedding_moments(spark, d))


def _build_term_stats(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        delete_docs_from_term_stats,
        term_stats_batch,
    )

    for b in range(2):
        term_stats_batch(_docs(spark, b), b, d, "text", "doc_id", with_postings=True)
    gone = _docs(spark, 0).where(F.col("doc_id") < 2)
    delete_docs_from_term_stats(gone, 2, d, "text", "doc_id")


def _read_term_stats(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings,
        read_corpus_stats,
        read_term_stats,
    )

    # a term deleted down to df=0 serves nothing; the fold drops its row
    return (
        _rows(read_term_stats(spark, d).where(F.col("df") != 0))
        + _rows(read_corpus_stats(spark, d))
        + _rows(bm25_search_postings(spark, ["alpha", "doc"], d, top_k=50))
    )


def _build_packing(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        pack_batch_incremental,
    )

    for b in range(2):
        pack_batch_incremental(
            _docs(spark, b), b, d, "doc_id", 8, text_col="text", num_shards=2
        )


def _read_packing(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        read_packed_manifest,
    )

    return _rows(read_packed_manifest(spark, d))


def _build_key_screen(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        delete_docs_from_screen,
        process_batch,
    )

    for b in range(2):
        process_batch(_docs(spark, b), b, d, expected_total_items=1000)
    delete_docs_from_screen(_docs(spark, 0).where(F.col("doc_id") < 2), 2, d)


def _read_key_screen(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        read_unique_ids,
    )

    return _rows(read_unique_ids(spark, d))


def _build_bands(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        process_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        delete_docs_from_screen,
    )

    for b in range(2):
        process_batch(_docs(spark, b), b, d)
    delete_docs_from_screen(_docs(spark, 0).where(F.col("doc_id") < 2), 2, d)


def _read_bands(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        _index_frames,
    )

    frames = _index_frames(spark, d)
    return _rows(
        state_plane.union(frames).select("_id", "band_idx", "band_hash")
    )


def _build_lifecycle(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        bootstrap_ann_lifecycle,
        delete_vectors_from_lifecycle,
        process_ann_lifecycle_batch,
    )

    bootstrap_ann_lifecycle(
        _vecs(spark, 0, 16, 1), "embedding", "vec_id", d,
        n_centroids=2, m_subspaces=2, pq_centroids=4, seed=1,
    )
    process_ann_lifecycle_batch(_vecs(spark, 100, 6, 2), 0, d, check_every=0)
    gone = spark.createDataFrame([(1,), (101,)], "vec_id bigint")
    delete_vectors_from_lifecycle(gone, 1, d, id_col="vec_id")


def _read_lifecycle(spark, d):
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        read_landed_vectors,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_embedding_moments,
    )

    return _rows(read_landed_vectors(spark, d)) + _rows(
        read_embedding_moments(spark, os.path.join(d, "moments"))
    )


def _planes(kind, d):
    j = os.path.join
    deleted = j(d, "_deleted")
    return {
        "rollup": [(d, "_deltas", None)],
        "profile": [(d, "_deltas", None)],
        "drift_counts": [(d, "_deltas", None)],
        "embedding_moments": [(d, "_deltas", None)],
        "term_stats": [
            (j(d, "terms"), "_deltas", None),
            (j(d, "corpus"), "_deltas", None),
            (j(d, "postings"), "_deltas", j(d, "deleted", "_deltas")),
        ],
        "packing": [(j(d, "pack"), "_deltas", None), (j(d, "cursors"), "_deltas", None)],
        "key_screen": [(d, "_new", deleted)],
        "minhash_bands": [(d, "_bands", deleted)],
        "ann_lifecycle": [
            (j(d, "vectors"), "", j(d, "vectors", "_deleted")),
            (j(d, "moments"), "_deltas", None),
        ],
    }[kind]


KINDS = {
    "rollup": (_build_rollup, _read_rollup),
    "profile": (_build_profile, _read_profile),
    "drift_counts": (_build_counts, _read_counts),
    "embedding_moments": (_build_moments, _read_moments),
    "term_stats": (_build_term_stats, _read_term_stats),
    "packing": (_build_packing, _read_packing),
    "key_screen": (_build_key_screen, _read_key_screen),
    "minhash_bands": (_build_bands, _read_bands),
    "ann_lifecycle": (_build_lifecycle, _read_lifecycle),
}

@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """kind -> (pristine plane dir, its pre-fold read), each built once
    and copied per crash point."""
    built: dict = {}

    def get(kind):
        if kind not in built:
            build, read = KINDS[kind]
            d = str(tmp_path_factory.mktemp(kind) / "plane")
            build(spark, d)
            assert vacuum.classify_plane(spark, d) == kind
            built[kind] = (d, read(spark, d))
        return built[kind]

    return get


class _Crash(RuntimeError):
    pass


def _raise_once(real):
    fired = []

    def wrapper(*a, **kw):
        if not fired:
            fired.append(True)
            raise _Crash("injected crash")
        return real(*a, **kw)

    return wrapper


def _compact(spark, kind, d):
    return vacuum._COMPACTORS[kind](spark, d, UPTO)


@pytest.mark.parametrize("crash_at", ["write_pointer", "remove_tree"])
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_fold_crash_window_keeps_reads_and_converges(
    spark, tmp_path, pristine, monkeypatch, kind, crash_at
):
    src, before = pristine(kind)
    d = str(tmp_path / "plane")
    shutil.copytree(src, d)
    read = KINDS[kind][1]

    with monkeypatch.context() as m:
        m.setattr(state_io, crash_at, _raise_once(getattr(state_io, crash_at)))
        with pytest.raises(_Crash):
            _compact(spark, kind, d)
    assert read(spark, d) == before

    _compact(spark, kind, d)
    assert read(spark, d) == before
    for plane_dir, deltas, marker_root in _planes(kind, d):
        ptr = state_io.read_pointer(plane_dir)
        assert ptr is not None, plane_dir
        assert state_io.list_versions(os.path.join(plane_dir, "base")) == [ptr]
        assert [b for b in state_plane.delta_ids(plane_dir, deltas) if b <= ptr] == []
        if marker_root is not None:
            assert [t for t in state_io.list_batch_ids(marker_root) if t <= ptr] == []


def test_replayed_drift_state_commit_releases_checkpoints(spark, tmp_path):
    """A replayed drift-state commit materializes its inputs with local
    checkpoints (the frames are lazy over the very version dir the
    overwrite deletes); those checkpoint blocks must be released once
    the commit finishes, or every replay leaks persistent RDDs."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _read_drift_state,
        _write_drift_state,
    )

    root = str(tmp_path / "life")
    moments = spark.createDataFrame(
        [
            (0, 3, Decimal("1.5"), Decimal("2.5")),
            (1, 3, Decimal("0.5"), Decimal("1.0")),
        ],
        "dim int, n bigint, s decimal(38,6), ss decimal(38,12)",
    )
    _write_drift_state(moments, moments, root, 1)
    sc = spark.sparkContext

    def persistent():
        return sc._jsc.getPersistentRDDs().size()

    start = persistent()
    for _ in range(2):
        ver, baseline, window = _read_drift_state(spark, root)
        _write_drift_state(baseline, window, root, ver)
    assert persistent() == start
    ver, baseline, window = _read_drift_state(spark, root)
    assert ver == 1
    assert _rows(baseline) == _rows(moments) == _rows(window)


def _bootstrapped_lifecycle(spark, root):
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        bootstrap_ann_lifecycle,
    )

    bootstrap_ann_lifecycle(
        _vecs(spark, 0, 16, 1), "embedding", "vec_id", root,
        n_centroids=2, m_subspaces=2, pq_centroids=4, seed=1,
    )


@pytest.mark.parametrize("landed", [[], [0]])
def test_vectors_fold_never_passes_a_later_landing(spark, tmp_path, landed):
    """A delete marker at batch t kills rows landed BEFORE t. A fold
    whose window holds that marker but not a landing at t must leave
    the pointer below t, or trigger t's later landing is dead on
    arrival (unread, then collected)."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        delete_vectors_from_lifecycle,
        fold_landed_vectors,
        process_ann_lifecycle_batch,
        read_landed_vectors,
    )

    root = str(tmp_path / "life")
    _bootstrapped_lifecycle(spark, root)
    for b in landed:
        process_ann_lifecycle_batch(_vecs(spark, 100 + b, 3, b), b, root, check_every=0)
    t = len(landed)
    gone = spark.createDataFrame([(1,), (500 + t,)], "vec_id bigint")
    delete_vectors_from_lifecycle(gone, t, root, id_col="vec_id")
    fold_landed_vectors(spark, root)
    assert state_io.read_pointer(os.path.join(root, "vectors")) == t - 1

    arriving = _vecs(spark, 500 + t, 3, 9)
    process_ann_lifecycle_batch(arriving, t, root, check_every=0)
    ids = {r.vec_id for r in read_landed_vectors(spark, root).collect()}
    assert {500 + t, 501 + t, 502 + t} <= ids
    assert 1 not in ids
    fold_landed_vectors(spark, root)
    ids = {r.vec_id for r in read_landed_vectors(spark, root).collect()}
    assert {500 + t, 501 + t, 502 + t} <= ids and 1 not in ids


def test_excluded_batch_at_the_pointer_keeps_the_base(spark, tmp_path):
    """A replayed trigger whose id an earlier fold already covered finds
    its rows in the base: excluding it from the refresh corpus drops
    only a delta dir of that id, never the base ranked as it."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        fold_landed_vectors,
        process_ann_lifecycle_batch,
        read_landed_vectors,
    )

    root = str(tmp_path / "life")
    _bootstrapped_lifecycle(spark, root)
    for b in (0, 1):
        process_ann_lifecycle_batch(_vecs(spark, 100 + 10 * b, 3, b), b, root, check_every=0)
    assert fold_landed_vectors(spark, root) == 1
    everything = _rows(read_landed_vectors(spark, root))
    assert len(everything) == 22
    assert _rows(read_landed_vectors(spark, root, exclude_batch=1)) == everything
