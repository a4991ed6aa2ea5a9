"""IVF index deletes: tombstones + targeted compaction.

The maintenance family's missing third op: ``append_ivf_index`` is the
memtable flush, ``delete_from_ivf_index`` writes tombstones that
``query_ivf_index`` masks at serve time, ``compact_ivf_index`` folds
them by rewriting ONLY the affected list partitions. Serving must be
bit-identical across all three states (freshly built on survivors /
tombstoned / compacted).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smoltable_spark.functions import similarity
from smoltable_spark.functions.ann_index import (
    compact_ivf_index,
    delete_from_ivf_index,
    vacuum_ivf_index,
)
from smoltable_spark.sources.relational import load_table
from smoltable_spark.sources.store_fs import store_fs_for


@pytest.fixture()
def built(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, n_centroids=8)
    return emb, path


def _serve(spark, path, emb, k=10):
    q = emb.filter(F.col("vec_id") < 5)
    return sorted(
        map(
            tuple,
            similarity.query_ivf_index(spark, path, q, k=k, nprobe=2).collect(),
        )
    )


def _rows_on_disk(spark, path):
    """Every index row file on disk, wherever it lives: plain
    ``list_id=`` dirs and generation dirs alike (a raw read of the root
    sees neither generation dirs nor, once vacuum removed every plain
    dir, anything at all); None when there is none."""
    files = [
        full
        for name, full, _size in store_fs_for(spark, path).walk_files(path)
        if name.endswith(".parquet")
        and full.rsplit("/", 2)[1].startswith("list_id=")
    ]
    if not files:
        return None
    return spark.read.option("recursiveFileLookup", "true").parquet(*files)


def test_delete_masks_at_serve_time(spark, sf_dir, tmp_path, built):
    emb, path = built
    victims = emb.filter(F.col("vec_id") % 7 == 6).select("vec_id")
    n_victims = victims.count()
    n = delete_from_ivf_index(spark, path, victims)
    assert n == n_victims > 0
    got = _serve(spark, path, emb)
    # reference: an index freshly built on the surviving corpus under
    # the SAME frozen quantizer (centroids derive from vec_id < 8 of the
    # full corpus, so assignments agree) must serve identical results
    ref_path = str(tmp_path / "ivf_ref")
    cents = similarity.with_quantized_norm(
        emb.filter(F.col("vec_id") < 8), "embedding"
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("q").alias("cq"),
        F.col("nrm2").alias("cn2"),
    )
    similarity.build_ivf_index(
        emb.filter(F.col("vec_id") % 7 != 6), ref_path, centroids=cents
    )
    assert got == _serve(spark, ref_path, emb)
    # deleted ids never appear as neighbors
    assert not any(r[1] % 7 == 6 for r in got)


def test_compact_is_invisible_and_clears_tombstones(spark, sf_dir, built):
    spark_, path = None, None  # readability
    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 7 == 6).select("vec_id")
    )
    before = _serve(spark, path, emb)
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] > 0 and stats["lists_rewritten"] > 0
    assert _serve(spark, path, emb) == before  # bit-identical
    assert similarity.ivf_tombstones(spark, path) is None
    # the live rows are gone, not just masked; the pre-fold plain dirs
    # keep them until vacuum, after which no file on disk holds them
    def remaining(df):
        return df.filter(F.col("vec_id") % 7 == 6).count()

    assert remaining(similarity.read_ivf_lists(spark, path)) == 0
    assert remaining(_rows_on_disk(spark, path)) > 0
    vacuum_ivf_index(spark, path, keep_pointers=1)
    assert remaining(_rows_on_disk(spark, path)) == 0
    # idempotent: nothing left to fold
    assert compact_ivf_index(spark, path) == {
        "tombstones": 0,
        "lists_rewritten": 0,
    }


def test_compact_rewrites_only_affected_lists(spark, sf_dir, built):
    emb, path = built
    # tombstone ONE existing vector → exactly one affected list
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    (hit,) = similarity.ivf_tombstones(spark, path).collect()

    def files_by_list():
        out = {}
        for d in os.listdir(path):
            if d.startswith("list_id="):
                out[d] = sorted(
                    f for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")
                )
        return out

    before = files_by_list()
    stats = compact_ivf_index(spark, path)
    assert stats["lists_rewritten"] == 1
    # only that list moved to the new generation; every plain list dir,
    # the affected one's included, is byte-stable until vacuum
    assert similarity.ivf_list_generations(spark, path) == (
        1, {hit["list_id"]: 1}
    )
    assert files_by_list() == before


def test_delete_absent_ids_is_noop(spark, built):
    emb, path = built
    ghosts = spark.createDataFrame([(10_000_000,), (10_000_001,)], "vec_id long")
    assert delete_from_ivf_index(spark, path, ghosts) == 0
    assert similarity.ivf_tombstones(spark, path) is None
    assert not any(
        d.startswith(".staging") for d in os.listdir(path)
    )  # staging cleaned up


def test_incremental_delete_batches_accumulate(spark, built):
    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 13).select("vec_id")
    )
    t = similarity.ivf_tombstones(spark, path)
    assert sorted(r["vec_id"] for r in t.collect()) == [6, 13]
    got = _serve(spark, path, emb)
    assert not any(r[1] in (6, 13) for r in got)


def test_reappend_after_delete_serves_new_vector(spark, sf_dir, tmp_path, built):
    """VERDICT r9 'resurrection' bug: delete(id) then append a NEW
    vector with the same id (the standard vector-DB upsert, FAISS
    remove_ids + add) must serve the NEW vector — before r10, the
    vec_id-keyed tombstone silently masked it at serve time and the
    next compact permanently dropped it."""
    from smoltable_spark.functions.ann_index import append_ivf_index

    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    assert not any(r[1] == 6 for r in _serve(spark, path, emb))
    # re-append id 6 with a DIFFERENT embedding — query vector 0's,
    # so the upserted id is guaranteed a top-k neighbor of query 0
    new6 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(6).cast("long").alias("vec_id"), "embedding"
    )
    append_ivf_index(spark, path, new6)
    # the upsert folded the intersecting tombstone: nothing outstanding
    assert similarity.ivf_tombstones(spark, path) is None
    served = _serve(spark, path, emb)
    # reference: index built on (corpus minus old 6) plus the new 6,
    # under the SAME frozen quantizer (centroids = full-corpus vec_id<8)
    cents = similarity.with_quantized_norm(
        emb.filter(F.col("vec_id") < 8), "embedding"
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("q").alias("cq"),
        F.col("nrm2").alias("cn2"),
    )
    ref_path = str(tmp_path / "ivf_ref")
    similarity.build_ivf_index(
        emb.select("vec_id", "embedding")
        .filter(F.col("vec_id") != 6)
        .unionByName(new6),
        ref_path,
        centroids=cents,
    )
    assert served == _serve(spark, ref_path, emb)
    # compact must be a no-op for serving: BIT-IDENTICAL, new 6 intact
    compact_ivf_index(spark, path)
    assert _serve(spark, path, emb) == served


def test_reappend_preserves_other_tombstones(spark, built):
    """The upsert fold is targeted: only the batch's ids leave the
    tombstone set; unrelated outstanding deletes keep masking."""
    from smoltable_spark.functions.ann_index import append_ivf_index

    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id").isin(6, 13)).select("vec_id")
    )
    new6 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(6).cast("long").alias("vec_id"), "embedding"
    )
    append_ivf_index(spark, path, new6)
    t = similarity.ivf_tombstones(spark, path)
    assert [r["vec_id"] for r in t.collect()] == [13]
    got = _serve(spark, path, emb)
    assert any(r[1] == 6 for r in got)  # new 6 serves
    assert not any(r[1] == 13 for r in got)  # 13 still masked
    # and a later compact folds 13 without touching the new 6
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] == 1
    assert _serve(spark, path, emb) == got


def test_compact_tolerates_vanished_list_dir(spark, built):
    """A tombstone referencing an already-removed list dir (a list
    removed by hand, or a fully-deleted one) must fold cleanly instead
    of raising on the parquet read."""
    import shutil

    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    t = similarity.ivf_tombstones(spark, path).collect()
    assert len(t) == 1
    shutil.rmtree(os.path.join(path, f"list_id={t[0]['list_id']}"))
    stats = compact_ivf_index(spark, path)
    assert stats == {"tombstones": 1, "lists_rewritten": 0}
    assert similarity.ivf_tombstones(spark, path) is None


def test_ivfpq_honors_tombstones_and_compact(spark, sf_dir, tmp_path, mkuri):
    """The maintenance layout is shared: deletes committed by
    delete_from_ivf_index mask ADC serving on an IVF-PQ index too, and
    compact folds the codes rows (all M subcodes of a victim) through
    the generation pointer, which ADC serving reads through — before
    and after vacuum reclaims the pre-fold dirs."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = mkuri(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(emb, path, n_centroids=8, m=8)

    def serve():
        q = emb.filter(F.col("vec_id") < 5)
        return sorted(
            map(
                tuple,
                similarity.query_ivfpq_index(
                    spark, path, q, k=10, nprobe=2, m=8
                ).collect(),
            )
        )

    before = serve()
    assert any(r[1] % 7 == 6 for r in before)  # victims present pre-delete
    n = delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 7 == 6).select("vec_id")
    )
    assert n > 0
    masked = serve()
    assert not any(r[1] % 7 == 6 for r in masked)
    stats = compact_ivf_index(spark, path)
    assert stats["lists_rewritten"] > 0
    assert serve() == masked
    assert vacuum_ivf_index(spark, path, keep_pointers=1)["plain_dirs"] > 0
    assert serve() == masked
    assert _rows_on_disk(spark, path).filter(F.col("vec_id") % 7 == 6).count() == 0


def test_delete_sweeps_stale_rollback_staging(spark, built):
    """A crashed previous delete's .staging-delete-* dir was never
    published (the rename into _tombstones/ is the commit point), so the
    next delete removes it as a pure rollback instead of leaking it."""
    emb, path = built
    stale = os.path.join(path, ".staging-delete-cafebabe")
    os.makedirs(stale)
    n = delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    assert n == 1
    assert not os.path.isdir(stale)


def test_fold_sweeps_stale_tombstone_rewrite(spark, built):
    """A crashed subset fold's kept-tombstone leg (``.t-*`` under
    _tombstones/) that no pointer names was never committed: the next
    fold sweeps it, and the committed d-* legs it derived from fold
    unaffected."""
    emb, path = built
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )
    stale = os.path.join(path, "_tombstones", ".t-feedf00d")
    os.makedirs(stale)
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] == 1
    assert not os.path.isdir(stale)
    assert similarity.ivf_tombstones(spark, path) is None
