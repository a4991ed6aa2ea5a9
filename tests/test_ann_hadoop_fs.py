"""IVF maintenance over a Hadoop-FS URI — round 11 (VERDICT r10 ask #1).

The r9–r10 delete/fold/compact family used raw ``os.rename``/
``os.listdir``, so an index hosted on hdfs:// or s3a:// could only be
maintained from a node that mounted it locally — single-node-bound,
exactly the constraint this engine exists to remove. Round 11 routes
every metadata op through ``sources/store_fs.HadoopStoreFS``.

These tests drive the FULL lifecycle (build → delete → serve → upsert
append → compact → serve) against TWO real Hadoop filesystems via the
parametrized ``mkuri`` fixture (``file:`` = JVM LocalFileSystem, so any
lingering ``os.*`` call — which cannot parse ``file:/...`` — fails
loudly; ``viewfs://`` = ViewFileSystem, a different FileSystem class
with mount-table path resolution — VERDICT r11 ask #3). The per-op semantics are pinned by tests/test_ann_delete.py;
this file pins the FS-API routing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smoltable_spark.functions import similarity
from smoltable_spark.functions.ann_index import (
    append_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
)
from smoltable_spark.sources.relational import load_table


@pytest.fixture()
def built_uri(spark, sf_dir, tmp_path, mkuri):
    emb = load_table(spark, sf_dir, "embeddings")
    # explicit Hadoop scheme (file:/x or viewfs://mt/s/x), not /x
    path = mkuri(tmp_path / "ivf_uri")
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


def test_full_lifecycle_on_file_uri(spark, tmp_path, built_uri):
    emb, path = built_uri
    # delete → tombstones committed through the FS API
    victims = emb.filter(F.col("vec_id") % 7 == 6).select("vec_id")
    n = delete_from_ivf_index(spark, path, victims)
    assert n == victims.count() > 0
    masked = _serve(spark, path, emb)
    assert not any(r[1] % 7 == 6 for r in masked)
    # upsert append: id 6 comes back with query 0's embedding — the
    # intersecting tombstone folds through the Hadoop-FS adapter
    new6 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(6).cast("long").alias("vec_id"), "embedding"
    )
    append_ivf_index(spark, path, new6)
    served = _serve(spark, path, emb)
    assert any(r[1] == 6 for r in served)
    # compact folds the remaining tombstones; serving is bit-identical
    stats = compact_ivf_index(spark, path)
    assert stats["tombstones"] > 0 and stats["lists_rewritten"] > 0
    assert _serve(spark, path, emb) == served
    assert similarity.ivf_tombstones(spark, path) is None
    # physical drop happened under the URI layout: the live state is
    # the generation the pointer names — read through it, and prove
    # vacuum then reclaims the shielded pre-fold dirs so even a RAW
    # root read agrees.
    from smoltable_spark.functions.ann_index import vacuum_ivf_index
    from smoltable_spark.functions.similarity import (
        ivf_list_generations,
        read_ivf_lists,
    )
    from smoltable_spark.sources.store_fs import store_fs_for

    def _gone():
        return read_ivf_lists(spark, path).filter(
            (F.col("vec_id") % 7 == 6) & (F.col("vec_id") != 6)
        )

    assert _gone().count() == 0
    vacuum_ivf_index(spark, path, keep_pointers=1)
    # every pre-fold stale plain dir of a mapped list is reclaimed:
    # nothing on disk can serve the deleted rows anymore
    fsa = store_fs_for(spark, path)
    _m, gmap = ivf_list_generations(spark, path)
    stale = [
        k for k in gmap
        if fsa.isdir(f"{path.rstrip('/')}/list_id={k}")
    ]
    assert stale == []
    assert _serve(spark, path, emb) == served


def test_uri_and_local_path_results_agree(spark, sf_dir, tmp_path, built_uri):
    """The same lifecycle through a bare local path must produce the
    same served results — the FS routing is a transport, not a
    semantics change."""
    emb, path_uri = built_uri
    path_local = str(tmp_path / "ivf_local")
    similarity.build_ivf_index(emb, path_local, n_centroids=8)
    for p in (path_uri, path_local):
        delete_from_ivf_index(
            spark, p, emb.filter(F.col("vec_id") == 6).select("vec_id")
        )
        compact_ivf_index(spark, p)
    assert _serve(spark, path_uri, emb) == _serve(spark, path_local, emb)


def test_no_os_calls_left_in_maintenance_family(spark):
    """Static pin: the maintenance module must not regress to local-only
    ``os``/``shutil`` filesystem imports (AST check — docstrings
    documenting the history don't count; ``uuid`` stays allowed)."""
    import ast

    import smoltable_spark.functions.ann_index as mod

    tree = ast.parse(open(mod.__file__).read())
    banned = {"os", "os.path", "shutil"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            names = {node.module or ""}
        else:
            continue
        hit = names & banned
        assert not hit, f"local-only fs import regressed: {sorted(hit)}"
