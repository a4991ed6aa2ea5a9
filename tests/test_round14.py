"""Round-14 pins: the ADVICE r13 robustness fixes that ride along with
the optimization round.

- ``CellStore._clamped_estimate`` distrusts plan-size estimates far
  above what the plan's leaf scans can produce (join/union estimate
  blowups must not explode the base-write file count).
- ``ivf_recall_vs_centroids`` with an EMPTY quantizer in the sweep
  zeroes only that branch's recall instead of emptying the shared
  corpus side for every quantizer.
- ``_probe_ranking`` warns loudly when a caller violates the bounded
  coarse-quantizer regime its folded-literal form is designed for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smoltable_spark.sources.store import CellStore


# ---------------------------------------------------------------------------
# estimate clamp (ADVICE r13 low: store.py _adaptive_base_partitions)

M = 1024 * 1024


def test_clamped_estimate_passthrough_for_sane_ratios():
    # scan-rooted and modest-expansion frames keep their estimate
    assert CellStore._clamped_estimate(10 * M, 10 * M) == 10 * M
    assert CellStore._clamped_estimate(40 * M, 10 * M) == 40 * M  # melt ~4x
    cap = CellStore._EST_MAX_LEAF_MULTIPLE
    assert CellStore._clamped_estimate(cap * M, M) == cap * M  # at the cap


def test_clamped_estimate_caps_join_blowups():
    # a ~100 MB join result estimated at 500 GB (multiplied child sizes)
    cap = CellStore._EST_MAX_LEAF_MULTIPLE
    est = 500 * 1024 * M
    assert CellStore._clamped_estimate(est, 100 * M) == cap * 100 * M


def test_clamped_estimate_unknowns_fall_through():
    # unknown leaf sum / unknown est: no clamp, sentinel handling stays
    # in _partitions_for_bytes
    assert CellStore._clamped_estimate(500 * M, 0) == 500 * M
    assert CellStore._clamped_estimate(0, 100 * M) == 0
    assert CellStore._clamped_estimate(1 << 51, 100 * M) == 1 << 51


def test_clamped_estimate_feeds_sizing_rule():
    # end-to-end of the pure pieces: a blown-up estimate lands on the
    # clamped file count, not thousands of near-empty files
    cap = CellStore._EST_MAX_LEAF_MULTIPLE
    est = CellStore._clamped_estimate(500 * 1024 * M, 100 * M)
    n = CellStore._partitions_for_bytes(est, 32)
    assert n == -(-cap * 100 * M // CellStore._TARGET_BASE_PARTITION_BYTES)
    assert n == 100  # 6400 MiB / 64 MiB — vs 8000 files unclamped


# ---------------------------------------------------------------------------
# empty-quantizer branch isolation (ADVICE r13 low: similarity.py)


def test_recall_vs_centroids_empty_quantizer_zeroes_only_itself(spark):
    from smoltable_spark.functions.similarity import ivf_recall_vs_centroids

    # corpus ids 5..24: quantizer nc=4 is EMPTY (no vec_id < 4), nc=16
    # has centroids 5..15. Before the fix the nc=4 branch's
    # filter(False) emptied the shared corpus side and every branch
    # reported recall 0.
    rows = [(i, [float(i % 7 + 1), float((3 * i) % 5 + 1)]) for i in range(5, 25)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 8)
    out = ivf_recall_vs_centroids(
        corpus, queries, k=3, nprobe=2, centroid_counts=(4, 16)
    ).collect()
    by_nc = {r["n_centroids"]: r for r in out}
    assert set(by_nc) == {4, 16}
    assert by_nc[4]["hits"] == 0 and by_nc[4]["mean_recall"] == 0.0
    assert by_nc[16]["hits"] > 0  # the non-empty quantizer stays real
    assert by_nc[4]["n_queries"] == by_nc[16]["n_queries"] == 3


# ---------------------------------------------------------------------------
# oversized-quantizer warning (ADVICE r13 low: _probe_ranking literal)


def test_probe_ranking_warns_above_centroid_bound(spark, monkeypatch):
    from smoltable_spark.functions import similarity

    monkeypatch.setattr(similarity, "_PROBE_LITERAL_MAX_CENTROIDS", 2)
    from pyspark.sql.types import LongType

    rows = [
        {"cid": i, "cq": [1, 0], "cn2": 1} for i in range(3)
    ]
    with pytest.warns(RuntimeWarning, match="inlining 3 centroids"):
        col = similarity._probe_ranking((rows, LongType()))
    # the expression still builds and evaluates (degrade, don't break)
    df = spark.createDataFrame(
        [(1, [1, 1], 2)], "vec_id long, q array<bigint>, nrm2 long"
    ).select(F.element_at(col, 1).getField("cid").alias("c"))
    assert df.collect()[0]["c"] in (0, 1, 2)
