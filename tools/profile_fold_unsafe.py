"""Phase-split profiler for ann_ivf_fold_unsafe (r14, guide §1): times
build / delete / serve1 / generational fold / serve2 / vacuum / serve3
so the commit-floor claim is measured, not assumed. Also counts the
driver-side Spark jobs each phase launches (sc.statusTracker job ids).

Usage: python tools/profile_fold_unsafe.py  (env: SPARK_GRAFT_SF_DIR/CPUS)
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from smoltable_spark.session import get_spark
    from smoltable_spark.sources.relational import load_table
    from smoltable_spark.functions import similarity, ann_index
    from smoltable_spark.functions.ann_index import (
        compact_ivf_index,
        delete_from_ivf_index,
        vacuum_ivf_index,
    )
    from smoltable_spark.sources.store_fs import LocalStoreFS
    from smoltable_spark.queries_util import scratch_dir

    class _UnsafeFS(LocalStoreFS):
        def rename(self, src, dst):  # pragma: no cover
            raise AssertionError("reader-visible rename during a fold")

    spark = get_spark("profile_fold_unsafe", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker

    def jobs() -> int:
        return len(tracker().getJobIdsForGroup(None))

    for rep in range(2):
        emb = load_table(spark, sf_dir, "embeddings")
        path = scratch_dir("smoltable_prof_unsafe_") + "/ivf"
        marks = [("start", time.time(), jobs())]

        def mark(label):
            marks.append((label, time.time(), jobs()))

        similarity.build_ivf_index(emb, path, n_centroids=8)
        mark("build")
        delete_from_ivf_index(
            spark, path, emb.filter(F.col("vec_id") % 11 == 3).select("vec_id")
        )
        mark("delete")
        queries = emb.filter(F.col("vec_id") < 5)

        def serve():
            return similarity.query_ivf_index(
                spark, path, queries, k=10, nprobe=2
            ).withColumn("rank", F.col("rank").cast("int"))

        masked = sorted(map(tuple, serve().collect()))
        mark("serve1")
        real_fs_for = ann_index.store_fs_for
        ann_index.store_fs_for = lambda _s, _b: _UnsafeFS()
        try:
            stats = compact_ivf_index(spark, path)
            assert stats["tombstones"] > 0 and stats["lists_rewritten"] > 0
            mark("fold")
            m, gmap = similarity.ivf_list_generations(spark, path)
            assert m == 1 and gmap
            mark("genmap")
            folded = serve()
            assert sorted(map(tuple, folded.collect())) == masked
            mark("serve2")
            assert similarity.ivf_tombstones(spark, path) is None
            mark("tombcheck")
            vstats = vacuum_ivf_index(spark, path, keep_pointers=1)
            assert vstats["plain_dirs"] >= 1
            mark("vacuum")
        finally:
            ann_index.store_fs_for = real_fs_for
        vacuumed = serve()
        assert sorted(map(tuple, vacuumed.collect())) == masked
        mark("serve3")
        line = " ".join(
            f"{marks[i][0]}={marks[i][1]-marks[i-1][1]:.3f}s/"
            f"{marks[i][2]-marks[i-1][2]}j"
            for i in range(1, len(marks))
        )
        print(f"[{rep}] {line} total={marks[-1][1]-marks[0][1]:.3f}s")

    spark.stop()


if __name__ == "__main__":
    main()
