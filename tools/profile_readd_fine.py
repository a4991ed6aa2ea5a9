"""Sub-phase timing of append_ivf_index's upsert path (r14, guide §1):
replicates the append internals step by step so the commit-floor claim
is attributed to a specific job, not to 'the append'.

Usage: python tools/profile_readd_fine.py  (env: SPARK_GRAFT_SF_DIR/CPUS)
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
    from smoltable_spark.functions import similarity
    from smoltable_spark.functions.ann_index import (
        _check_fold_crash_evidence,
        _fold_tombstones,
        _tombstones,
        delete_from_ivf_index,
    )
    from smoltable_spark.functions.similarity import (
        _collected_centroids,
        _with_nearest_list,
        with_quantized_norm,
    )
    from smoltable_spark.sources.store_fs import store_fs_for
    from smoltable_spark.queries_util import scratch_dir

    spark = get_spark("profile_readd_fine", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for rep in range(2):
        emb = load_table(spark, sf_dir, "embeddings")
        path = scratch_dir("smoltable_prof_readd2_") + "/ivf"
        similarity.build_ivf_index(emb, path, n_centroids=8)
        victims = emb.filter(F.col("vec_id") % 7 == 6)
        delete_from_ivf_index(spark, path, victims.select("vec_id"))
        replacement = (
            victims.alias("e")
            .join(emb.alias("p"), F.col("p.vec_id") == F.col("e.vec_id") - 1)
            .select(
                F.col("e.vec_id").alias("vec_id"),
                F.col("p.embedding").alias("embedding"),
            )
        )
        # ---- append internals, timed ----
        t0 = time.time()
        cents = spark.read.parquet(path.rstrip("/") + "/_centroids")
        nv = with_quantized_norm(replacement, "embedding").select(
            F.col("vec_id").alias("vec_id"), "q", "nrm2"
        )
        nv_listed = _with_nearest_list(nv, _collected_centroids(cents))
        t1 = time.time()
        base = path.rstrip("/")
        staging = base + "/.staging-append"
        fs = store_fs_for(spark, base)
        assert not fs.exists(staging)
        _check_fold_crash_evidence(fs, base)
        t2 = time.time()
        nv_listed = nv_listed.localCheckpoint(eager=True)
        t3 = time.time()
        tombs = _tombstones(spark, path)
        batch_ids = {
            r["vec_id"]
            for r in nv_listed.select("vec_id").distinct().join(
                F.broadcast(tombs.select("vec_id").distinct()), "vec_id"
            ).collect()
        }
        t4 = time.time()
        _fold_tombstones(spark, path, only_vec_ids=batch_ids)
        t5 = time.time()
        (
            nv_listed.write.mode("overwrite").partitionBy("list_id").parquet(
                staging
            )
        )
        t6 = time.time()
        from smoltable_spark.functions.similarity import _GEN_ROOT, _ivf_pointer

        m, gmap, meta = _ivf_pointer(fs, base)
        moved = 0
        for part, is_dir in fs.list_status(staging):
            if not is_dir:
                continue
            dst_dir = f"{base}/{part}"
            fs.makedirs(dst_dir)
            for name, _ in fs.list_status(f"{staging}/{part}"):
                if name.startswith("_") or name.startswith("."):
                    continue
                fs.rename(f"{staging}/{part}/{name}", f"{dst_dir}/{name}")
                moved += 1
        fs.rmtree(staging)
        t7 = time.time()
        print(
            f"[{rep}] cents+plan={t1-t0:.3f} checks={t2-t1:.3f} "
            f"ckpt={t3-t2:.3f} batch_ids={t4-t3:.3f} fold={t5-t4:.3f} "
            f"staged_write={t6-t5:.3f} publish({moved}f)={t7-t6:.3f} "
            f"total={t7-t0:.3f}"
        )

    spark.stop()


if __name__ == "__main__":
    main()
