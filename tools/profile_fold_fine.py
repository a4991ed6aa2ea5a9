"""Sub-phase timing of _fold_tombstones' subset (upsert) path (r14,
guide §1): attributes the fold's cost to its individual jobs — the
kept-leg write, the affected-list collect, and the survivors rewrite.

Usage: python tools/profile_fold_fine.py  (env: SPARK_GRAFT_SF_DIR/CPUS)
"""
from __future__ import annotations

import os
import sys
import time
import uuid

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
        _ivf_pointer,
        _serving_dir,
        _tombstones,
        delete_from_ivf_index,
    )
    from smoltable_spark.functions.similarity import read_ivf_lists
    from smoltable_spark.sources.store_fs import store_fs_for
    from smoltable_spark.queries_util import scratch_dir

    spark = get_spark("profile_fold_fine", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for rep in range(2):
        emb = load_table(spark, sf_dir, "embeddings")
        path = scratch_dir("smoltable_prof_fold2_") + "/ivf"
        similarity.build_ivf_index(emb, path, n_centroids=8)
        victims = emb.filter(F.col("vec_id") % 7 == 6)
        delete_from_ivf_index(spark, path, victims.select("vec_id"))
        batch_ids = {r["vec_id"] for r in victims.select("vec_id").collect()}

        base = path.rstrip("/")
        fs = store_fs_for(spark, base)
        t0 = time.time()
        m, gmap, meta = _ivf_pointer(fs, base)
        tombs = _tombstones(spark, base)
        troot = f"{base}/_tombstones"
        legs = [
            f"{troot}/{d}"
            for d, is_dir in fs.list_status(troot)
            if is_dir and d.startswith("d-")
        ]
        tombs_total = sum(fs.parquet_dir_rows(d) for d in legs)
        t1 = time.time()
        tombs = tombs.persist()
        tag = uuid.uuid4().hex[:12]
        batch = spark.createDataFrame(
            [(int(v),) for v in sorted(batch_ids)], "vec_id long"
        )
        fold_df = tombs.join(F.broadcast(batch), "vec_id")
        keep_df = tombs.join(F.broadcast(batch), "vec_id", "left_anti")
        stage = f"{troot}/.staging-rewrite-{tag}"
        (
            keep_df.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("list_id").cast("int").alias("list_id"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        kept = fs.parquet_dir_rows(stage)
        t2 = time.time()
        affected = []
        for r in fold_df.select("list_id").distinct().collect():
            d = _serving_dir(base, gmap, r["list_id"])
            if d is not None and fs.isdir(d):
                affected.append(r["list_id"])
        affected.sort()
        t3 = time.time()
        victims_df = F.broadcast(fold_df.select("vec_id").distinct())
        survivors = (
            spark.read.option("basePath", base)
            .parquet(*[f"{base}/list_id={l}" for l in affected])
            .join(victims_df, "vec_id", "left_anti")
        )
        staging = f"{base}/.staging-compact-{tag}"
        survivors.write.mode("overwrite").partitionBy("list_id").parquet(staging)
        t4 = time.time()
        for l in affected:
            old = f"{base}/list_id={l}"
            staged = f"{staging}/list_id={l}"
            new = f"{base}/.new-list_id={l}"
            if fs.isdir(staged):
                fs.rename(staged, new)
            if fs.isdir(old):
                fs.rename(old, f"{staging}/.retired-{l}")
            if fs.isdir(new):
                fs.rename(new, old)
        fs.rmtree(staging)
        if kept == 0:
            fs.rmtree(stage)
        for d in legs:
            fs.rmtree(d)
        tombs.unpersist()
        t5 = time.time()
        print(
            f"[{rep}] meta+footers={t1-t0:.3f} keepleg_write={t2-t1:.3f} "
            f"affected_collect={t3-t2:.3f} survivors_write={t4-t3:.3f} "
            f"swap+sweep={t5-t4:.3f} total={t5-t0:.3f} "
            f"(tombs={tombs_total} kept={kept} lists={len(affected)})"
        )

    spark.stop()


if __name__ == "__main__":
    main()
