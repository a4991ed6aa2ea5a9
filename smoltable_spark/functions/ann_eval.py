"""Serving-configuration advisors built on the recall evaluation sweeps
(round 13, VERDICT r12 ask #8 — the operational layer above
``similarity.ivf_recall_curve``): turn a measured recall curve into the
decision an index operator actually needs — "what is the SMALLEST probe
budget that meets my recall target?".

Everything here is one DataFrame job over the curve (itself two corpus
passes however many sweep cells are requested) and fully deterministic:
quantized integer dot products make every recall value engine-exact, so
the chosen configuration is oracle-checkable, not a heuristic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.session import materialize

from smoltable_spark.functions.similarity import (
    _GEN_ROOT,
    _ivf_pointer,
    ivf_recall_curve,
)


def ivf_index_health(
    spark,
    path: str,
    tombstone_warn_permille: int = 20,
    imbalance_warn_permille: int = 3000,
) -> dict:
    """Metadata-only HEALTH REPORT for a persisted IVF index — the
    numbers an operator reads before deciding which maintenance op to
    run, from parquet FOOTERS and the pointer alone (no data pages, no
    Spark job):

    - ``n_lists`` / ``rows_total`` / ``rows_max_list`` /
      ``rows_min_list``: inverted-list population from each list's LIVE
      serving dir (generation-aware — a folded list reads its
      ``.gen/g=<g>`` dir; a retired list (g=0) holds no rows and is
      excluded from n_lists);
    - ``imbalance_permille``: ``1000 * rows_max_list * n_lists //
      rows_total`` — 1000 means perfectly balanced, large values mean
      the frozen quantizer has drifted and hot lists dominate probe
      cost (the known failure mode of IVF under distribution shift);
    - ``tombstones`` / ``tombstone_permille``: outstanding delete
      backlog vs rows_total — serve-time anti-join work that
      ``compact_ivf_index`` resets;
    - ``generation``: the pointer number (0 = never folded);
    - ``recommendation``: ``"compact"`` when the tombstone backlog
      crosses ``tombstone_warn_permille``, else ``"retrain"`` when
      imbalance crosses ``imbalance_warn_permille``, else
      ``"healthy"`` — compaction first because it is O(affected lists)
      while a retrain re-shuffles the corpus.

    All integers derive from deterministic assignment math, so a
    scripted scenario (build + delete predicate) is exactly
    DuckDB-oracle-checkable. 100 TB: one footer walk, amortizable via
    the store's chain-manifest pattern; the report is the cheap gate in
    front of the expensive maintenance it recommends."""
    from smoltable_spark.sources.store_fs import store_fs_for

    base = path.rstrip("/")
    fs = store_fs_for(spark, base)
    _m, gmap, meta = _ivf_pointer(fs, base)
    rows_by_list: dict[int, int] = {}
    for name, is_dir in fs.list_status(base):
        if not is_dir or not name.startswith("list_id="):
            continue
        try:
            k = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if k in gmap:
            continue  # stale pre-fold dir shielded by the pointer
        rows_by_list[k] = fs.parquet_dir_rows(f"{base}/{name}")
    for k, g in gmap.items():
        if g >= 1:
            rows_by_list[k] = fs.parquet_dir_rows(
                f"{base}/{_GEN_ROOT}/g={g}/list_id={k}"
            )
    rows_total = sum(rows_by_list.values())
    # live tombstone legs: pointer-aware, mirroring ivf_tombstones
    troot = f"{base}/_tombstones"
    folded = set(meta.get("tomb_folded", []))
    keep = set(meta.get("tomb_keep", []))
    tombs = 0
    for name, is_dir in fs.list_status(troot):
        if not is_dir:
            continue
        if (name.startswith("d-") and name not in folded) or name in keep:
            tombs += fs.parquet_dir_rows(f"{troot}/{name}")
    n_lists = len(rows_by_list)
    rows_max = max(rows_by_list.values(), default=0)
    rows_min = min(rows_by_list.values(), default=0)
    imbalance = (1000 * rows_max * n_lists) // rows_total if rows_total else 0
    tomb_pm = (1000 * tombs) // rows_total if rows_total else 0
    if tomb_pm > tombstone_warn_permille:
        rec = "compact"
    elif imbalance > imbalance_warn_permille:
        rec = "retrain"
    else:
        rec = "healthy"
    return {
        "n_lists": n_lists,
        "rows_total": int(rows_total),
        "rows_max_list": int(rows_max),
        "rows_min_list": int(rows_min),
        "imbalance_permille": int(imbalance),
        "tombstones": int(tombs),
        "tombstone_permille": int(tomb_pm),
        "generation": int(_m),
        "recommendation": rec,
    }


def ivf_probe_advisor(
    corpus: DataFrame,
    queries: DataFrame,
    target_recall: float = 0.9,
    ks: tuple[int, ...] = (1, 5, 10),
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each ``k``, the smallest ``nprobe`` whose measured recall@k
    meets ``target_recall`` — the knob an IVF operator turns daily,
    answered from exact evaluation instead of folklore. Falls back to
    the LARGEST swept probe budget when no budget meets the target (the
    honest answer: "this quantizer cannot reach your target; here is
    the best it does").

    Returns (k, target_recall, chosen_nprobe, achieved_recall,
    scan_fraction) where scan_fraction = chosen_nprobe / n_centroids is
    the fraction of inverted lists each query batch will read — the IO
    cost the recall was bought with. Recall is monotone in nprobe
    (candidate sets are nested), so "smallest meeting target" is
    well-defined."""
    # the advisor reads the curve three times (eligible / fallback /
    # achieved-recall self-join): the corpus evaluation runs once
    curve = materialize(
        ivf_recall_curve(
            corpus, queries, ks=ks, nprobes=nprobes,
            n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
        ).select("nprobe", "k", "mean_recall"),
        "bounded",
    )
    eligible = (
        curve.filter(F.col("mean_recall") >= F.lit(float(target_recall)))
        .groupBy("k")
        .agg(F.min("nprobe").alias("eligible_nprobe"))
    )
    fallback = curve.groupBy("k").agg(F.max("nprobe").alias("max_nprobe"))
    pick = fallback.join(eligible, "k", "left").select(
        "k",
        F.coalesce(F.col("eligible_nprobe"), F.col("max_nprobe")).alias(
            "chosen_nprobe"
        ),
    )
    # the achieved-recall lookup is a SELF-join against the curve; rename
    # its columns first so resolution can never collapse to a trivially
    # true k == k on one attribute
    achieved = curve.select(
        F.col("k").alias("c_k"),
        F.col("nprobe").alias("c_nprobe"),
        F.col("mean_recall").alias("achieved_recall"),
    )
    return (
        pick.join(
            achieved,
            (F.col("k") == F.col("c_k"))
            & (F.col("chosen_nprobe") == F.col("c_nprobe")),
        )
        .select(
            "k",
            F.lit(float(target_recall)).alias("target_recall"),
            F.col("chosen_nprobe").cast("int").alias("chosen_nprobe"),
            "achieved_recall",
            (F.col("chosen_nprobe") / F.lit(int(n_centroids))).alias(
                "scan_fraction"
            ),
        )
        .orderBy("k")
    )
