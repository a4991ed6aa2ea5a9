"""Persisted-ANN-index MAINTENANCE: incremental adds without retrain.

``build_ivf_index`` (functions/similarity.py) pays the corpus assignment
shuffle once and materializes inverted lists ``partitionBy(list_id)``.
At serving scale the corpus is not static — new vectors land every day —
and re-building a 100 TB index per batch is not viable. The standard
IVF answer (FAISS ``add``): keep the coarse quantizer FROZEN, assign
only the new vectors, and append them to their lists. Here that maps to
a parquet ``mode("append")`` into the same ``list_id=`` directories —
new row-files land beside the old ones (LSM-style: the "delta" is just
more files in the partition), queries keep reading base+delta
transparently through the same partition-pruned scan, and nothing is
rewritten.

The tradeoff is the honest one from the ANN literature: a frozen
quantizer drifts as the distribution shifts — lists imbalance and
recall decays — so production systems re-train centroids at a slow
cadence (the rebuild path that already exists) while ``append`` serves
the fast path. That split, fast appends + slow rebuilds, is exactly the
compaction story the CellStore uses for table data.

Filesystem contract: the whole maintenance family — append, delete,
fold, compact, vacuum — runs its metadata through the storage adapter
(``sources/store_fs.py``), so an index on ``hdfs://`` or ``s3a://`` is
maintained from any driver, by the same code on every filesystem.
Publishes are staged under dot-prefixed names invisible to readers. A
fold never renames anything a reader can see: the survivors of the
affected lists land in dot-prefixed ``.gen/g=<m>/`` dirs, and one
``_LISTGEN`` pointer commit (see ``functions/similarity.py``)
atomically swaps those lists to their new generation and transitions
the tombstone set. Readers resolve lists through
``similarity.read_ivf_lists``. ``vacuum_ivf_index`` reclaims superseded
generations and the pre-fold plain dirs under FIFO pointer retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.functions.similarity import (
    _GEN_ROOT,
    _collected_centroids,
    _ivf_pointer,
    _listgen_pointer,
    _with_nearest_list,
    read_ivf_lists,
    with_quantized_norm,
)
from smoltable_spark.session import materialize
from smoltable_spark.sources.store_fs import store_fs_for


def _serving_dir(base: str, gmap: dict[int, int], k: int) -> str | None:
    """Live data dir for list ``k`` under pointer map ``gmap``: the plain
    partition dir when unmapped, the generation dir when folded
    (g >= 1), None when the list is retired (g == 0, every row
    tombstoned away)."""
    g = gmap.get(k)
    if g is None:
        return f"{base}/list_id={k}"
    if g == 0:
        return None
    return f"{base}/{_GEN_ROOT}/g={g}/list_id={k}"


def _commit_listgen(
    fs, base: str, m_new: int, lists: dict[int, int],
    tomb_keep: list[str], tomb_folded: list[str],
) -> None:
    """Publish IVF pointer number ``m_new``. A concurrent maintenance
    writer makes the loser raise ``ConcurrentCommitError``; its staged
    ``.gen`` output is dot-prefixed garbage ``vacuum_ivf_index`` sweeps."""
    _listgen_pointer(fs, base).commit(
        m_new,
        {
            "lists": {str(k): g for k, g in sorted(lists.items())},
            "tomb_keep": sorted(tomb_keep),
            "tomb_folded": sorted(tomb_folded),
        },
    )


def append_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add vectors to a persisted IVF index WITHOUT retraining: assign
    each new vector to its nearest list under the index's own persisted
    centroids (the quantizer stays frozen, so existing assignments —
    and therefore existing files — remain valid), then parquet-append
    into the same ``partitionBy(list_id)`` layout. Cost: one broadcast
    assignment pass + O(new rows) write; the base index is never read
    or rewritten. ``query_ivf_index`` serves base + appended rows
    through the identical partition-pruned scan with no code change.

    Concurrency contract: readers may run concurrently with an append
    (staged write + per-file rename publish — see inline comment), but
    appends assume a SINGLE writer per index (the staging dir is a fixed
    name; two concurrent appenders would collide). Serialize appends per
    index, exactly like LSM memtable flushes.

    Delete interplay: a batch id with an OUTSTANDING tombstone is the
    vector-DB upsert (FAISS ``remove_ids`` then ``add``). A vec_id-keyed
    tombstone cannot tell the old row from the new one, so before
    publishing, the intersecting tombstones are FOLDED — a targeted
    compact restricted to the batch's ids, O(affected lists). Every
    crash window leaves the id fully deleted and a replay converges;
    plain appends pay one bounded tombstone read."""
    cents = spark.read.parquet(path.rstrip("/") + "/_centroids")
    nv = with_quantized_norm(new_vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), "q", "nrm2"
    )
    nv_listed = _with_nearest_list(nv, _collected_centroids(cents))
    # a bare mode("append") exposes partially-committed task files to
    # readers. Stage the delta under a dot-prefixed dir inside the index
    # (invisible to partition discovery), then move the finished files
    # into their ``list_id=`` partitions LAST: a concurrent reader sees
    # a clean prefix of the delta's files, never a torn file.
    base = path.rstrip("/")
    staging = base + "/.staging-append"
    fs = store_fs_for(spark, base)
    # a crash mid-publish leaves some delta files already moved in with
    # the staging dir still present; re-running would re-publish the
    # whole delta under fresh filenames and DUPLICATE those vectors.
    # Fail fast instead: recovery is explicit, and the refused append
    # has not consumed its input.
    if fs.exists(staging):
        raise IOError(
            f"IVF append aborted: staging dir {staging} already exists — "
            "a previous append crashed mid-publish (or a concurrent "
            "appender is running, violating the single-writer contract). "
            "Reconcile: move its remaining files into their list_id= "
            "partitions to finish that publish, or delete the staging dir "
            "to roll it back; then retry this append."
        )
    # the assigned batch feeds two actions (the tombstone intersection
    # and the staged write) and is often join-derived: compute it once,
    # after the fail-fast check.
    nv_listed = materialize(nv_listed, "bounded")
    # fold the tombstones the batch supersedes BEFORE its rows become
    # visible, so the published rows serve unmasked. Batch ids and
    # outstanding tombstones are both bounded: the collect is
    # driver-safe.
    tombs = _tombstones(spark, path)
    if tombs is not None:
        batch_ids = {
            r["vec_id"]
            for r in nv_listed.select("vec_id").distinct().join(
                F.broadcast(tombs.select("vec_id").distinct()), "vec_id"
            ).collect()
        }
        if batch_ids:
            _fold_tombstones(spark, path, only_vec_ids=batch_ids)
    (
        nv_listed
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(staging)
    )
    # a list folded generationally serves from its .gen/g=<g>/ dir: new
    # files must land there, not in the pointer-shielded plain dir
    m, gmap, meta = _ivf_pointer(fs, base)
    revived: dict[int, int] = {}
    for part, is_dir in fs.list_status(staging):
        if not is_dir:
            continue  # _SUCCESS marker
        try:
            k = int(part.split("=", 1)[1])
        except (IndexError, ValueError):
            k = None
        g = gmap.get(k) if k is not None else None
        if g is None:
            dst_dir = f"{base}/{part}"
        elif g >= 1:
            dst_dir = f"{base}/{_GEN_ROOT}/g={g}/{part}"
        else:
            # retired list (every row tombstoned away): revive it under
            # a FRESH generation; the pointer CAS below makes the
            # revival visible all-or-nothing
            dst_dir = f"{base}/{_GEN_ROOT}/g={m + 1}/{part}"
            revived[k] = m + 1
        fs.makedirs(dst_dir)
        for name, _ in fs.list_status(f"{staging}/{part}"):
            if name.startswith("_") or name.startswith("."):
                continue
            # task-UUID filenames: no collision with base files. A failed
            # rename raises, leaving staging in place for inspection (a
            # concurrent appender on the fixed staging path, or a stale
            # destination file) — never deleted with unpublished rows
            fs.rename(f"{staging}/{part}/{name}", f"{dst_dir}/{name}")
    if revived:
        # pointer BEFORE the staging delete: a crash in between leaves
        # the staging dir as fail-fast evidence, never silently-lost
        # revived rows
        _commit_listgen(
            fs, base, m + 1, {**gmap, **revived},
            list(meta.get("tomb_keep", [])),
            list(meta.get("tomb_folded", [])),
        )
    fs.rmtree(staging)


# ---------------------------------------------------------------------------
# deletes: tombstones + targeted list compaction

_TOMBSTONE_ROOT = "_tombstones"

#: The fold collects no tombstone rows (nothing bounds the tombstone set
#: but the compaction cadence); this threshold only decides whether the
#: victim side of the survivor anti-join is broadcast (small: one
#: executor-local hash map) or shuffled (large: AQE picks the strategy).
_BROADCAST_MAX_TOMBS = 1_000_000


def _tombstones(spark, path: str):
    from smoltable_spark.functions.similarity import ivf_tombstones

    return ivf_tombstones(spark, path)


def delete_from_ivf_index(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors from a persisted IVF index WITHOUT rewriting it:
    the LSM answer to deletes, completing the fast-path maintenance
    family (``append_ivf_index`` = memtable flush, this = tombstones,
    ``compact_ivf_index`` = the slow fold). FAISS exposes the same
    split as ``remove_ids`` (eager O(index) rewrite) vs ID-selector
    masking at query time; at 100 TB only the masking shape is viable
    per-batch.

    One column-pruned scan of the index resolves each victim id to its
    list assignment (robust against any later centroid retrain — no
    re-derivation from embeddings), and the (vec_id, list_id) pairs are
    committed as a tombstone file under ``_tombstones/`` via
    stage-then-atomic-dir-rename (readers see the whole tombstone batch
    or none of it). ``query_ivf_index`` anti-joins tombstones at serve
    time — O(tombstones) extra work per query batch, which
    ``compact_ivf_index`` resets by rewriting ONLY the affected list
    partitions. Returns the number of tombstoned rows (0 when no victim
    id exists in the index — deleting an absent id is a no-op, not an
    error). Single-writer contract, like ``append_ivf_index``."""
    import uuid

    base = path.rstrip("/")
    fs = store_fs_for(spark, base)
    # sweep rollback artifacts of a crashed PREVIOUS delete: a leftover
    # .staging-delete-* was never published (the atomic rename into
    # _tombstones/ is the commit point), so under the single-writer
    # contract removing it is a pure rollback
    for d in fs.listdir(base):
        if d.startswith(".staging-delete-"):
            fs.rmtree(f"{base}/{d}")
    victims = ids.select(F.col(id_col).alias("vec_id")).distinct()
    # the delete batch is caller-bounded (an API request), the index is
    # not: broadcast the victims, stream the index. Victims resolve
    # against each list's LIVE dir.
    lists = read_ivf_lists(spark, base)
    if lists is None:  # fully-retired index: nothing to delete
        return 0
    hits = (
        lists
        .join(F.broadcast(victims), "vec_id")
        .select("vec_id", "list_id")
        .distinct()
    )
    tag = uuid.uuid4().hex[:12]
    staging = f"{base}/.staging-delete-{tag}"
    # ONE Spark action: write the hit set, then count it from the
    # staged parquet FOOTERS (driver-side metadata read — FS-agnostic,
    # no second job over the join)
    hits.coalesce(1).write.mode("overwrite").parquet(staging)
    n = fs.parquet_dir_rows(staging)
    if n == 0:
        fs.rmtree(staging)
        return 0
    dst_root = f"{base}/{_TOMBSTONE_ROOT}"
    fs.makedirs(dst_root)
    # the publish is a dir rename: atomic on rename-atomic
    # filesystems; a copy+delete rename can show a concurrent reader a
    # partly copied leg. An unpublished staging dir is swept by the
    # next delete.
    fs.rename(staging, f"{dst_root}/d-{tag}")
    return int(n)


def _fold_tombstones(
    spark, path: str, only_vec_ids: set | None = None
) -> dict:
    """Physically drop tombstoned rows from their lists and clear the
    folded tombstones. ``only_vec_ids`` restricts the fold to a subset
    of tombstoned ids (the append-upsert path); the remaining tombstones
    stay live in a kept leg.

    Crash discipline: the survivors of the affected lists land in the
    dot-prefixed ``.gen/g=<m+1>/`` dir and the kept tombstones in a
    dot-prefixed ``.t-*`` leg, both invisible to every reader. ONE
    ``_LISTGEN`` pointer create then swaps the lists and transitions the
    tombstone set together, so a crash before it leaves only
    unreferenced dot dirs (the next fold or ``vacuum_ivf_index`` sweeps
    them) and a crash after it only legs the pointer already excludes.

    Scale discipline: NOTHING
    table-sized touches the driver. The victim/keep split and the
    survivor rewrite are Spark jobs over the tombstone legs; the only
    collect is the DISTINCT affected list ids, bounded by the coarse
    quantizer's ``n_centroids`` (hundreds to low thousands — the same
    contract ``query_ivf_index`` documents for its probe collect). The
    victim side of the survivor anti-join is broadcast only below
    ``_BROADCAST_MAX_TOMBS`` rows; above, it shuffles."""
    import uuid

    base = path.rstrip("/")
    fs = store_fs_for(spark, base)
    m, gmap, meta = _ivf_pointer(fs, base)
    tombs = _tombstones(spark, base)
    if tombs is None:
        return {"tombstones": 0, "lists_rewritten": 0}
    troot = f"{base}/{_TOMBSTONE_ROOT}"
    # a kept leg is committed by the pointer naming it in ``tomb_keep``:
    # an UNREFERENCED ``.t-*`` dir is a crashed subset fold's pure
    # rollback (the legs it was derived from are still live)
    folded_names = set(meta.get("tomb_folded", []))
    keep_names = set(meta.get("tomb_keep", []))
    legs = []       # live tombstone legs (full paths)
    leg_names = []  # their basenames — the next pointer's tomb_folded
    for d, is_dir in fs.list_status(troot):
        if not is_dir:
            continue
        elif (d.startswith("d-") and d not in folded_names) or d in keep_names:
            legs.append(f"{troot}/{d}")
            leg_names.append(d)
        elif d.startswith(".t-"):
            fs.rmtree(f"{troot}/{d}")
    # total tombstone rows from the legs' parquet FOOTERS — driver-side
    # metadata, no Spark job; n_folded derives from it (total − kept)
    # so neither the full fold nor the subset fold pays a count job
    tombs_total = sum(fs.parquet_dir_rows(d) for d in legs)
    if tombs_total == 0:
        return {"tombstones": 0, "lists_rewritten": 0}
    # the victim/keep split, the per-list aggregation and the survivor
    # anti-join all read the (bounded) tombstone set; it fills in the
    # first of them
    tombs = materialize(tombs, "bounded", eager=False)
    kept = 0
    stage = None
    # ONE bounded aggregation job computes the per-list folded counts
    # (which IS the affected set) and the kept count, hence n_folded;
    # its rows are bounded by n_centroids. The kept leg is written
    # ONLY when kept > 0: the append-upsert path usually folds every
    # tombstone it intersects and then skips that parquet write.
    if only_vec_ids is not None:
        # the subset is the append batch's ids: caller-bounded (an
        # API request), so the split joins broadcast it
        batch = spark.createDataFrame(
            [(int(v),) for v in sorted(only_vec_ids)], "vec_id long"
        )
        fold_df = tombs.join(F.broadcast(batch), "vec_id")
        split = (
            tombs.join(
                F.broadcast(batch.withColumn("_b", F.lit(1))),
                "vec_id",
                "left",
            )
            .groupBy("list_id")
            .agg(
                F.count(F.when(F.col("_b").isNotNull(), 1)).alias("folded"),
                F.count(F.when(F.col("_b").isNull(), 1)).alias("kept"),
            )
            .collect()
        )
        kept = sum(int(r["kept"]) for r in split)
        if kept:
            # the survivors go under their final DOT name directly:
            # invisible to both listing rules until the pointer commit
            # below names the leg in ``tomb_keep``, so the tombstone
            # transition is atomic WITH the list swap. Types pinned to
            # the d-* leg schema (vec_id int64, list_id int32) so
            # multi-leg reads merge.
            stage = f"{troot}/.t-{uuid.uuid4().hex[:12]}"
            (
                tombs.join(F.broadcast(batch), "vec_id", "left_anti")
                .select(
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("list_id").cast("int").alias("list_id"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
    else:
        fold_df = tombs
        split = (
            tombs.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("folded"))
            .collect()
        )
    n_folded = tombs_total - kept
    if n_folded == 0:
        if stage is not None:
            fs.rmtree(stage)
        return {"tombstones": 0, "lists_rewritten": 0}
    # a tombstone pointing at a list with no live dir (retired by an
    # earlier fold, or removed by hand) has nothing left to drop
    affected = []
    for r in split:
        if int(r["folded"]) == 0:
            continue  # kept-only list: nothing of it folds
        d = _serving_dir(base, gmap, r["list_id"])
        if d is not None and fs.isdir(d):
            affected.append(r["list_id"])
    affected.sort()
    victims = fold_df.select("vec_id").distinct()
    if tombs_total <= _BROADCAST_MAX_TOMBS:
        victims = F.broadcast(victims)
    g_new = m + 1
    new_lists = dict(gmap)
    if affected:
        survivors = read_ivf_lists(spark, base, affected).join(
            victims, "vec_id", "left_anti"
        )
        gen_dir = f"{base}/{_GEN_ROOT}/g={g_new}"
        # dot-prefixed: invisible to every reader until the pointer
        # commit; a crashed previous attempt at this same generation
        # number is simply overwritten
        survivors.write.mode("overwrite").partitionBy("list_id").parquet(
            gen_dir
        )
        present = {
            int(nm.split("=", 1)[1])
            for nm, isd in fs.list_status(gen_dir)
            if isd and nm.startswith("list_id=")
        }
        for l in affected:
            # a list whose every row was tombstoned RETIRES (g=0):
            # readers skip it (the empty LSM level)
            new_lists[l] = g_new if l in present else 0
    # THE commit point: one all-or-nothing pointer create swaps the
    # affected lists to their new generation AND transitions the
    # tombstone set (folded legs out, kept leg in). Readers see
    # pre-fold or post-fold, never mid-swap.
    _commit_listgen(
        fs, base, g_new, new_lists,
        tomb_keep=[stage.rsplit("/", 1)[1]] if stage else [],
        tomb_folded=sorted(folded_names | set(leg_names)),
    )
    # post-commit sweep: the pointer already excludes these legs, so a
    # crash mid-sweep leaves only ignored garbage (vacuum_ivf_index
    # finishes the job)
    for d in legs:
        fs.rmtree(d)
    return {"tombstones": int(n_folded), "lists_rewritten": len(affected)}


def compact_ivf_index(spark, path: str) -> dict:
    """Fold tombstones into the index: rewrite ONLY the lists that
    contain tombstoned rows (O(affected lists), never O(index)), then
    clear the folded tombstone files. Serving results are BIT-IDENTICAL
    before and after — the tombstone anti-join and the physical drop
    express the same set — so compaction is pure read-amplification
    maintenance, exactly like the CellStore's minor fold.

    The fold publishes through one ``_LISTGEN`` generation commit on
    every filesystem (see the module docstring): readers see pre-fold
    or post-fold, never a mid-copy directory. The pre-fold rows stay
    in the plain list dirs, shielded by the pointer, until
    ``vacuum_ivf_index`` removes them. Single maintenance writer (a
    violation raises ``ConcurrentCommitError``)."""
    return _fold_tombstones(spark, path)


def vacuum_ivf_index(spark, path: str, keep_pointers: int = 2) -> dict:
    """Reclaim storage a folded IVF index no longer serves:
    superseded ``.gen/g=<g>`` dirs, pre-fold stale plain ``list_id=``
    dirs, swept-but-crashed tombstone legs, and old pointer files —
    the IVF analog of ``CellStore.vacuum`` (same retention discipline:
    FIFO over pointer generations).

    ``keep_pointers`` pointers are RETAINED (≥1): a reader that
    resolved the pointer just before this vacuum holds at most the
    previous pointer, so everything any retained pointer references
    stays on disk —

    - a ``.gen/g=<g>`` dir survives while ANY retained pointer maps a
      list to generation ``g``;
    - a stale plain ``list_id=<k>`` dir is deleted only when EVERY
      retained pointer maps ``k`` away from it;
    - a tombstone leg is deleted when the CURRENT pointer lists it in
      ``tomb_folded`` (its exclusion is already durable, the dir is
      pure garbage from a crashed post-commit sweep).

    No-op (all zeros) on a never-folded index — there is nothing
    generational to reclaim. Single-maintenance-writer contract, like
    the fold family. Returns counts of reclaimed dirs per kind."""
    base = path.rstrip("/")
    fs = store_fs_for(spark, base)
    keep_pointers = max(1, keep_pointers)
    pointer = _listgen_pointer(fs, base)
    retained = pointer.generations()[:keep_pointers]
    if not retained:
        return {"pointers": 0, "generations": 0, "plain_dirs": 0, "tomb_legs": 0}
    maps = []
    current_meta: dict = {}
    for i, mnum in enumerate(retained):
        try:
            d = pointer.load(mnum)
            maps.append({int(k): int(g) for k, g in d["lists"].items()})
            if i == 0:
                current_meta = d
        except (ValueError, KeyError):
            continue  # torn pointer: references nothing
    stats = {"pointers": 0, "generations": 0, "plain_dirs": 0, "tomb_legs": 0}
    live_gens = {g for mp in maps for g in mp.values() if g >= 1}
    # superseded generation dirs
    gen_root = f"{base}/{_GEN_ROOT}"
    for name, is_dir in fs.list_status(gen_root):
        if not is_dir or not name.startswith("g="):
            continue
        try:
            g = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if g not in live_gens:
            fs.rmtree(f"{gen_root}/{name}")
            stats["generations"] += 1
    # stale plain dirs: shielded by every retained pointer
    for name, is_dir in fs.list_status(base):
        if not is_dir or not name.startswith("list_id="):
            continue
        try:
            k = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if maps and all(k in mp for mp in maps):
            fs.rmtree(f"{base}/{name}")
            stats["plain_dirs"] += 1
    # tombstone legs the current pointer already excludes
    troot = f"{base}/{_TOMBSTONE_ROOT}"
    folded = set(current_meta.get("tomb_folded", []))
    for name, is_dir in fs.list_status(troot):
        if is_dir and name in folded:
            fs.rmtree(f"{troot}/{name}")
            stats["tomb_legs"] += 1
    # old pointer files last: everything they referenced is now gone or
    # re-referenced by a retained pointer
    stats["pointers"] = pointer.sweep(retained[-1])
    return stats
