"""CellStore — versioned Parquet storage for cell tables.

Physical design (SURVEY §1.6, §4):

- one directory per table, containing immutable snapshot versions
  ``v=<n>/`` and ``_VERSION-v<n>`` pointer files — a minimal copy-on-write
  MVCC that stands in for the reference's LSM snapshots
  (``keyspace.instant()``, smoltable/src/table/mod.rs:653) and gives
  Delta-style time travel without external dependencies;
- within a snapshot, data is ``partitionBy('lg')`` (locality groups,
  reference mod.rs:34-51) so family-filtered queries touch only their
  group's files — Catalyst partition pruning replaces
  ``get_affected_locality_groups`` (row_reader.rs:6-69);
- files are range-partitioned and sorted by
  (row_key, family, qualifier, ts desc) via ``repartitionByRange`` +
  ``sortWithinPartitions``, so parquet min/max stats on ``row_key`` give
  file- and row-group-level skipping for point reads and prefix/range
  scans — the equivalent of the reference's 64 KiB-block prefix-seek
  layout (mod.rs:28-32, reader.rs:46-78);
- a JSON sidecar persists column families + GC options (the reference's
  manifest partition, mod.rs:271-296).

Snapshot kinds (LSM-style write path — appends must NOT rewrite the
table at 100 TB):

- ``write()`` produces a **base** snapshot (the full table — used by GC /
  retention rewrites and compaction, the levelled-compaction analog);
- ``append()`` produces a **delta** snapshot containing only the batch —
  the memtable-flush analog: cost is O(batch), not O(table);
- ``read(v)`` unions the latest base ≤ v with every leg after it and
  resolves shadowing with ONE rule, the merge the reference's
  MergeReader does across LSM segments
  (smoltable/src/table/merge_reader.rs:4-64): of the copies of a cell
  key (lg, row_key, family, qualifier, ts) the newest leg's wins. The
  legs are read as one union tagged with their version number, and one
  window (``_newest_wins``) keeps the highest tag per key — no join, no
  broadcast, at most one exchange whatever the chain length. A read
  makes that exchange by row_key, so row assembly, the cell-limit
  windows and row counts reuse it; a rewrite resolves inside its
  layout's own range exchange. A single-leg snapshot is read as is.
  The same step, ordered by batch position, keeps the last write of a
  coordinate within one commit;
- ``compact()`` folds base+deltas into a new base (``OPTIMIZE`` analog;
  reference levelled compaction, mod.rs:156-165).

Readers always see a consistent version: the ``_VERSION`` pointer
(``store_fs.GenerationPointer``) is the commit point, published after
the snapshot's data and kind marker are fully on disk. Every commit, on
every filesystem, creates the fresh generation file ``_VERSION-v<n>``
if absent, so no reader can catch a torn pointer, and ``vacuum`` sweeps
generations below its retention cutoff. A store that carries a plain
``_VERSION`` file (the older single-file layout) is refused: rebuild it.

The pointer's content is a JSON chain manifest ``{"v": n, "legs": {v:
[kind, folds], ...}}`` — a write-once cache of every live leg's
``_KIND``/``_FOLDS`` markers, so opening a chain costs one pointer read
instead of two reads per leg on object stores. The marker files stay
authoritative: a version missing from the manifest (trimmed, see
``_MANIFEST_KEEP_VERSIONS``) falls back to reading markers. Kind and
folds are immutable per version number (numbers are never reused), so
the cache needs no invalidation.

**One pointer read + one listing per operation.** Every operation
(``read``, ``read_changes``, a commit, ``vacuum``, the stats) starts
with ``current_version()``: the pointer resolve lists
the store root and reads the pointer, and that one listing becomes the
handle's version → leg-dir map (``_leg_dirs``). Leg-dir names, the
chain's base and every missing-leg check are answered from the map — no
per-leg existence probe, which on a URI store would be one RPC each. A
mutation on the handle (a commit, ``vacuum``) updates the entries it
changed.

**Writer concurrency.** Mutations assume a SINGLE writer per store, like
LSM memtable flushes: two writers can interleave staging under the same
``v=<n>`` dir, or a vacuum listing with a commit, in ways no pointer
protocol repairs after the fact. What the engine guarantees is that a
violation is loud: the generation create is a create-if-absent CAS on
every filesystem, so of two writers racing to commit the same version
exactly one wins and the other raises :class:`ConcurrentCommitError`.
Readers need no coordination.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.schema import CELL_COLUMNS, CELLS_SCHEMA, cell_order
from smoltable_spark.sources.store_fs import (  # noqa: F401 — re-exported
    ConcurrentCommitError,
    GenerationPointer,
    publish_text,
    store_fs_for,
)

_VERSION_FILE = "_VERSION"
_MANIFEST_FILE = "_MANIFEST.json"
#: chain-manifest entries older than the latest base below (current -
#: this many) versions are trimmed from the pointer at commit time —
#: bounds pointer size on long-lived stores; trimmed versions just fall
#: back to their marker files (time travel stays correct, only slower)
_MANIFEST_KEEP_VERSIONS = 64

#: physical directory value for the default locality group: Hive-style
#: partitioning cannot round-trip an empty string (it reads back as NULL),
#: so '' is encoded as this sentinel on disk and decoded on read.
_DEFAULT_LG = "_default"

#: the newest-wins order a chain read or a commit batch carries until
#: :func:`_newest_wins` resolves it: a leg's version number, or a cell's
#: position in its batch
_SEQ = "__seq"
#: a cell's identity: its locality group (which follows from its
#: family) and the reference's LSM key row:cf:cq:!ts (cell.rs:168-182)
_CELL_KEY = ["lg", "row_key", "family", "qualifier", "ts"]


def _newest_wins(df: DataFrame) -> DataFrame:
    """THE shadowing step: of the rows sharing a cell key keep the one
    with the highest ``_SEQ``, and drop ``_SEQ``; a frame without the
    column is returned as is. One window, no join and no broadcast. It
    adds no exchange when its input is already clustered on part of the
    cell key (hash by row_key for reads, range by (lg, row_key) for base
    rewrites); otherwise Spark inserts one exchange on the key."""
    from pyspark.sql.window import Window

    if _SEQ not in df.columns:
        return df
    w = Window.partitionBy(*_CELL_KEY).orderBy(F.col(_SEQ).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", _SEQ)
    )


def _shadowed(chain: DataFrame) -> DataFrame:
    """A read's placement of :func:`_newest_wins`: behind an exchange by
    row_key. That hash partitioning satisfies every row-key consumer
    downstream (row assembly, the cell-limit and GC windows, distinct
    row counts), so they resolve shadowing inside the exchange they make
    anyway, and filters on any cell-key column (lg pruning included)
    still reach the leg scans."""
    if _SEQ not in chain.columns:
        return chain
    return _newest_wins(chain.repartition("row_key"))


class CellStore:
    """A versioned, locality-group-partitioned cells table on disk."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # driver-side metadata adapter (sources/store_fs.py)
        self._fs = store_fs_for(spark, path)
        self._fs.makedirs(path)
        # write-once chain metadata: version -> (kind, folds|None),
        # refreshed from the pointer's JSON manifest on every pointer
        # read (see module docstring — kind/folds are immutable per
        # version number, so entries never need invalidation)
        self._chain_cache: dict[int, tuple[str, tuple[int, int] | None]] = {}
        # the store root as the last pointer resolve listed it, and the
        # leg dirs in it: version -> dir name (see module docstring)
        self._listing: list[str] = []
        self._leg_dirs: dict[int, str] = {}

    # -- manifest (column families / locality groups) ----------------------

    def save_families(self, families: list[ColumnFamilyDef]) -> None:
        data = [
            dict(name=f.name, ttl_secs=f.ttl_secs, version_limit=f.version_limit, lg=f.lg)
            for f in families
        ]
        publish_text(
            self._fs, os.path.join(self.path, _MANIFEST_FILE), json.dumps(data)
        )

    def load_families(self) -> list[ColumnFamilyDef]:
        p = os.path.join(self.path, _MANIFEST_FILE)
        if not self._fs.exists(p):
            return []
        return [ColumnFamilyDef(**d) for d in json.loads(self._fs.read_text(p))]

    def family_to_lg(self) -> dict[str, str]:
        return {f.name: f.lg for f in self.load_families()}

    # -- versions ----------------------------------------------------------

    @property
    def _pointer(self) -> GenerationPointer:
        # built per use: the adapter (and its probed capability) is what
        # the handle holds right now
        return GenerationPointer(self._fs, self.path, _VERSION_FILE)

    def current_version(self) -> int:
        """The committed version (0 before the first commit). Re-resolves
        every call — a long-lived handle (streaming CDC polls this per
        batch) must observe other writers' commits — and refreshes the
        chain-manifest cache and the leg-dir map from the listing the
        resolve took."""
        n, payload, names = self._pointer.resolve_listed()
        for v, (kind, folds) in (payload or {}).get("legs", {}).items():
            self._chain_cache[int(v)] = (
                str(kind), tuple(folds) if folds is not None else None
            )
        legs = self._leg_map(names)
        if n and n not in legs:
            # the newest leg's dir appeared after the listing (a commit
            # landed between the listing and the pointer read): every leg
            # dir of version <= n exists by now
            names = self._fs.listdir(self.path)
            legs = self._leg_map(names)
        self._listing, self._leg_dirs = names, legs
        return n

    def _commit_version(self, n: int) -> None:
        """Publish version ``n`` with its chain manifest. Old generations
        stay until ``vacuum`` sweeps past them (removing n-1 here would
        make a reader that listed just before this commit re-list)."""
        manifest = {
            str(v): [kind, list(folds) if folds is not None else None]
            for v, (kind, folds) in self._trimmed_manifest(n).items()
        }
        self._pointer.commit(n, {"legs": manifest})

    def _trimmed_manifest(self, n: int) -> dict[int, tuple[str, tuple[int, int] | None]]:
        """Chain-cache entries worth publishing in version ``n``'s
        pointer: everything at or above the latest base at or below
        (n - _MANIFEST_KEEP_VERSIONS) — every leg of the last
        _MANIFEST_KEEP_VERSIONS snapshots' chains is ≥ that base, so
        recent reads stay one-RPC while the pointer stays bounded."""
        horizon = n - _MANIFEST_KEEP_VERSIONS
        floor = 1
        for v, (kind, _f) in self._chain_cache.items():
            if kind == "base" and floor < v <= horizon:
                floor = v
        return {v: kf for v, kf in self._chain_cache.items() if v >= floor}

    #: minor (tiered-compaction) legs live under a DOT-prefixed dir name:
    #: Spark's file listing skips dot/underscore-prefixed paths, so a
    #: minor leg is invisible to a flat store's root partition discovery
    #: (``readStream.parquet(store.path)``) and to the layout stores'
    #: ``v=*/lg=*/*.parquet`` delta glob — the streaming CDC source never
    #: re-consumes re-laid-out cells. Explicit-path reads
    #: (``_merge_legs``) see the dir fine: the hidden-name filter applies
    #: to listed CHILDREN, not a given root — so the ``All paths were
    #: ignored`` WARN Spark logs for such a root is benign. Leg dirs are
    #: recognised from the one root listing an operation takes
    #: (``_leg_map``); nothing probes for them.
    _MINOR_DIR = ".v={n}.minor"

    @staticmethod
    def _dirname_version(name: str) -> int | None:
        """Version number encoded in a leg dir name (either the plain
        ``v=<n>`` or the dot-prefixed minor form), else None."""
        if name.startswith("v="):
            try:
                return int(name[2:])
            except ValueError:
                return None
        if name.startswith(".v=") and name.endswith(".minor"):
            try:
                return int(name[3:-len(".minor")])
            except ValueError:
                return None
        return None

    @classmethod
    def _leg_map(cls, names: list[str]) -> dict[int, str]:
        """Version -> leg dir name among a root listing."""
        legs: dict[int, str] = {}
        for name in names:
            v = cls._dirname_version(name)
            if v is not None:
                legs[v] = name
        return legs

    def _version_dir(self, n: int) -> str:
        """A version's leg dir as the last listing named it, else the
        plain name (the name a new base/delta commit takes)."""
        return os.path.join(self.path, self._leg_dirs.get(n, f"v={n}"))

    _KIND_FILE = "_KIND"

    def _kind(self, n: int) -> str:
        cached = self._chain_cache.get(n)
        if cached is not None:
            return cached[0]
        p = os.path.join(self._version_dir(n), self._KIND_FILE)
        if not self._fs.exists(p):
            return "base"  # pre-delta layouts: every snapshot was full
        return self._fs.read_text(p).strip()

    def _base_of(self, n: int) -> int:
        """Latest listed base version ≤ n (0 when the chain starts with
        deltas): one downward walk over the listed legs, kinds from the
        chain cache (a marker read only for a version it lacks)."""
        for v in range(n, 0, -1):
            if v in self._leg_dirs and self._kind(v) == "base":
                return v
        return 0

    _FOLDS_FILE = "_FOLDS"

    def _folds_of(self, n: int) -> tuple[int, int] | None:
        """(from, through) leg range a **minor** leg folded, else None."""
        cached = self._chain_cache.get(n)
        if cached is not None:
            return cached[1]
        p = os.path.join(self._version_dir(n), self._FOLDS_FILE)
        if not self._fs.exists(p):
            return None
        d = json.loads(self._fs.read_text(p))
        return int(d["from"]), int(d["through"])

    def _legs_of(self, n: int) -> list[int]:
        """Version numbers whose files constitute snapshot ``n``, in
        commit order: the latest base ≤ n, then subsequent delta legs —
        except that a **minor** leg (tiered compaction: the fold of a
        run of delta legs into ONE leg, see ``minor_compact``) supersedes
        exactly the ``_FOLDS`` range it merged, so stacked minors (L1)
        coexist until a major ``compact()``. This is THE chain resolver:
        ``read``/``vacuum``/stats all agree on it by construction."""
        base = self._base_of(n)
        legs: list[int] = []
        for v in range(max(base, 1), n + 1):
            if self._kind(v) == "minor":
                folds = self._folds_of(v)
                if folds is None:  # no marker: conservatively assume the
                    legs = [base] if base >= 1 else []  # fold-all form
                else:
                    frm, through = folds
                    legs = [u for u in legs if u < frm or u > through]
            legs.append(v)
        return legs

    # -- write / read ------------------------------------------------------

    def write(
        self,
        cells: DataFrame,
        num_range_partitions: int | None = None,
        seq_col: str | None = None,
        assume_unique_coords: bool = False,
    ) -> int:
        """Write a new **base** snapshot containing exactly ``cells``;
        returns version. Layout: lg partition dirs → range-partitioned,
        key-sorted parquet (the ``_layout`` hook — Z-order subclasses
        substitute their own SINGLE arrangement shuffle).

        A batch that writes one coordinate twice keeps only the last
        occurrence (the reference's LSM key ``row:cf:cq:!ts`` overwrites
        on insert, cell.rs:168-182); ``_layout`` resolves it with the
        chain's newest-wins step inside its range exchange. **Ordering
        contract.** With no ``seq_col``, batch order is captured with
        ``monotonically_increasing_id``, which follows (partition_index,
        position-within-partition). That equals logical batch order for
        order-preserving inputs — file reads and ``createDataFrame`` —
        which is the only supported default. For input that arrives
        SHUFFLED (a join/repartition upstream) or may re-run under task
        retries, the winning duplicate would be partition-layout-
        dependent: callers in that situation MUST pass ``seq_col`` naming
        an explicit monotone tie-break column (e.g. a write sequence
        number); it is consumed (dropped from the stored batch). Pinned
        by tests/test_property_dedup.py::test_dedup_coords_explicit_seq.

        ``assume_unique_coords=True`` skips the step — ONLY for input
        whose coordinates are unique by construction (a filter of
        ``read()``, which returns exactly one cell per coordinate).
        """
        return self._commit_snapshot(
            self._batch_with_lg(cells, seq_col, assume_unique_coords),
            kind="base",
            num_range_partitions=num_range_partitions,
        )

    def _batch_with_lg(
        self, cells: DataFrame, seq_col: str | None, assume_unique_coords: bool
    ) -> DataFrame:
        """The cell columns of a commit plus ``lg``: each cell's locality
        group by family, the ``_DEFAULT_LG`` sentinel for the default
        group and for families the manifest does not name. Unless
        ``assume_unique_coords``, the ``_SEQ`` order ``_layout`` resolves
        duplicate coordinates by: ``seq_col``, else batch position."""
        fam_lg = {f: g or _DEFAULT_LG for f, g in self.family_to_lg().items()}
        lg_expr = F.lit(_DEFAULT_LG)
        if fam_lg:
            mapping = F.create_map(
                *[x for f, g in fam_lg.items() for x in (F.lit(f), F.lit(g))]
            )
            lg_expr = F.coalesce(mapping[F.col("family")], F.lit(_DEFAULT_LG))
        seq = []
        if not assume_unique_coords:
            order = F.col(seq_col) if seq_col else F.monotonically_increasing_id()
            seq = [order.alias(_SEQ)]
        return cells.select(*CELL_COLUMNS, *seq).withColumn("lg", lg_expr)

    #: parquet layout tuning — the reference picks 64 KiB LSM blocks because
    #: "the workload is dominated by prefix & range searches"
    #: (smoltable/src/table/mod.rs:28-32) and zstd-class compression via
    #: fjall. Parquet's unit of skip is the page (min/max stats per page
    #: with column indexes) inside row groups; zstd + dictionary encoding
    #: compresses the prefix-clustered sorted keys the same way the
    #: reference's block compression does.
    WRITE_OPTIONS = {
        "compression": "zstd",
        "parquet.page.size": str(64 * 1024),
        "parquet.block.size": str(64 * 1024 * 1024),  # ≈ levelled target size
    }

    #: extra options for DELTA/MINOR legs only: a row_key bloom filter
    #: per row group (adaptive sizing, 64 KiB cap — measured ~2.7% file
    #: overhead at 200k keys, ~4 KiB on a 2k-key delta). The reference's
    #: LSM keeps a bloom per segment for point reads (fjall); here the
    #: sorted BASE leg doesn't need one (page min/max already prunes an
    #: equality probe to a single row group), but delta legs hold
    #: scattered rewrites whose min/max span defeats range skipping —
    #: the exact case a bloom exists for: get_row/multi_get probe every
    #: leg of the chain, and blooms let the absent legs drop out on
    #: footer metadata instead of a data-page read.
    DELTA_WRITE_OPTIONS = {
        "parquet.bloom.filter.enabled#row_key": "true",
        "parquet.bloom.filter.adaptive.enabled": "true",
        "parquet.bloom.filter.max.bytes": str(64 * 1024),
    }

    def _layout(
        self,
        df: DataFrame,
        kind: str,
        num_range_partitions: int | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Hook: final physical layout of a snapshot about to commit —
        returns (possibly transformed df, partition columns). Layout
        subclasses (e.g. Z-order bucketing in ``store_layout.py``)
        override ONLY this; the commit sequence itself (version dir,
        WRITE_OPTIONS, kind marker, pointer commit) stays here so it
        can never drift between layouts.

        The hook OWNS the base snapshot's arrangement shuffle, so a
        base write shuffles the table once: a layout that re-arranged
        after ``write()`` had range-partitioned would pay a second
        exchange of the whole table per write/compaction. The
        default base layout is range-partition by (lg, row_key) +
        key-sort; deltas and minor legs are written in the partitions
        they arrive in (O(batch) memtable flush), key-sorted.

        ``df`` may carry a ``_SEQ`` order (duplicate coordinates of one
        batch, or the legs of a fold): every layout resolves it with
        ``_newest_wins`` before the rows are written. The default layout
        does it after the range exchange, which clusters every copy of a
        cell key into one partition; a delta or minor leg pays the
        step's own exchange."""
        if kind == "base":
            if num_range_partitions is None:
                num_range_partitions = self._adaptive_base_partitions(df)
            df = df.repartitionByRange(
                num_range_partitions, F.col("lg"), F.col("row_key")
            )
        return _newest_wins(df).sortWithinPartitions(*cell_order()), ["lg"]

    def _leg_schema(self) -> T.StructType:
        """The schema every leg reads back with: the cell columns plus
        the columns ``_layout`` adds, at their on-disk types. Leg reads
        pass it so Spark runs no schema-inference job per leg."""
        return T.StructType(
            [T.StructField(f.name, f.dataType) for f in CELLS_SCHEMA.fields]
        ).add("lg", T.StringType())

    #: target bytes per base range partition — matches WRITE_OPTIONS'
    #: 64 MiB parquet block ("levelled target size"): one range
    #: partition ≈ one levelled segment
    _TARGET_BASE_PARTITION_BYTES = 64 * 1024 * 1024
    #: smallest file worth creating when splitting below the levelled
    #: target purely to use idle cores for the arrangement sort
    _MIN_BASE_FILE_BYTES = 8 * 1024 * 1024

    def _adaptive_base_partitions(self, df: DataFrame) -> int:
        """Scale-adaptive base-partition count (r13, guide §2: derive
        partitioning from input size, not from a constant tuned to the
        local core count). The old default — defaultParallelism — wrote
        32 near-empty files per locality group for a megabytes-sized
        snapshot on local[32] (small-files problem, guide §6) and would
        UNDER-partition a 100 TB table to the cluster's core count.

        Above the levelled target: ceil(size / 64 MiB) — a 100 TB
        compaction gets as many 64 MiB range partitions as its bytes
        demand. Below it, pure size-derived counts sacrifice the
        arrangement sort's parallelism (measured: the full orders melt
        fell to a near-single-task sortWithinPartitions, +0.8 s on
        wc_store_changes_since), so spread over idle cores instead —
        capped so no file drops under 8 MiB and a genuinely tiny
        snapshot still commits as ONE file per locality group."""
        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            est = int(plan.stats().sizeInBytes())
            # leaf-scan byte sum for the sanity clamp below (unknown
            # leaves — the 8 EiB Catalyst sentinel — contribute 0)
            leaf_sum = 0
            it = plan.collectLeaves().iterator()
            while it.hasNext():
                s = int(it.next().stats().sizeInBytes())
                if 0 < s < (1 << 50):
                    leaf_sum += s
        except Exception:
            est, leaf_sum = 0, 0
        return self._partitions_for_bytes(
            self._clamped_estimate(est, leaf_sum),
            self.spark.sparkContext.defaultParallelism,
        )

    #: ADVICE r13 (low): without CBO, join-/union-derived frames can
    #: carry sizeInBytes estimates that MULTIPLY child sizes — orders of
    #: magnitude above reality — and the <=0 / >=1 PiB guard alone would
    #: let a ~100 MB join result estimated at 500 GB repartitionByRange
    #: into thousands of near-empty files (the exact small-files problem
    #: the adaptive rule fixes for scans). Legitimate expansion over the
    #: leaf scans (parquet decompression ~3-10x, the orders melt's
    #: qualifier stack ~4x) stays well under this multiple; estimate
    #: blowups from non-selective join/union propagation are far above.
    _EST_MAX_LEAF_MULTIPLE = 64

    @classmethod
    def _clamped_estimate(cls, est: int, leaf_sum: int) -> int:
        """Distrust a plan-size estimate far above the bytes its leaf
        scans can actually produce (unit-testable pure rule)."""
        if (
            leaf_sum > 0
            and 0 < est < (1 << 50)
            and est > leaf_sum * cls._EST_MAX_LEAF_MULTIPLE
        ):
            return leaf_sum * cls._EST_MAX_LEAF_MULTIPLE
        return est

    @classmethod
    def _partitions_for_bytes(cls, est: int, cores: int) -> int:
        """Pure sizing rule behind :meth:`_adaptive_base_partitions`
        (split out so the boundary math is unit-testable)."""
        # "unknown" surfaces as <= 0 OR as a Long.MaxValue-ish sentinel
        # (Catalyst defaults missing stats to 8 EiB) — both fall back to
        # the old parallelism floor rather than a nonsense count
        if est <= 0 or est >= 1 << 50:
            return max(cores, 8)
        ideal = -(-est // cls._TARGET_BASE_PARTITION_BYTES)
        if ideal >= cores:
            return ideal
        return max(1, min(cores, -(-est // cls._MIN_BASE_FILE_BYTES)))

    def _commit_snapshot(
        self,
        df: DataFrame,
        kind: str,
        num_range_partitions: int | None = None,
        markers: dict[str, str] | None = None,
    ) -> int:
        """``markers``: extra marker files written into the version dir
        BEFORE the pointer commit — like ``_KIND``, they must be visible
        the instant the commit is (a crash in between must never leave a
        committed leg missing its metadata)."""
        df, part_cols = self._layout(df, kind, num_range_partitions)
        n = self.current_version() + 1
        # kind picks the dir name at commit time: minor legs get the
        # dot-prefixed stream-invisible form (see _MINOR_DIR)
        leg = self._MINOR_DIR.format(n=n) if kind == "minor" else f"v={n}"
        d = os.path.join(self.path, leg)
        w = df.write.mode("overwrite")
        opts = dict(self.WRITE_OPTIONS)
        if kind != "base":
            opts.update(self.DELTA_WRITE_OPTIONS)
        for k, v in opts.items():
            w = w.option(k, v)
        w.partitionBy(*part_cols).parquet(d)
        self._fs.write_text(os.path.join(d, self._KIND_FILE), kind)
        for name, content in (markers or {}).items():
            self._fs.write_text(os.path.join(d, name), content)
        # the marker files above are authoritative and already durable;
        # mirror them into the chain cache so the pointer's manifest
        # (written next) lets future opens skip re-reading them
        folds = None
        folds_json = (markers or {}).get(self._FOLDS_FILE)
        if folds_json is not None:
            fd = json.loads(folds_json)
            folds = (int(fd["from"]), int(fd["through"]))
        self._chain_cache[n] = (kind, folds)
        self._commit_version(n)  # pointer publish = the commit point
        self._leg_dirs[n] = leg
        return n

    def append(
        self,
        cells: DataFrame,
        seq_col: str | None = None,
        assume_unique_coords: bool = False,
    ) -> int:
        """Atomic batch append (S1 semantics: one commit, all-or-nothing —
        reference smoltable/src/table/writer.rs:56-79) as a **delta**
        snapshot: only the batch is written — O(batch) like a memtable
        flush, never a table rewrite. Run ``compact()`` periodically to
        fold deltas into a base (small-file + read-amp maintenance).
        ``seq_col``: see ``write``. ``assume_unique_coords=True`` skips
        the within-batch newest-wins step — ONLY for batches whose
        coordinates are unique by construction (e.g. one cell per source
        row, or a batch the driver already deduplicated); like
        ``write``'s flag, it removes a full shuffle of the batch that
        would find nothing to drop."""
        return self._commit_snapshot(
            self._batch_with_lg(cells, seq_col, assume_unique_coords), kind="delta"
        )

    def compact(self, num_range_partitions: int | None = None) -> int:
        """Fold the current base + deltas into one new base snapshot
        (``OPTIMIZE`` / levelled-compaction analog, reference
        mod.rs:156-165). No-op (returns current) when already compact."""
        n = self.current_version()
        if n == 0 or self._kind(n) == "base":
            return n
        # the chain's leg tags ride into the layout, which shadows inside
        # its range exchange: the fold shuffles the snapshot once
        chain = self._chain(n)
        tagged = _SEQ in chain.columns
        return self._commit_snapshot(
            self._batch_with_lg(chain, _SEQ if tagged else None, not tagged),
            kind="base",
            num_range_partitions=num_range_partitions,
        )

    def minor_compact(self) -> int:
        """Fold every delta leg since the last base into ONE **minor**
        leg — tiered (L0 → L1) compaction. ``compact()`` is a full
        O(table) base rewrite; at 100 TB you cannot afford one whenever
        a handful of small deltas has accumulated. A minor fold is
        O(changes): it reads ONLY the delta legs, keeps the newest leg's
        copy of every cell key (the one rule ``read()`` applies, resolved
        by ``_layout`` in the step's own exchange), and commits the
        result as a single leg that supersedes them in the chain
        (``_legs_of``). Read amplification drops from (#deltas + 1) legs
        to 2; the base is never touched. fjall — the reference's LSM
        engine — does exactly this for L0 segments before a levelled
        rewrite (SURVEY §4); Cassandra/RocksDB call it minor vs major
        compaction.

        Folds the TRAILING run of plain delta legs only — earlier minor
        legs are L1 segments that stack until ``minor_fanin`` of them
        justify a major rewrite (``jobs/workers.py::
        tiered_compaction_worker``); folding them again on every minor
        pass would re-pay their write cost each round.

        Returns the new version (or the current one when there is
        nothing to fold: 0/1 trailing delta legs). Time travel holds:
        the folded delta dirs stay on disk until ``vacuum`` proves no
        retained snapshot needs them. The leg records the
        ``(from, through)`` range it folded in a ``_FOLDS`` marker so
        ``read_changes`` can keep serving O(changes) feeds across it and
        ``_legs_of`` supersedes exactly that range."""
        n = self.current_version()
        if n == 0:
            return n
        run: list[int] = []
        for v in reversed(self._legs_of(n)):
            if self._kind(v) == "delta":
                run.append(v)
            else:
                break
        run.reverse()
        if len(run) < 2:
            return n
        # AQE sizes the step's exchange by bytes: a small fold writes a
        # few files, a large one ~64 MiB partitions
        return self._commit_snapshot(
            self._merge_legs(run).select(*CELL_COLUMNS, "lg", _SEQ),
            kind="minor",
            markers={
                self._FOLDS_FILE: json.dumps(
                    {"from": run[0], "through": run[-1]}
                )
            },
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Read a snapshot (default: current). Includes the ``lg`` column.

        A snapshot = latest base ≤ version, unioned with every leg after
        it, the newest leg's copy of each cell key winning (see
        ``_merge_legs``). Each leg is its own parquet relation, so
        predicate pushdown, row-group skipping, and lg partition pruning
        apply per leg.
        """
        cur = self.current_version()
        return self._read_listed(cur if version is None else version)

    def _read_listed(self, n: int) -> DataFrame:
        """``read(n)`` against the listing the caller's
        ``current_version()`` just took."""
        return _shadowed(self._chain(n))

    def _chain(self, n: int) -> DataFrame:
        """Snapshot ``n``'s legs as ``_merge_legs`` unions them, shadowing
        still unresolved."""
        if n == 0:
            raise FileNotFoundError(f"no snapshot in {self.path}")
        # lg keeps the physical sentinel value ('_default' for ''): decoding
        # here would wrap the partition column in a projection and defeat
        # Catalyst partition pruning on lg filters.
        if n not in self._leg_dirs:
            raise FileNotFoundError(f"version {n} vacuumed from {self.path}")
        legs = self._legs_of(n)
        # Every resolved leg is part of this snapshot's chain; vacuum()
        # never removes dirs a retained snapshot still reads, so a
        # missing leg means corruption (or an out-of-contract manual
        # delete) — fail loudly instead of silently returning partial
        # data.
        missing = [v for v in legs if v not in self._leg_dirs]
        if missing:
            raise FileNotFoundError(
                f"snapshot chain for v{n} in {self.path} is missing leg dirs "
                f"{missing} (legs={legs}); store is corrupt or was vacuumed "
                "out-of-contract"
            )
        return self._merge_legs(legs)

    def _merge_legs(self, legs: list[int]) -> DataFrame:
        """The legs as ONE union, each row tagged ``_SEQ`` with its leg's
        version number — the input of the one shadowing rule.

        LSM shadowing: a rewrite of the SAME cell key (lg, row, family,
        qualifier, ts) in a newer leg replaces the older value (the
        reference's LSM key row:cf:cq:!ts overwrites, cell.rs:168-182,
        and its MergeReader lets the newer segment win,
        merge_reader.rs:4-64). ``_newest_wins`` keeps the highest tag
        per key; the caller places it after the exchange it makes anyway
        (``_shadowed`` for reads, ``_layout`` for folds). A single leg
        holds one copy per key, so it is returned untagged and read as
        is."""
        reader = self.spark.read.schema(self._leg_schema())
        if len(legs) == 1:
            return reader.parquet(self._version_dir(legs[0]))
        dfs = [
            reader.parquet(self._version_dir(v)).withColumn(_SEQ, F.lit(v))
            for v in legs
        ]
        return functools.reduce(DataFrame.unionByName, dfs)

    def read_changes(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental (CDC-style) read: cells committed in snapshots
        ``(since_version, to_version]`` — the changed-data feed a 100 TB
        pipeline consumes instead of re-scanning the table. Reads ONLY the
        delta leg files of the range (O(changes), never O(table)); a
        coordinate rewritten twice within the range yields its newest
        value: the newest leg's copy of a cell key wins, the one rule
        ``read`` applies, resolved in the same row_key exchange.

        Raises if the range crosses a **base** rewrite (``write()`` /
        ``compact()``): a base leg physically rewrites every cell, so
        "what changed" is no longer derivable from the leg alone — resync
        from the base snapshot instead (the same contract as change-feed
        reads across full-rewrite commits in lakehouse CDF designs).
        """
        cur = self.current_version()
        to = cur if to_version is None else to_version
        if since_version > to:
            raise ValueError(f"since_version {since_version} > to_version {to}")
        legs = list(range(since_version + 1, to + 1))
        if not legs:
            return self._read_listed(to).limit(0)
        rewrites = [
            v
            for v in legs
            # a missing dir is NOT a base rewrite (``_kind`` falls back
            # to "base" for pre-delta layouts): let the minor-resolution
            # and missing-leg checks below name the real condition
            if v in self._leg_dirs and self._kind(v) == "base"
        ]
        if rewrites:
            raise ValueError(
                f"change range ({since_version}, {to}] crosses base "
                f"rewrite(s) {rewrites}; changes are not derivable across a "
                "full rewrite — read the base snapshot and resync"
            )
        # minor legs (tiered compaction) re-lay-out existing deltas, so
        # each resolves against the range rather than adding changes:
        #   folded-through <= since : pure re-layout of already-consumed
        #     changes — skip the leg;
        #   folded-from   >  since : the fold covers ONLY in-range deltas
        #     — read the minor INSTEAD of them (same bytes, fewer files);
        #   straddling             : prefer the original delta dirs when
        #     they still exist; resync only if vacuum removed them.
        effective: list[int] = []
        skip_below: int | None = None
        for v in sorted(legs, reverse=True):
            if skip_below is not None and v >= skip_below:
                continue
            k = self._kind(v)
            if k != "minor":
                effective.append(v)
                continue
            folds = self._folds_of(v)
            if folds is None:
                raise ValueError(
                    f"minor leg v{v} has no {self._FOLDS_FILE} marker; "
                    "store metadata is corrupt"
                )
            frm, through = folds
            if through <= since_version:
                continue  # already consumed, re-laid out — nothing new
            if frm > since_version:
                effective.append(v)
                skip_below = frm  # the fold covers these in-range deltas
                continue
            # straddles since: the original deltas are the only exact feed
            originals = range(since_version + 1, through + 1)
            if all(u in self._leg_dirs for u in originals):
                continue  # read the originals (they are in `legs` below v)
            raise ValueError(
                f"change range ({since_version}, {to}] crosses minor "
                f"compaction v{v} folding ({frm}..{through}) and the "
                "original delta legs were vacuumed; resync from the "
                "snapshot"
            )
        effective.sort()
        missing = [v for v in effective if v not in self._leg_dirs]
        if missing:
            raise FileNotFoundError(
                f"change range ({since_version}, {to}] is missing leg dirs "
                f"{missing}; vacuumed or corrupt"
            )
        if not effective:
            return self._read_listed(to).limit(0)
        return _shadowed(self._merge_legs(effective))

    def read_for_filter(self, column_filter=None, version: int | None = None) -> DataFrame:
        """Partition-pruned read: only the locality groups a column filter
        touches (S5 parity — get_affected_locality_groups,
        reference smoltable/src/table/row_reader.rs:6-69)."""
        from smoltable_spark.operators.filters import affected_locality_groups

        df = self.read(version)
        groups = affected_locality_groups(column_filter, self.family_to_lg())
        if groups is not None:
            phys = [g if g != "" else _DEFAULT_LG for g in groups]
            df = df.filter(F.col("lg").isin(phys))
        return df

    def read_or_none(self, version: int | None = None) -> DataFrame | None:
        try:
            return self.read(version)
        except FileNotFoundError:
            return None

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop version dirs not needed by the newest ``keep_last`` readable
        snapshots (FIFO retention, like the reference's metrics-table cap,
        server/src/metrics.rs:14-24). A snapshot's chain is its base plus
        subsequent deltas, so the cutoff is the base of the oldest retained
        snapshot — never a dir a retained snapshot still reads."""
        cur = self.current_version()
        if cur == 0:
            return
        oldest_kept = max(1, cur - keep_last + 1)
        # The needed set is the UNION of the retained snapshots' chains
        # (``_legs_of`` — the one resolver). This keeps the old contract
        # (a chain with no base reads every delta from v=1 — nothing may
        # be dropped) and additionally reclaims delta legs superseded by
        # a minor compaction once no retained snapshot resolves through
        # them.
        needed: set[int] = set()
        for v in range(oldest_kept, cur + 1):
            needed.update(self._legs_of(v))
        for name in self._listing:
            n = self._dirname_version(name)
            if n is not None and n <= cur and n not in needed:
                self._fs.rmtree(os.path.join(self.path, name))
                self._leg_dirs.pop(n, None)
        # pointer generations below the retention cutoff — never the
        # max, and a reader that listed before this sweep re-lists
        self._pointer.sweep(oldest_kept, self._listing)

    # -- stats (S8 parity) -------------------------------------------------

    def _chain_dirs(self) -> list[str]:
        n = self.current_version()
        return [
            self._version_dir(v) for v in self._legs_of(n) if v in self._leg_dirs
        ]

    def approximate_cell_count(self) -> int:
        """Cell count from parquet FOOTER metadata only — no Spark job, no
        data pages read (A3 parity: the reference sums LSM segment item
        counts, smoltable/src/table/mod.rs:299-306). Approximate in the
        same way the reference is: shadowed duplicate coordinates across a
        base+delta chain are counted once per occurrence, so the value is
        an upper bound until ``compact()`` folds the chain."""
        return sum(
            self._fs.parquet_num_rows(full)
            for d in self._chain_dirs()
            for name, full, _sz in self._fs.walk_files(d)
            if name.endswith(".parquet")
        )

    def disk_space_usage(self) -> int:
        """Bytes across the current snapshot's chain (reference mod.rs:906-922)."""
        return sum(
            sz
            for d in self._chain_dirs()
            for _name, _full, sz in self._fs.walk_files(d)
        )

    def file_count(self) -> int:
        """Parquet file count — analog of LSM segment_count (mod.rs:888-904).
        Grows with deltas; ``compact()`` resets it, like levelled compaction."""
        return sum(
            1
            for d in self._chain_dirs()
            for name, _full, _sz in self._fs.walk_files(d)
            if name.endswith(".parquet")
        )
