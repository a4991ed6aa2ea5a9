"""Z-ordered CellStore layout: 2-D partition pruning on the cell table.

VERDICT r6 ask #5. ``functions/layout.py`` proves the Morton primitive on
a dedicated events store; this wires it into the CellStore itself — the
reference-aligned payoff (SURVEY §4's ts_inv file-skipping note: the
reference keeps an inverted-timestamp component in its LSM key precisely
so "newest versions of a key range" reads skip blocks;
smoltable/src/cell.rs:168-182 builds ``row:cf:cq:!ts`` keys). A plain
CellStore base snapshot partitions by locality group only, so a
"key range AND time window" scan reads every file of the touched
groups however selective the time predicate is. ``ZorderCellStore``
additionally partitions base snapshots by the Morton interleave of two
caller-declared bucket expressions (key bucket × time bucket), so that
scan becomes a metadata-level ``zb IN (covering set)`` partition filter
— the Delta/Iceberg Z-ORDER shape, with the covering set closed-form
from the box bounds (``zorder_covering``), never data-dependent.

Everything else is inherited unchanged: manifest/versioning, delta
appends, compaction (which re-runs through the layout hook and so
re-z-orders), GC, vacuum. Deltas stay small and unpartitioned-by-zb is
fine for them (LSM: deltas are scanned fully anyway until compaction
folds them into the z-ordered base).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F, types as T

from smoltable_spark.functions.layout import morton2, zorder_covering
from smoltable_spark.schema import CELL_COLUMNS, cell_order
from smoltable_spark.session import materialize
from smoltable_spark.sources.store import CellStore, _newest_wins
from smoltable_spark.sources.store_fs import publish_text


class ZorderCellStore(CellStore):
    """CellStore whose BASE snapshots are additionally partitioned by
    ``zb`` = Morton(a_bucket, b_bucket).

    ``a_bucket`` / ``b_bucket`` are column-expression FACTORIES (called
    with no args, returning a Column over the cell columns) so the store
    can re-derive ``zb`` at every write/compaction; ``bits`` bounds each
    dimension to ``2^bits`` buckets (``4^bits`` partitions total).
    Bucket expressions must be deterministic functions of the cell
    columns — the same contract as a partition column anywhere else."""

    def __init__(self, spark, path: str, a_bucket, b_bucket, bits: int = 3):
        super().__init__(spark, path)
        self._a_bucket = a_bucket
        self._b_bucket = b_bucket
        self._bits = bits

    def _layout(
        self,
        df: DataFrame,
        kind: str,
        num_range_partitions: int | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Layout hook override (ADVICE r7: the commit sequence itself —
        version dir, atomic pointer — stays in the parent's
        ``_commit_snapshot``; only the physical arrangement lives here).
        The hook owns the base arrangement shuffle outright: it REPLACES
        the parent's (lg, row_key) range partitioning with ONE (lg, zb)
        exchange. A base commit that carries a newest-wins order (an
        unchecked batch, or the legs of a fold) resolves it in the
        step's own exchange first."""
        zb = morton2(
            self._a_bucket().cast("int"),
            self._b_bucket().cast("int"),
            bits=self._bits,
        )
        df = df.withColumn("zb", zb)
        if kind != "base":
            # deltas keep the parent layout (O(batch) memtable flushes,
            # partitioned by lg only) but CARRY zb as a data column:
            # read() unions legs by name, and box_scan's zb filter then
            # applies to delta rows via row-group stats instead of
            # partition pruning — compaction folds them into the
            # z-ordered base
            return super()._layout(df, kind)
        # the newest-wins step runs BEFORE the (lg, zb) exchange: zb may
        # be any function of the cell columns, so two copies of a cell
        # key can land in different buckets
        df = (
            _newest_wins(df)
            .repartition(F.col("lg"), F.col("zb"))
            .sortWithinPartitions(*cell_order())
        )
        return df, self._leg_partitions(kind)

    def _leg_partitions(self, kind: str) -> list[str]:
        # base legs nest zb= under lg=, so a chain reads them as a
        # relation of their own, apart from the lg-only deltas
        return ["lg", "zb"] if kind == "base" else ["lg"]

    def _leg_schema(self) -> T.StructType:
        # zb: a partition column of base legs, a data column of the rest
        return super()._leg_schema().add("zb", T.IntegerType())

    def box_scan(
        self, a_values: list[int], b_values: list[int],
        version: int | None = None,
    ) -> DataFrame:
        """Read only the partitions whose Morton cell intersects the 2-D
        box ``a_values × b_values``: the covering set is computed
        driver-side by pure arithmetic and pushed down as a ``zb IN``
        literal — plain Catalyst partition pruning, no files opened
        outside the box. Residual exact predicates remain the CALLER's
        job (the covering set is exact because morton2 is a bijection,
        but correctness should not have to trust the covering math)."""
        covering = zorder_covering(a_values, b_values, bits=self._bits)
        return self.read(version).filter(F.col("zb").isin(covering))


# ---------------------------------------------------------------------------
# range-bucketed variant: monotone key buckets from a boundaries sidecar


#: 6 big-endian bytes < 2^48: exactly representable as a DOUBLE (< 2^53),
#: which ``percentile_approx`` uses internally — a 7-byte image silently
#: rounded in the quantile sketch and came back off-by-±1, flipping the
#: >=-boundary tie behavior the covering-set math depends on.
_KEY_IMAGE_BYTES = 6


def _key_image_col(col) -> "F.Column":
    """Monotone numeric image of a row key: its first 6 UTF-8 **bytes**
    packed big-endian into a long — the SAME byte image ``_key_image_py``
    computes, so write-side buckets and scan-side buckets can never
    diverge (ADVICE r7 medium: the previous ``F.ascii`` form read Unicode
    CODEPOINTS, which exceed 255 for non-ASCII keys and break base-256
    monotonicity, letting ``key_range_scan`` prune partitions that held
    in-range rows). ``hex(encode(key,'UTF-8'))`` yields two hex digits
    per byte; taking the first 12, right-padding with '0' (= trailing
    NUL bytes) and ``conv(16→10)`` is exactly
    ``int.from_bytes(key.encode()[:6].ljust(6, b'\\0'), 'big')``.
    Pure JVM expressions — the image is computed inside the scan/write
    stage, never in Python."""
    h = F.rpad(
        F.substring(F.hex(F.encode(col, "UTF-8")), 1, 2 * _KEY_IMAGE_BYTES),
        2 * _KEY_IMAGE_BYTES,
        "0",
    )
    return F.conv(h, 16, 10).cast("long")


def _key_image_py(key: str) -> int:
    b = key.encode("utf-8")[:_KEY_IMAGE_BYTES]
    return int.from_bytes(b.ljust(_KEY_IMAGE_BYTES, b"\0"), "big")


#: version of the key-image formula above. Bump on ANY change to
#: ``_key_image_col``/``_key_image_py``: a store's sidecar boundaries
#: AND its on-disk zb partition assignments were computed under the
#: image current at write time, so reading them with a different image
#: makes ``key_range_scan``'s covering prune partitions that hold
#: in-range rows — silently. v1 = the original 7-byte codepoint image
#: (stores written before the marker existed); v2 = 6-byte UTF-8 image.
_KEY_IMAGE_VERSION = 2


class RangeZorderCellStore(ZorderCellStore):
    """ZorderCellStore whose KEY dimension buckets by RANGE, not residue:
    bucket = #(boundaries <= key image), with the 2^bits − 1 boundaries
    estimated by ``percentile_approx`` over the key image —
    partition-parallel, no global sort — and persisted in an
    underscore-prefixed VERSIONED sidecar next to the manifest
    (``_layout_boundaries/v=<n>`` applies to snapshots >= n).

    Boundary lifecycle (VERDICT r7 ask #1 — drift-adaptive re-bucketing):
    the first batch establishes boundaries; every ``compact()``
    RECOMPUTES them from the full compacted snapshot and writes a new
    sidecar version keyed by the compacted snapshot's number — the
    reference's compaction-owns-layout stance
    (smoltable/src/table/mod.rs:156-165). Old snapshot versions keep
    reading with the boundaries they were written under (time travel
    never breaks), because reads resolve the newest sidecar <= the read
    version. Under key-distribution drift the read amplification of
    ``key_range_scan`` therefore resets to the fresh distribution at
    each compaction instead of decaying toward a full scan. A sidecar
    above the pointer belongs to a commit in flight or one that failed
    (an aborted ``compact()``): like a leg dir above the pointer, the
    next commit of that version removes it (``_layout``) unless this
    handle wrote it for that very commit (``_pending_base``), so a
    failed compact's set never buckets a later commit.

    The design invariant that keeps this scale-safe: CORRECTNESS NEVER
    DEPENDS ON THE BOUNDARIES. ``key_range_scan`` computes its covering
    set from the same stored boundaries the writer used, so the covering
    is a superset of the range by monotonicity, and the residual
    ``lo <= row_key < hi`` predicate (always applied) makes the result
    exact whatever the boundary quality — skewed or stale boundaries
    cost read amplification, never wrong answers. That is exactly
    Delta/Iceberg's Z-ORDER contract (layout is advisory; predicates
    decide)."""

    def __init__(self, spark, path: str, b_bucket, bits: int = 3):
        super().__init__(
            spark, path, a_bucket=self._key_bucket, b_bucket=b_bucket,
            bits=bits,
        )
        self._boundaries_cache: dict[int, list[int]] = {}
        #: version of the commit in flight whose sidecar this handle
        #: wrote for it (the founding set, or a compact's fresh set):
        #: ``_layout`` keeps that one sidecar above the pointer
        self._pending_base: int | None = None

    # -- boundaries sidecar ------------------------------------------------

    @property
    def _boundaries_root(self) -> str:
        return os.path.join(self.path, "_layout_boundaries")

    def boundary_versions(self) -> list[int]:
        """Snapshot versions at which a boundary set takes effect (one
        listing of the sidecar root; [] when it does not exist)."""
        return sorted(
            int(name[2:])
            for name in self._fs.listdir(self._boundaries_root)
            if name.startswith("v=")
        )

    def _boundaries_dir(self, bv: int) -> str:
        return os.path.join(self._boundaries_root, f"v={bv}")

    def boundaries_for(self, version: int) -> list[int]:
        """Boundary set in effect for snapshot ``version``: the newest
        sidecar version <= it. A snapshot is written with the boundaries
        current at its own commit; the write path asks for the version
        in flight, so it resolves that commit's own new sidecar, while a
        read of an older version never sees it."""
        self._check_image_version()
        eligible = [v for v in self.boundary_versions() if v <= version]
        if not eligible:
            raise FileNotFoundError(
                f"no layout boundaries <= v{version} in {self._boundaries_root}"
            )
        bv = max(eligible)
        if bv not in self._boundaries_cache:
            rows = self.spark.read.parquet(self._boundaries_dir(bv)).collect()
            self._boundaries_cache[bv] = sorted(r["boundary"] for r in rows)
        return self._boundaries_cache[bv]

    def _compute_boundaries(self, cells: DataFrame) -> list[int]:
        n = (1 << self._bits) - 1
        qs = [(i + 1) / (1 << self._bits) for i in range(n)]
        img = _key_image_col(F.col("row_key"))
        bounds = (
            cells.select(img.alias("img"))
            .agg(F.percentile_approx("img", qs, 10_000).alias("bs"))
            .collect()[0]["bs"]
        )
        return [int(b) for b in (bounds or [])]

    def _image_version_path(self) -> str:
        return os.path.join(self._boundaries_root, "_IMAGE_VERSION")

    def _check_image_version(self) -> None:
        """Refuse to serve a store laid out under a DIFFERENT key-image
        formula (round-8 review finding): its sidecar boundaries and its
        on-disk zb assignments were both computed with the image current
        at write time, so mixing in this code's image silently breaks
        the write-side/scan-side bucket agreement the covering-set
        correctness argument rests on — ``key_range_scan`` would prune
        partitions holding in-range rows. A store with a sidecar but no
        marker predates the marker (= image v1). Fail loudly; full
        ``read()`` scans of the old store remain safe for a rebuild."""
        p = self._image_version_path()
        have = 1
        marker_exists = self._fs.exists(p)
        if marker_exists:
            have = int(self._fs.read_text(p).strip() or 1)
        elif not self._fs.listdir(self._boundaries_root):
            return  # no sidecar yet: nothing was laid out under any image
        if have != _KEY_IMAGE_VERSION:
            detail = (
                f"declares key-image v{have}" if marker_exists else
                "predates the image-version marker (image v1, or an "
                "unmarked early v2 build — bucket agreement cannot be "
                "verified either way)"
            )
            raise ValueError(
                f"store at {self.path} {detail}; this code computes "
                f"v{_KEY_IMAGE_VERSION} — key_range_scan pruning would "
                "silently drop rows if the images differ. Rebuild the "
                "store (full read() into a fresh RangeZorderCellStore) "
                "or pin the library version that wrote it."
            )

    def _write_boundaries(self, cells: DataFrame, at_version: int) -> None:
        self._check_image_version()
        bounds = self._compute_boundaries(cells)
        self._fs.makedirs(self._boundaries_root)
        publish_text(
            self._fs, self._image_version_path(), str(_KEY_IMAGE_VERSION)
        )
        d = self._boundaries_dir(at_version)
        # driver-side pyarrow write: the sidecar is <= 2^bits - 1 rows of
        # metadata — launching a Spark job for it (the previous
        # createDataFrame().coalesce(1).write) serialized through the
        # Python-RDD fallback and cost ~3 s of fixed overhead per commit.
        # spark.read.parquet reads the file identically.
        self._fs.makedirs(d)
        for old in self._fs.listdir(d):
            if old.endswith(".parquet"):
                self._fs.remove(os.path.join(d, old))
        self._fs.put_parquet_int64(
            os.path.join(d, "part-00000.parquet"), "boundary", bounds
        )
        # a crash after this write but before the snapshot commit leaves a
        # sidecar above the pointer: reads resolve <= their version, and
        # the next commit removes it or, a retried compact, overwrites it
        self._boundaries_cache.pop(at_version, None)

    def _ensure_boundaries(self, cells: DataFrame) -> None:
        """Write the founding set, for the store's first commit."""
        if self.boundary_versions():
            return
        self._pending_base = self.current_version() + 1
        self._write_boundaries(cells, at_version=self._pending_base)

    def _layout(
        self,
        df: DataFrame,
        kind: str,
        num_range_partitions: int | None = None,
    ) -> tuple[DataFrame, list[str]]:
        # every commit comes through here, minor folds included: clear
        # the sidecars above the pointer before the buckets resolve,
        # except the one this commit wrote for itself
        cur = self.current_version()
        for bv in self.boundary_versions():
            if bv > cur and bv != self._pending_base:
                self._fs.rmtree(self._boundaries_dir(bv))
                self._boundaries_cache.pop(bv, None)
        return super()._layout(df, kind, num_range_partitions)

    def _key_bucket(self):
        # write side: the commit in flight becomes current_version()+1,
        # so it uses the boundaries in effect AT that version — after a
        # compact() this is the freshly recomputed set
        bounds = self.boundaries_for(self.current_version() + 1)
        img = _key_image_col(F.col("row_key"))
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + (img >= F.lit(b)).cast("int")
        return bucket

    def write(self, cells: DataFrame, num_range_partitions=None,
              seq_col=None, assume_unique_coords=False) -> int:
        try:
            self._ensure_boundaries(cells)
            return super().write(
                cells, num_range_partitions, seq_col,
                assume_unique_coords=assume_unique_coords,
            )
        finally:
            self._pending_base = None

    def append(self, cells: DataFrame, seq_col=None) -> int:
        try:
            self._ensure_boundaries(cells)
            return super().append(cells, seq_col)
        finally:
            self._pending_base = None

    def compact(self, num_range_partitions=None) -> int:
        """Fold base+deltas into a new base AND recompute the key-range
        boundaries from the full folded snapshot (drift-adaptive
        re-bucketing): ingest whose key distribution drifted away from
        the first batch's estimate gets a fresh, representative bucket
        split, so post-compact ``key_range_scan`` read amplification
        reflects the data as it is now, not as it first arrived. The new
        boundary set is versioned at the compacted snapshot's number;
        pre-compact snapshots still resolve their own boundaries (time
        travel reads stay exactly as written)."""
        n = self.current_version()
        if n == 0 or self._kind(n) == "base":
            return n
        # the folded snapshot feeds the boundary percentile and the
        # bucketed rewrite: the LSM fold (every leg + the shadowing
        # window's shuffle) runs once
        cells = materialize(self.read().select(*CELL_COLUMNS), "corpus")
        self._write_boundaries(cells, at_version=n + 1)
        self._pending_base = n + 1  # write() clears it when its commit ends
        # fold input comes from read() → coordinate-unique by contract
        return self.write(cells, num_range_partitions, assume_unique_coords=True)

    # -- range reads ---------------------------------------------------------

    def _bucket_of(self, key: str, version: int | None = None) -> int:
        v = self.current_version() if version is None else version
        img = _key_image_py(key)
        return sum(1 for b in self.boundaries_for(v) if img >= b)

    def key_range_scan(
        self, lo: str, hi: str, b_values: list[int],
        version: int | None = None,
    ) -> DataFrame:
        """Cells with ``lo <= row_key < hi`` whose time bucket is in
        ``b_values``, reading only the zb partitions the range can touch:
        key buckets [bucket(lo) .. bucket(hi)] × b_values (closed-form,
        driver-side, metadata pruning) — then the exact residual range
        predicate. The time-dimension residual stays the caller's job,
        symmetrical with box_scan. ``version`` time-travels, resolving
        the boundary set that snapshot was written under."""
        v = self.current_version() if version is None else version
        lo_b, hi_b = self._bucket_of(lo, v), self._bucket_of(hi, v)
        a_values = list(range(lo_b, hi_b + 1))
        return self.box_scan(a_values, b_values, version=v).filter(
            (F.col("row_key") >= lo) & (F.col("row_key") < hi)
        )
