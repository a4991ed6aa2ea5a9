"""Background workers — periodic batch jobs (SURVEY §2.9).

The reference runs three loops (server/src/worker/): GC every 24 h,
an adaptive row-count sampler (30 s → 6 h), and a 60 s system-metrics
poller. They are *batch* jobs, not streams — here each is a plain
function a scheduler (cron/Airflow/`foreachBatch`) can invoke; cadence
is the caller's concern.
"""

from __future__ import annotations

import time

from smoltable_spark.jobs.metrics import MetricsTable
from smoltable_spark.operators.count import count_exact
from smoltable_spark.operators.gc import run_gc
from smoltable_spark.sources.store import CellStore


def gc_worker(store: CellStore, metrics: MetricsTable | None = None, now_nanos: int | None = None) -> int:
    """Run version+TTL GC, commit the rewritten snapshot, log gc#del_cnt
    (reference server/src/worker/gc.rs:6-41)."""
    families = store.load_families()
    if not any(f.version_limit or f.ttl_secs for f in families):
        return 0  # GC short-circuit (mod.rs:466-473)
    now = time.time_ns() if now_nanos is None else now_nanos
    before_df = store.read()
    before = before_df.count()
    gced = run_gc(before_df.drop("lg"), families, now_nanos=now)
    # read() returns one cell per coordinate and GC only filters rows,
    # so the write skips the newest-wins step; read()'s row_key exchange
    # also serves the version-GC window, so the rewrite shuffles twice
    # (that exchange and the layout's range exchange)
    store.write(gced, assume_unique_coords=True)
    # the rewrite is now the chain's only leg, so parquet footer counts
    # are exact: the after-count is driver-side metadata, not a job
    after = store.approximate_cell_count()
    deleted = before - after
    if metrics is not None:
        metrics.record([("gc#del_cnt", float(deleted))], ts_nanos=now)
    return deleted


def compaction_worker(
    store: CellStore,
    metrics: MetricsTable | None = None,
    max_deltas: int = 8,
    now_nanos: int | None = None,
) -> int | None:
    """Fold delta snapshots into a base once the chain exceeds
    ``max_deltas`` — the levelled-compaction trigger (the reference
    compacts at L0 threshold 8, smoltable/src/table/mod.rs:156-165; here
    a delta chain is the L0 analog and read amplification is its cost).
    Returns the new base version, or None when below threshold."""
    n = store.current_version()
    if n == 0:
        return None
    base = store._base_of(n)
    # resolved pending legs, not raw version span: legs a minor fold
    # already superseded don't add read amplification and must not
    # re-trigger compaction
    deltas = len([v for v in store._legs_of(n) if v > base or base == 0])
    if deltas < max_deltas:
        return None
    v = store.compact()
    if metrics is not None:
        metrics.record([("compact#delta_cnt", float(deltas))], ts_nanos=now_nanos)
    return v


def tiered_compaction_worker(
    store: CellStore,
    metrics: MetricsTable | None = None,
    l0_threshold: int = 8,
    minor_fanin: int = 4,
    now_nanos: int | None = None,
) -> tuple[str, int] | None:
    """Tiered (minor/major) compaction policy — the 100 TB shape of
    ``compaction_worker``. The plain worker answers every L0 overflow
    with ``compact()``, a full O(table) base rewrite; at scale that
    means rewriting 100 TB because eight 1 GB deltas accumulated.

    Policy (the RocksDB/fjall tiering): when the pending-leg count since
    the last base reaches ``l0_threshold``, fold the deltas into ONE
    minor leg (O(changes), base untouched); only once ``minor_fanin``
    minor legs have themselves piled up does a major ``compact()``
    rewrite the base. Write amplification per cell ≈
    1 (delta) + 1 (minor) + 1/fanin-th of a base rewrite, instead of a
    base rewrite per L0 overflow; read amplification stays ≤
    2 + l0_threshold legs.

    Returns ``("minor"|"major", new_version)`` or None below threshold.
    """
    n = store.current_version()
    if n == 0:
        return None
    base = store._base_of(n)
    legs = store._legs_of(n)
    pending = [v for v in legs if v > base or base == 0]
    if len(pending) < l0_threshold:
        return None
    minors = [v for v in pending if store._kind(v) == "minor"]
    if len(minors) >= minor_fanin:
        v = store.compact()
        kind = "major"
    else:
        v = store.minor_compact()
        kind = "minor"
        if v == n:
            # ADVICE r9: minor_compact() no-ops when the trailing plain-
            # delta run is < 2 (stacked minors + one delta — reachable
            # when l0_threshold <= minor_fanin). Recording a fold metric
            # and reporting success here would re-trigger every cycle
            # with zero progress; escalate to the major rewrite instead,
            # which is the only move that actually shrinks the chain.
            v = store.compact()
            kind = "major"
    if metrics is not None:
        metrics.record(
            [(f"compact#{kind}_fold_cnt", float(len(pending)))],
            ts_nanos=now_nanos,
        )
    return (kind, v)


def row_count_worker(store: CellStore, metrics: MetricsTable, now_nanos: int | None = None) -> dict:
    """Exact row/cell counts → stats#row_cnt / stats#cell_cnt
    (reference server/src/worker/row_count.rs:6-48; we can afford the
    exact count — it is one distributed aggregate, not an LSM scan)."""
    r = count_exact(store.read()).collect()[0]
    metrics.record(
        [("stats#row_cnt", float(r["row_count"])), ("stats#cell_cnt", float(r["cell_count"]))],
        ts_nanos=now_nanos,
    )
    return {"row_count": r["row_count"], "cell_count": r["cell_count"]}


def system_metrics_worker(store: CellStore, metrics: MetricsTable, now_nanos: int | None = None) -> dict:
    """Disk usage + file count per table → stats#du / stats#seg_cnt
    (reference server/src/worker/metrics.rs:8-54; parquet files stand in
    for LSM segments)."""
    du = store.disk_space_usage()
    seg = store.file_count()
    metrics.record(
        [("stats#du", float(du)), ("stats#seg_cnt", float(seg))], ts_nanos=now_nanos
    )
    return {"disk_bytes": du, "file_count": seg}
