"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "total_headline_sec", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...}

Run: python bench.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Methodology: one shared session (AQE on); each query is materialized
three times (count of the result — forces every operator but keeps
driver-side collection out of the measurement); the MINIMUM of the two
post-warmup runs is reported (JMH-style steady state, robust to GC /
scheduler noise). The first run absorbs one-time per-query-shape
costs — whole-stage-codegen compilation and scheduler warm-up — which are
fixed ~0.5–3 s overheads independent of data size: at sf0.1 they dominate
and add ±30% run-to-run noise, while at the 100 TB design point they are
irrelevant. Cold (first-run) times are printed to stderr and included in
the JSON under "cold_queries" for transparency. Session-level warmup
(JVM, parquet footers, Arrow/Python worker pool, broadcast machinery)
runs once up front.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: one per operator class — scan, filter, version-window,
#: count, agg, join chain, rollup, window-rank, dedup (LSH), ANN, text,
#: multimodal
HEADLINE = [
    "wc_scan_all",
    "wc_scan_prefix",
    "wc_filter_key",
    "wc_scan_version_limit",
    "wc_count",
    "rel_tpch_q1",
    "rel_tpch_q3",
    "rel_tpch_q5",
    "rel_tpch_q6",
    "rel_tpch_q12",
    "rel_events_hourly",
    "rel_top_users_by_spend",
    "rel_asof_join",
    "rel_range_join",
    "rel_sessionize",
    "txt_analyze",
    "txt_bpe_quality",
    "dedup_exact",
    "dedup_minhash",
    "dedup_chunks",
    "txt_hashed_embedding",
    "pipeline_clean_corpus",
    "ann_cosine_topk",
    "ann_cosine_ivf",
    "ann_cosine_ivf_kmeans",
    "ann_cosine_multiprobe",
    "pipeline_decontaminate",
    "mm_features",
    # r3 additions (VERDICT r2 ask #4): the heavy operators the old
    # headline omitted — banded SimHash pair-gen, within-cell Jaccard
    # verify, cluster propagation, stateful streaming, pipeline shaping
    "dedup_simhash_pairs",
    "dedup_jaccard_blocked",
    "dedup_clusters",
    "stream_sessionize",
    "pipeline_split",
    "pipeline_pack",
    # r3 mid-round additions: quality rules, ranked retrieval,
    # stream-stream join
    "txt_gopher_quality",
    "txt_bm25",
    "stream_click_attribution",
    # r3b additions: timeseries densification / cohorts / moving frames /
    # anomaly scoring / MG heavy hitters / incremental dedup / embedding
    # standardization / streaming top-k
    "rel_gap_fill",
    "rel_retention_cohort",
    "rel_moving_window",
    "rel_anomaly_zscore",
    "txt_heavy_hitters",
    "pipeline_incremental_dedup",
    "emb_standardize",
    "stream_windowed_topk",
    "pipeline_source_caps",
    "txt_keywords",
    "rel_transition_matrix",
    "rel_pagerank",
    "emb_pca_power",
    "pipeline_quality_gate",
    "rel_approx_distinct_users",
    "txt_cm_frequency",
    "rel_events_cube",
    "txt_collocations",
    "emb_quantize_int8",
    # r4 additions: exact CC (large-star/small-star to convergence) and
    # DSIR importance resampling
    "dedup_clusters_cc",
    "pipeline_dsir_sample",
    # r4b additions: repetition battery, CCNet buckets, leakage-safe
    # split, exact quantiles, OOV, JL projection, line scrub, epoch shuffle
    "txt_repetition_signals",
    "pipeline_ccnet_buckets",
    "pipeline_cluster_split",
    "pipeline_length_quantiles",
    "txt_oov_rate",
    "emb_random_projection",
    "pipeline_dedup_lines",
    "pipeline_shuffle_shards",
    "pipeline_scrub_spans",
    # r4c additions: PQ compressed-domain ANN + the TPC-H breadth batch
    "emb_pq_codes",
    "ann_pq_adc",
    "rel_tpch_q4",
    "rel_tpch_q14",
    "rel_tpch_q18",
    "rel_tpch_q19",
    # r4d additions: IVF-PQ serving, skew rewrites, semantic decontam,
    # BPE encode (train is covered by SCALE.md — round-dominated cost),
    # second TPC-H batch
    "ann_ivfpq_persisted",
    "rel_skew_join_salted",
    "rel_two_phase_agg",
    "pipeline_semantic_decontaminate",
    "txt_bpe_encode",
    "rel_tpch_q7",
    "rel_tpch_q9",
    "rel_tpch_q10",
    "rel_tpch_q17",
    "rel_tpch_q22",
    "rel_tpch_q15",
    "rel_tpch_q16",
    "rel_bucketed_join",
    # r4e additions: the final TPC-H batch — the suite is complete (22/22)
    # — plus RRF hybrid retrieval (BM25 ⊕ cosine)
    "rel_tpch_q2",
    "rel_tpch_q8",
    "rel_tpch_q11",
    "rel_tpch_q13",
    "rel_tpch_q20",
    "rel_tpch_q21",
    "txt_hybrid_rrf",
    "ann_filtered_topk",
    "ann_mmr_rerank",
    "ann_adc_refined",
    # r4c additions: OHLC bars, weight-scatter EWMA, interval sweep,
    # TF-IDF retrieval, radius search, curriculum staging
    "rel_ohlc_bars",
    "rel_ewma_hourly",
    "rel_concurrency_peak",
    "txt_tfidf_topk",
    "ann_range_search",
    "pipeline_curriculum",
    # r4d additions: graph motifs, temperature mixing, embedding
    # diagnostics, streaming OHLC, decoded luma histograms
    "rel_triangle_count",
    "pipeline_temperature_mix",
    "emb_cosine_hist",
    "stream_ohlc_bars",
    "mm_luma_histogram",
    # r4e additions: RFM segmentation, basket rules, label-noise margins
    "rel_rfm_segments",
    "rel_market_basket",
    "emb_label_margin",
    # r4f additions: token entropy, artifact-scored streaming,
    # day-partitioned pruned time-range scan
    "txt_token_entropy",
    "stream_anomaly_scores",
    "rel_events_day_prune",
    "rel_events_json_extract",
    "rel_event_path_mining",
    "rel_incremental_rollup",
    "emb_outlier_topk",
    "pipeline_quality_classifier",
    "pipeline_classifier_gate",
    # r4g additions: containment dedup, chi-square drift monitor,
    # Zipf power-law fit, referential-integrity audit
    "dedup_containment",
    "rel_chisq_drift",
    "txt_zipf_fit",
    "pipeline_integrity_audit",
    "txt_proximity_search",
    "rel_twap",
    "rel_hll_merge",
    "rel_bloom_join_filter",
    "rel_kcore",
    "rel_range_boundaries",
    "rel_rolling_active",
    "rel_fuzzy_match",
    "txt_inverted_index_persisted",
    "rel_cusum_changepoint",
    "emb_centroid_drift",
    "txt_kwic",
    "rel_wow_change",
    "wc_merge_upsert",
    "pipeline_dup_source_matrix",
    "rel_percentile_rank",
    "rel_mad_outliers",
    "wc_scd2_intervals",
    "stream_ingest_to_store",
    "rel_max_drawdown",
    "rel_join_size_estimate",
    "txt_bpe_fertility",
    "rel_grouping_sets",
    "pipeline_dataset_card",
    "pipeline_interleave_datasets",
    "pipeline_pit_features",
    "rel_entity_clusters",
    "rel_new_vs_returning",
    "txt_gopher_rule_rates",
    "ann_recall_probe",
    "stream_restart_resume",
    "pipeline_token_caps",
    "pipeline_badwords_filter",
]

def bench_query_names(registry: dict) -> list[str]:
    """Full bench order: the curated HEADLINE sequence first (stable
    round-over-round comparison keys), then every remaining registry
    query in sorted order. VERDICT r4 ask #3: the regression gate must
    cover the WHOLE registry — a registry query with no bench row sits
    outside the gate, so coverage is complete by construction and a new
    `queries()` entry is auto-benched on the next run."""
    curated = [n for n in HEADLINE if n in registry]
    rest = sorted(n for n in registry if n not in set(HEADLINE))
    return curated + rest


REGRESSION_FACTOR = 1.5

#: queries re-measured solo (min of 3) after every sweep and recorded
#: under "watch_isolated", flagged or not; each value says why
WATCHLIST = {
    "pipeline_temperature_mix": "r6 flag on code unchanged since r4",
    "emb_cosine_hist": "r6 flag on code unchanged since r4",
    "txt_collocations": "r7 largest unexplained mover; r8 solo: noise",
    "rel_grouping_sets": "r8 flag on the one-pass groupingSets plan",
    "txt_cm_frequency": "r9 flag on a bounded-shuffle plan; r9 solo: noise",
    "wc_scan_multi_range": "r11 flag, plan unchanged; r12 A/B: noise",
    "pipeline_classifier_gate": "r12 flag, module unchanged; solo: noise",
    "txt_inverted_index_persisted": "r12 flag, module unchanged; solo: noise",
    "wc_approx_cell_count": "r12 flag on a footer-only read; r13 solo: noise",
    "wc_plan_probe": "standing control for r13's uniform session drift",
    "mm_color_fractional": "r13 flag, module unchanged; solo: session drift",
}

#: Size of the isolated re-measure band (VERDICT r12 ask #4): after the
#: sweep, the this-many slowest warm queries are re-measured SOLO
#: (min-of-3, the same _isolated_min protocol) and their sum recorded.
#: On a VM with ±20% between-session drift, the in-sweep total is the
#: noisier number (sweep interference inflates individual rows up to
#: 2.5×, see SCALE.md r11); the isolated band sum is the drift-robust
#: ground the round-over-round target is evaluated against.
ISO_BAND = 15

#: confirmed regressions the gate records as ACCEPTED instead of
#: red-flagging: name -> (landed_round, reason); an entry applies only
#: while the baseline round predates landed_round
ACCEPTED_PLAN_CHANGES: dict[str, tuple[int, str]] = {
    "rel_triangle_count": (13, "10x-OOM variant reverted; baseline row "
                               "measured the reverted plan"),
}


def _accepted_reason(name: str, prev_round: int | None) -> str | None:
    """Reason string if ``name`` has an accepted-plan entry still in
    scope for a baseline from ``prev_round`` (None = unknown round,
    treated as in scope so a fresh-local baseline doesn't unexpire)."""
    entry = ACCEPTED_PLAN_CHANGES.get(name)
    if entry is None:
        return None
    landed, reason = entry
    if prev_round is not None and prev_round >= landed:
        return None  # baseline already includes the accepted plan
    return reason

#: queries whose cost is dominated by fixed micro-batch harness overhead
#: (availableNow replay + memory sink) that the warm metric hides — their
#: drift gate runs on COLD times (VERDICT r3 ask #10)
COLD_GATED = ["stream_sessionize", "stream_click_attribution", "stream_windowed_topk"]


def _latest_round() -> tuple[int, str] | None:
    """(N, path) of the latest driver-recorded BENCH_r{N}.json."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    return max(rounds) if rounds else None


def _load_prev(sf: float | None = None) -> tuple[dict | None, str | None]:
    """Previous-round per-query timings for the regression gate.

    Primary source: the latest driver BENCH_r{N}.json. The driver wraps
    the bench stdout line as {n, rc, cpus, sf, tail, parsed} and its tail
    capture can truncate, leaving ``"parsed": null`` (this crashed the r3
    judge's run end-of-bench) — so anything that is not a dict with a
    "queries" map falls through to BENCH_LOCAL.json, the full record this
    script commits on every run precisely so the baseline survives
    driver-side truncation.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    latest = _latest_round()
    candidates = []
    if latest:
        candidates.append((latest[1], f"BENCH_r{latest[0]:02d}.json"))
    candidates.append((os.path.join(here, "BENCH_LOCAL.json"), "BENCH_LOCAL.json"))
    for path, label in candidates:
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(prev, dict) and "parsed" in prev:
            prev = prev["parsed"]
        if isinstance(prev, dict) and prev.get("partial"):
            # compact tail-summary record (top-N slowest only) — adopting
            # it as a baseline would shrink the gate to those N queries
            continue
        if isinstance(prev, dict) and isinstance(prev.get("queries"), dict):
            # the sf filter must be INSIDE the loop: a parseable driver
            # record at a different scale factor must not shadow a
            # same-sf BENCH_LOCAL.json baseline (that silently disables
            # the regression gate)
            if sf is not None and prev.get("sf") != sf:
                continue
            return prev, label
    return None, None


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from smoltable_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("smoltable_spark_bench", cpus=cpus, shuffle_partitions=cpus)
    qs = entrymod.queries()

    # warmup: absorb one-time infrastructure startup so per-query timings
    # measure execution — JVM + codegen, parquet footer/metadata reads for
    # each input table, and the Arrow/Python worker pool (mapInPandas
    # spawns pyspark.daemon workers on first use, ~2 s once per session)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from smoltable_spark.sources.relational import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    spark.range(32).mapInPandas(lambda it: it, "id long").count()
    from pyspark.sql import functions as _F

    small = spark.range(100).withColumnRenamed("id", "k")
    (
        spark.range(10_000)
        .withColumnRenamed("id", "k")
        .join(_F.broadcast(small), "k")
        .groupBy((_F.col("k") % 10).alias("g"))
        .count()
        .count()
    )

    def _isolated_min(name: str, runs: int = 3) -> float:
        """Solo re-measure: the ONE isolation protocol shared by the
        gate's isolated-confirm pass and the watchlist, so their numbers
        stay comparable by construction."""
        iso = []
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            iso.append(time.time() - t0)
        return round(min(iso), 3)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in bench_query_names(qs):
        fn = qs[name]
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        cold[name] = round(time.time() - t0, 3)
        warm = []
        for _ in range(2):  # min of 2 warm runs: robust to GC/scheduler noise
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            warm.append(time.time() - t0)
        timings[name] = round(min(warm), 3)
        print(
            f"# {name}: {timings[name]}s (cold {cold[name]}s, {n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # round-over-round regression check against the previous BENCH file.
    # Rounds run on freshly-provisioned VMs whose absolute speed varies
    # (measured r2→r3: the SAME commit's queries ran ~1.5-1.7x slower on
    # the r3 VM, uniformly). A uniform shift is environment, not code —
    # so the gate normalizes by the MEDIAN now/prev ratio across shared
    # queries (reported as env_drift_median_ratio) and flags only queries
    # regressing >1.5x RELATIVE to that median: a genuine single-query
    # regression stands out against its peers on any machine.
    regressions = {}
    accepted_regressions = {}
    cold_regressions = {}
    pending_flags = {}
    suppressed_flags = {}
    prev_total = None
    env_drift = None
    prev, prev_source = _load_prev(float(sf) if sf else None)
    if prev is not None:
        prev_total = prev.get("value")
        prev_pending = set(prev.get("pending_flags") or {})
        ratios = {
            name: t / prev["queries"][name]
            for name, t in timings.items()
            if isinstance(prev["queries"].get(name), (int, float))
            and prev["queries"][name] > 0.05
        }
        if ratios:
            rs = sorted(ratios.values())
            env_drift = round(rs[len(rs) // 2], 3)
            norm = max(1.0, env_drift)
            candidates = {}
            for name, r in ratios.items():
                # COLD_GATED streaming queries gate on their cold time
                # below — their warm time is micro-batch harness overhead
                # (availableNow replay + state-store setup) with 2x
                # run-to-run spread, so a warm flag is pure scheduler
                # noise (r6: stream_sessionize flagged 1.87x in-run,
                # re-measured 1.12x isolated)
                if name in COLD_GATED:
                    continue
                if r <= REGRESSION_FACTOR * norm:
                    continue
                p = prev["queries"][name]
                # materiality guard: sub-second queries swing 1.5-2x
                # between sessions on this VM (r4: rel_range_join; r6:
                # four wc scans flagged at 1.5-1.65x, re-measured across
                # unrelated queries at 0.91-1.51x in the same minute —
                # scheduler tails, not plans). A flag needs the ratio
                # AND either a material absolute delta or a catastrophic
                # ratio (which catches a real micro-query regression).
                # ADVICE r6: a sub-0.5s-delta flag in the 1.5x-3x band is
                # not dropped silently anymore — it is recorded as a
                # PENDING flag, and if the same query trips the ratio
                # gate again on the next run it is promoted to a real
                # candidate (persistence beats a one-shot scheduler tail).
                material = (timings[name] - p) > 0.5 or r > 3.0 * norm
                info = {
                    "prev": p,
                    "now": timings[name],
                    "ratio": round(r, 2),
                    "ratio_vs_median": round(r / env_drift, 2),
                }
                if material or name in prev_pending:
                    if name in prev_pending and not material:
                        info["promoted_from_pending"] = True
                    candidates[name] = info
                else:
                    pending_flags[name] = info
            # isolated-confirm pass (VERDICT r6 finding #2): a flag raised
            # inside the 231-query sweep often measures contention, not the
            # plan (r6: emb_cosine_hist 1.436 s in-run vs 0.512 s isolated).
            # Re-run each candidate ALONE at the end of the sweep — 3 runs,
            # min — and only record a regression the isolated time confirms,
            # so the committed record and the driver record stop disagreeing.
            for name, info in candidates.items():
                iso_min = _isolated_min(name)
                info["isolated"] = iso_min
                p = info["prev"]
                r_iso = iso_min / p
                info["isolated_ratio"] = round(r_iso, 2)
                confirmed = (
                    r_iso > REGRESSION_FACTOR * norm
                    and ((iso_min - p) > 0.5 or r_iso > 3.0 * norm
                         or info.get("promoted_from_pending"))
                )
                prev_round_n = None
                if prev_source:
                    m_ = re.search(r"BENCH_r(\d+)\.json", prev_source)
                    if m_:
                        prev_round_n = int(m_.group(1))
                reason = _accepted_reason(name, prev_round_n) if confirmed else None
                if confirmed and reason is not None:
                    info["accepted_reason"] = reason
                    accepted_regressions[name] = info
                    verdict = "ACCEPTED plan change"
                elif confirmed:
                    regressions[name] = info
                    verdict = "REGRESSION"
                else:
                    suppressed_flags[name] = info
                    verdict = "noise"
                print(
                    f"# isolated-confirm {name}: sweep {info['now']}s -> "
                    f"isolated {iso_min}s (prev {p}s) -> {verdict}",
                    file=sys.stderr,
                )
            # streaming queries: fixed harness overhead dominates and the
            # warm metric hides it — gate their COLD time against the same
            # warm-derived env drift (cold times are single-shot, so a
            # slightly looser bar would also be defensible; keep 1.5x)
            prev_cold = prev.get("cold_queries") or {}
            for name in COLD_GATED:
                pc = prev_cold.get(name)
                if name in cold and isinstance(pc, (int, float)) and pc > 0.05:
                    r = cold[name] / pc
                    # same materiality guard as the warm gate: cold times
                    # are single-shot and noisier still
                    material = (cold[name] - pc) > 0.5 or r > 3.0 * norm
                    if r > REGRESSION_FACTOR * norm and material:
                        cold_regressions[name] = {
                            "prev_cold": pc,
                            "now_cold": cold[name],
                            "ratio": round(r, 2),
                            "ratio_vs_median": round(r / max(env_drift, 1e-9), 2),
                        }

    # watchlist isolated re-measures: 3 solo runs each, min recorded —
    # the durable cross-round evidence row the in-sweep number can't give
    watch_isolated = {}
    for name in WATCHLIST:
        if name not in qs:
            continue
        watch_isolated[name] = _isolated_min(name)
        print(
            f"# watch {name}: sweep {timings.get(name)}s -> isolated "
            f"{watch_isolated[name]}s",
            file=sys.stderr,
        )

    # isolated top-band re-measure (VERDICT r12 ask #4): solo min-of-3
    # for the ISO_BAND slowest warm queries; the band SUM is the
    # drift-robust round-over-round comparator — in-sweep rows inflate
    # up to 2.5x under sweep interference, isolated rows do not.
    iso_band_names = [
        n for n, _t in sorted(timings.items(), key=lambda kv: -kv[1])
    ][:ISO_BAND]
    iso_top = {n: _isolated_min(n) for n in iso_band_names}
    iso_top_sum = round(sum(iso_top.values()), 3)
    prev_iso = (prev or {}).get("iso_top15")
    iso_prev_sum = None
    iso_band_regression = None
    if isinstance(prev_iso, dict) and prev_iso:
        # compare over the INTERSECTION of bands so membership churn
        # (a new heavy query entering the band) reads as growth of the
        # band, not a regression of the old members
        shared = sorted(set(iso_top) & set(prev_iso))
        if shared:
            now_s = round(sum(iso_top[n] for n in shared), 3)
            prev_s = round(sum(prev_iso[n] for n in shared), 3)
            iso_prev_sum = prev_s
            if prev_s > 0 and now_s / prev_s > REGRESSION_FACTOR:
                iso_band_regression = {
                    "shared_queries": len(shared),
                    "prev_sum": prev_s,
                    "now_sum": now_s,
                    "ratio": round(now_s / prev_s, 2),
                }
    for n in iso_band_names:
        print(
            f"# iso-band {n}: sweep {timings.get(n)}s -> isolated "
            f"{iso_top[n]}s",
            file=sys.stderr,
        )

    result = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        # VERDICT r13 ask #2: the env vars ARE honored (get_spark sets
        # master local[cpus]) but nothing in the JSON proved it, so the
        # driver's 8-core run read as "cpus ignored". Echo the requested
        # core count, the EFFECTIVE parallelism straight from the live
        # SparkContext, and the resolved data dir so the scaling check
        # can verify the contract instead of inferring it.
        "cpus": cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "sf_dir": sf_dir,
        "queries": timings,
        "cold_queries": cold,
        "iso_top15": iso_top,
        "iso_top15_sum": iso_top_sum,
        "iso_top15_prev_shared_sum": iso_prev_sum,
        "iso_band_regression": iso_band_regression,
        "watch_isolated": watch_isolated,
        "sf": float(sf) if sf else None,
        "prev_round_total": prev_total,
        "prev_source": prev_source,
        "env_drift_median_ratio": env_drift,
        "regressions": regressions,
        "accepted_regressions": accepted_regressions,
        "cold_regressions": cold_regressions,
        "pending_flags": pending_flags,
        "suppressed_flags": suppressed_flags,
    }
    # VERDICT r6 ask #6: the full per-query line is ~20 KB and the driver
    # records only a 2000-char stdout tail, so BENCH_r06.json shipped
    # "parsed": null. Emit a compact summary (totals + gate outcome, top-20
    # slowest queries; marked "partial" so _load_prev never adopts it as a
    # baseline) FIRST for first-line parsers, then the full line, then the
    # compact line again padded so the trailing 2000 chars of stdout are
    # whitespace + one complete JSON object (json.loads(tail) succeeds).
    compact_line = _compact_summary(result)
    print(compact_line)
    print(json.dumps(result))
    print(" " * 2100)
    print(compact_line)

    # durable records (VERDICT r3 asks #3/#7): the driver's tail capture of
    # the stdout line above can truncate (BENCH_r03.json shipped
    # "parsed": null), so every run also commits
    #   - BENCH_LOCAL.json: the full line verbatim (next run's fallback
    #     baseline), and
    #   - BENCH_HISTORY.json: per-query warm/cold timings keyed by round
    #     and core count, so any regression is attributable across rounds
    #     even when the stdout capture fails.
    try:
        _write_records(os.path.dirname(os.path.abspath(__file__)), result)
    except OSError as e:
        print(f"# WARN could not write bench records: {e}", file=sys.stderr)
    spark.stop()


def _compact_summary(result: dict) -> str:
    """One JSON line ≤1900 chars: totals + gate outcome + top-20 slowest
    queries, marked "partial": true so _load_prev never adopts it as a
    regression baseline. Printed first AND last (after a whitespace pad)
    so any driver capture strategy — first line, last line, or
    json.loads of a trailing 2000-char tail — parses a complete object."""
    timings = result.get("queries") or {}
    compact = {
        "metric": result.get("metric"),
        "value": result.get("value"),
        "unit": result.get("unit"),
        "sf": result.get("sf"),
        "cpus": result.get("cpus"),
        "default_parallelism": result.get("default_parallelism"),
        "sf_dir": result.get("sf_dir"),
        "n_queries": len(timings),
        "partial": True,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20]),
        "prev_round_total": result.get("prev_round_total"),
        "env_drift_median_ratio": result.get("env_drift_median_ratio"),
        "iso_top15_sum": result.get("iso_top15_sum"),
        "iso_top15_prev_shared_sum": result.get("iso_top15_prev_shared_sum"),
        "iso_band_regression": result.get("iso_band_regression"),
        "regressions": result.get("regressions", {}),
        "accepted_regressions": result.get("accepted_regressions", {}),
        "cold_regressions": result.get("cold_regressions", {}),
        "pending_flags": result.get("pending_flags", {}),
    }
    line = json.dumps(compact)
    while len(line) > 1900 and compact["queries"]:
        # shed the slowest-queries detail first (it lives in
        # BENCH_LOCAL.json regardless); totals + flags stay
        compact["queries"] = dict(
            list(compact["queries"].items())[: len(compact["queries"]) // 2]
        )
        line = json.dumps(compact)
    # a high-regression round can blow the budget on the flag dicts alone
    # (~130 chars per entry) — shed those too, worst-by-ratio first, then
    # fall back to bare counts: the tail-parse guarantee must hold in
    # exactly the round where the record matters most (full detail is
    # always in BENCH_LOCAL.json)
    flag_keys = ("regressions", "cold_regressions", "pending_flags")
    if len(line) > 1900:
        for key in flag_keys:
            d = compact.get(key) or {}
            if len(d) > 5:
                compact[key] = dict(
                    sorted(d.items(),
                           key=lambda kv: -(kv[1].get("ratio") or 0))[:5]
                )
                compact[key + "_dropped"] = len(d) - 5
        line = json.dumps(compact)
    if len(line) > 1900:
        for key in flag_keys:
            d = compact.get(key)
            if isinstance(d, dict) and d and "n_flagged" not in d:
                compact[key] = {"n_flagged": len(d)}
            compact.pop(key + "_dropped", None)
        line = json.dumps(compact)
    return line


def _write_records(here: str, result: dict) -> None:
    """Write both durable records atomically (tmp + os.replace): a
    driver kill mid-write must never tear the fallback baseline the
    next round's regression gate reads."""
    local_path = os.path.join(here, "BENCH_LOCAL.json")
    with open(local_path + ".tmp", "w") as fh:
        json.dump(result, fh)
        fh.write("\n")
    os.replace(local_path + ".tmp", local_path)
    # one row per (round, core count): a scaling run at another core
    # count must never take the row of the round's headline run
    latest = _latest_round()
    round_key = f"r{(latest[0] if latest else 0) + 1:02d}_c{result['cpus']}"
    hist_path = os.path.join(here, "BENCH_HISTORY.json")
    try:
        with open(hist_path) as fh:
            hist = json.load(fh)
        if not isinstance(hist, dict):
            hist = {}
    except (OSError, ValueError):
        hist = {}
    hist[round_key] = {
        "sf": result["sf"],
        "cpus": result["cpus"],
        "total": result["value"],
        "env_drift_median_ratio": result["env_drift_median_ratio"],
        "queries": result["queries"],
        "cold_queries": result["cold_queries"],
        "regressions": result.get("regressions", {}),
        "cold_regressions": result.get("cold_regressions", {}),
        "pending_flags": result.get("pending_flags", {}),
        "suppressed_flags": result.get("suppressed_flags", {}),
        "watch_isolated": result.get("watch_isolated", {}),
    }
    with open(hist_path + ".tmp", "w") as fh:
        json.dump(hist, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(hist_path + ".tmp", hist_path)


if __name__ == "__main__":
    main()
