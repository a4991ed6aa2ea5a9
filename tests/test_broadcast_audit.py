"""Static audit: every ``F.broadcast(`` site must have a bounded side.

VERDICT r4 "What's wrong" #1/#2 found forced broadcasts of
unbounded-cardinality tables (one row per distinct user) in
``rel_new_vs_returning`` and ``pipeline_pit_features`` — correct and
fast at sf0.1, but a driver/executor OOM at the 100 TB design point.
Round 5 removed those hints (plus the node-sized ones in
``rel_pagerank``) and this test locks the invariant in:

* every function containing an ``F.broadcast(...)`` call anywhere in
  the package must appear in ``BOUNDED_BROADCASTS`` below with a
  justification of WHY the broadcast side's cardinality does NOT grow
  with the data (a scalar aggregate, a k-limited cut, a fixed
  codebook/sketch, a low-cardinality dimension, a caller-contracted
  query batch, ...);
* functions the verdict flagged must NOT contain broadcast calls;
* allowlist entries must not go stale (site removed but entry kept).

Adding a new broadcast without auditing its cardinality fails this
test — the justification string IS the audit record.
"""

from __future__ import annotations

import ast
import os

import pytest

PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "smoltable_spark")

# (module-relative path, qualified function name) -> why the broadcast
# side is bounded. "dimension" = cardinality fixed by the schema/world
# (nations, regions, event types, vector dims); "scalar" = 1-row
# aggregate; "k-cut" = LIMIT/top-k bounded; "contract" = bounded by the
# documented caller contract, with the contract named.
BOUNDED_BROADCASTS: dict[tuple[str, str], str] = {
    ("functions/dedup.py", "benchmark_contamination"):
        "benchmark shingle set: the held-out eval suite is a fixed, "
        "curated corpus (contract documented in the docstring), not a "
        "slice that grows with training data",
    ("functions/linalg.py", "power_iteration"):
        "scalar: 1-row norm aggregate per iteration",
    ("functions/profile.py", "key_distribution"):
        "one row per group of the profiled dimension; contract: "
        "group_col is a low-cardinality dimension (event_type/source), "
        "the skew REPORT axis, never the skewed key itself",
    ("functions/sampling.py", "dsir_log_weights"):
        "scalar total + per-bucket log-ratio table bounded by the "
        "fixed hash-bucket count",
    ("functions/ann_index.py", "delete_from_ivf_index"):
        "contract: the user-supplied delete id batch (a maintenance API "
        "request, bounded); the index side streams",
    ("functions/ann_index.py", "_fold_tombstones"):
        "count-gated: victims broadcast only when the tombstone set is "
        "under _BROADCAST_MAX_TOMBS rows (else the anti-join shuffles); "
        "the append-upsert batch split broadcasts the caller-bounded "
        "batch ids; the affected-list scan streams",
    ("functions/ann_index.py", "append_ivf_index"):
        "tombstone set (bounded: deletes since last compact) broadcast "
        "against the caller-bounded append batch's distinct ids",
    # _nearest_centroids no longer broadcasts at all (r13: centroids are
    # driver-collected bounded literals — assignment is a narrow
    # projection with no join)
    ("functions/similarity.py", "ivf_recall_curve"):
        "query batch x probe ranks (caller-bounded eval batch), the "
        "nprobe/k sweep literals (a handful of ints), the ground-truth "
        "top-k (|queries| x k rows), and the same broadcast-queries "
        "shape as cosine_topk_bruteforce — the corpus side is never "
        "broadcast",
    ("functions/similarity.py", "ivf_recall_vs_centroids"):
        "same bounded shapes as ivf_recall_curve: query batch, probe "
        "assignments, ground-truth top-k — one shared gt broadcast "
        "joined against per-coarseness candidate branches",
    ("functions/similarity.py", "_pq_assign"):
        "PQ codebooks: M subspaces x 256 codes, size fixed by the "
        "quantizer config, independent of corpus size",
    ("functions/similarity.py", "cosine_range_search"):
        "contract: query batch (documented as a bounded probe set); "
        "corpus side streams",
    ("functions/similarity.py", "cosine_topk_bruteforce"):
        "contract: query batch (documented as a bounded probe set); "
        "corpus side streams",
    ("functions/similarity.py", "cosine_topk_bucketed"):
        "contract: query batch with per-query probe buckets; corpus "
        "side is partition-pruned by bucket",
    ("functions/similarity.py", "pq_codebooks"):
        "k-cut: sampled seed ids (fixed training sample size)",
    ("functions/similarity.py", "pq_refine_exact"):
        "per-query candidate lists: |queries| x k_adc rows, both "
        "factors caller-bounded (ADC shortlist refinement)",
    ("functions/similarity.py", "pq_topk_adc"):
        "query LUTs: |queries| x M x 256, queries caller-bounded, "
        "M x 256 fixed by the quantizer",
    ("functions/similarity.py", "query_ivf_index"):
        "query probe lists: |queries| x nprobe, both caller-bounded; "
        "corpus side is list_id partition-pruned",
    ("functions/similarity.py", "query_ivfpq_index"):
        "codebooks (M x 256) + query probes + query LUTs, all fixed "
        "or caller-bounded; corpus codes stream",
    ("functions/sketch.py", "cm_estimate"):
        "count-min sketch: d x w cells, fixed by sketch params",
    ("functions/sketch.py", "heavy_hitters"):
        "candidate heavy hitters: at most 1/threshold keys by the "
        "CM-sketch guarantee",
    ("functions/text.py", "bigram_lm_scores"):
        "scalar: 1-row distinct-vocab count",
    ("functions/text.py", "bm25_topk"):
        "scalar corpus stats (N, avgdl) in one row",
    ("functions/text.py", "ccnet_buckets"):
        "per-language quantile cuts: |languages| rows, a fixed "
        "dimension of the language-ID model",
    ("functions/text.py", "pack_split"):
        "scalar: 1-row percentile_approx boundary array "
        "(n_buckets-1 values, a caller-fixed parallelism knob)",
    ("functions/text.py", "oov_rate_df"):
        "k-cut: vocabulary is LIMIT vocab_size after the corpus "
        "rollup",
    ("operators/rank.py", "_frozen_offset_pass"):
        "per-(partition, group) offset table: |partitions| x |groups| "
        "rows, partition count is a cluster config, groups bounded by "
        "the grouping dimension (one group for the ungrouped ranks)",
    ("operators/read.py", "multi_get_cells"):
        "contract: the user-supplied multi_get key list (a point-read "
        "API, bounded batch)",
    ("operators/scan.py", "_apply_row_accounting"):
        "k-cut: the surviving row keys after limit/offset accounting "
        "(scan limit contract)",
    ("queries_analytics.py", "emb_label_margin"):
        "scalar: 1-row timestamp midpoint",
    ("queries_analytics.py", "emb_outlier_topk"):
        "scalar: 1-row per-dimension sum/sumsq arrays (|dims| fixed)",
    ("queries_analytics.py", "emb_quantize_int8"):
        "per-dimension min/max ranges: |dims| rows, dims fixed by the "
        "embedding model",
    ("queries_analytics.py", "emb_standardize"):
        "per-dimension mean/std: |dims| rows, dims fixed",
    ("queries_analytics.py", "pipeline_curriculum"):
        "quantile cut points: fixed permille grid rows",
    ("queries_analytics.py", "pipeline_dataset_card"):
        "five 1-row corpus aggregates (counts, coverage scalars)",
    ("queries_analytics.py", "pipeline_integrity_audit"):
        "scalar: 1-row orphan-embedding count",
    ("queries_analytics.py", "pipeline_semantic_decontaminate"):
        "benchmark embeddings: fixed held-out eval set (5 vectors in "
        "the fixture; curated suite by contract)",
    ("queries_analytics.py", "pipeline_temperature_mix"):
        "per-source weights: |sources| rows, a low-cardinality "
        "dimension",
    ("queries_analytics.py", "rel_anomaly_zscore"):
        "per-event-type stats: |types| rows (dimension)",
    ("queries_analytics.py", "rel_bloom_join_filter"):
        "bloom filter bit array (fixed m bits) + 1-row counts",
    ("queries_analytics.py", "rel_chisq_drift"):
        "scalar midpoint + |types|x2 contingency marginals (dimension)",
    ("queries_analytics.py", "rel_grouped_quantiles"):
        "per-(type, p) target ranks: |types| x |quantile grid| rows "
        "(dimension x fixed grid)",
    ("queries_analytics.py", "rel_join_size_estimate"):
        "scalar 1-row estimates and counts",
    ("queries_analytics.py", "rel_mad_outliers"):
        "per-event-type median/MAD: |types| rows (dimension)",
    ("queries_analytics.py", "rel_market_basket"):
        "scalar: 1-row basket count",
    ("queries_analytics.py", "rel_range_boundaries"):
        "single row of permille boundaries (fixed grid)",
    ("queries_analytics.py", "rel_rfm_segments"):
        "three 1-row quantile-cut frames (fixed tercile grid)",
    ("queries_analytics.py", "rel_tpch_q10"): "nation: 25-row dimension",
    ("queries_analytics.py", "rel_tpch_q11"):
        "nation/region dimensions + 1-row total",
    ("queries_analytics.py", "rel_tpch_q15"): "scalar: 1-row max revenue",
    ("queries_analytics.py", "rel_tpch_q2"):
        "nation/region dimensions (25/5 rows)",
    ("queries_analytics.py", "rel_tpch_q20"): "nation: 25-row dimension",
    ("queries_analytics.py", "rel_tpch_q21"): "nation/region dimensions (25/5 rows)",
    ("queries_analytics.py", "rel_tpch_q22"):
        "scalar: 1-row avg balance (positive-balance customers)",
    ("queries_analytics.py", "rel_tpch_q5"): "nation/region dimensions (25/5 rows)",
    ("queries_analytics.py", "rel_tpch_q7"): "nation dimension, twice",
    ("queries_analytics.py", "rel_tpch_q8"): "nation/region dimensions (25/5 rows)",
    ("queries_analytics.py", "rel_tpch_q9"): "nation: 25-row dimension",
    ("queries_analytics.py", "stream_anomaly_scores"):
        "per-event-type baseline stats: |types| rows (dimension)",
    ("queries_analytics.py", "txt_tfidf_topk"): "scalar: 1-row doc count",
    ("queries_core.py", "wc_value_index_lookup"):
        "contract: row keys matching ONE point value from a selective "
        "secondary index (the point-lookup serving path; a full-table "
        "match belongs to scan, not index lookup)",
}

# Functions that VERDICT r4 / the r5 audit required to be broadcast-free
# (unbounded side: one row per user / per graph node).
MUST_NOT_BROADCAST = {
    ("queries_analytics.py", "rel_new_vs_returning"),
    ("queries_analytics.py", "pipeline_pit_features"),
    ("queries_analytics.py", "rel_pagerank"),
}


def _broadcast_sites() -> dict[tuple[str, str], list[int]]:
    sites: dict[tuple[str, str], list[int]] = {}
    for root, _dirs, files in os.walk(PKG_DIR):
        if "__pycache__" in root:
            continue
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_DIR)
            tree = ast.parse(open(path, "rb").read())

            def walk(node, stack):
                for ch in ast.iter_child_nodes(node):
                    nxt = stack
                    if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        nxt = stack + [ch.name]
                    if (
                        isinstance(ch, ast.Call)
                        and isinstance(ch.func, ast.Attribute)
                        and ch.func.attr == "broadcast"
                    ) or (
                        isinstance(ch, ast.Call)
                        and isinstance(ch.func, ast.Name)
                        and ch.func.id == "broadcast"
                    ):
                        key = (rel, ".".join(stack) or "<module>")
                        sites.setdefault(key, []).append(ch.lineno)
                    walk(ch, nxt)

            walk(tree, [])
    return sites


def test_every_broadcast_site_is_justified():
    sites = _broadcast_sites()
    unjustified = sorted(k for k in sites if k not in BOUNDED_BROADCASTS)
    assert not unjustified, (
        "F.broadcast sites without a bounded-cardinality justification "
        f"(audit them and extend BOUNDED_BROADCASTS): {unjustified}"
    )


def test_no_stale_allowlist_entries():
    sites = _broadcast_sites()
    stale = sorted(k for k in BOUNDED_BROADCASTS if k not in sites)
    assert not stale, f"allowlist entries with no broadcast site left: {stale}"


def test_justifications_are_substantive():
    for key, why in BOUNDED_BROADCASTS.items():
        assert len(why.split()) >= 3, f"empty justification for {key}"


@pytest.mark.parametrize("key", sorted(MUST_NOT_BROADCAST))
def test_flagged_functions_have_no_broadcast(key):
    sites = _broadcast_sites()
    assert key not in sites, (
        f"{key} must not force a broadcast: its small side is "
        "per-user/per-node sized (unbounded at scale) — let AQE decide"
    )
