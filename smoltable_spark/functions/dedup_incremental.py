"""Incremental (batch-vs-corpus) MinHash near-duplicate dedup.

The steady-state shape of a crawl/training-data pipeline: the existing
corpus is represented ONLY by a persisted LSH INDEX — one row per
document holding its distinct shingle-hash set, its size, and its
banded MinHash buckets — so admitting a new ingestion batch costs
O(|batch| + matched buckets) and the corpus text is never re-read or
re-shingled. This is the near-duplicate twin of
``dedup.incremental_dedup`` (exact fingerprints) and the text-side
analogue of ``ann_index.append_ivf_index`` (frozen-quantizer appends):
the hash family and banding are frozen at index build, so batch-side
buckets are directly comparable to the persisted ones.

Scale shape (the reason this exists as its own operator):

- Candidate generation joins SKINNY (id, band, bucket) rows only — the
  per-doc shingle-hash arrays never ride through the band shuffle; they
  are joined back for exactly the candidate pairs that survive, so the
  verification traffic is output-sized.
- The batch side is the small one; AQE broadcasts it against the index
  when it fits and degrades to a co-partitioned join when it doesn't.
  Nothing here forces a broadcast of the unbounded index side.
- Within-batch near-dups use the same banded self-join as
  ``dedup.lsh_candidate_pairs`` (bucket-local pairs, never all-pairs).
- ``max_bucket_df`` optionally RAISES when an index band bucket exceeds
  the cap (boilerplate corpora concentrate buckets and the candidate
  join would go quadratic in occupancy) — the same fail-loud contract
  as ``blocked_jaccard_near_duplicates.max_block_rows`` and the
  containment ``max_anchor_df`` guard.

The reference engine has no dedup surface (its scope ends at the cell
store — smoltable/src/table/mod.rs); this extends the LLM-pipeline
family alongside SURVEY §2's store operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.functions.dedup import (
    MINHASH_P,
    doc_shingles,
    minhash_params,
)
from smoltable_spark.functions.hashing import md5_long
from smoltable_spark.session import materialize


def lsh_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Build the per-document LSH index: one row per doc with

    - ``sz``: distinct shingle-hash count (the Jaccard denominator),
    - ``hshs``: the distinct shingle md5 hashes (array<long>) — the
      exact-verification payload, ~8 bytes per shingle instead of the
      text (and the only corpus state verification ever needs),
    - ``buckets``: array<struct<band int, bucket long>> — the banded
      MinHash buckets under the frozen ``minhash_params`` family.

    ONE shingle explode + ONE md5 per shingle feeds BOTH the exact set
    and all ``num_hashes`` affine rehashes, aggregated in a single
    map-side-combining groupBy(id) — the per-doc row is what a
    production pipeline persists (partitioned however its store
    likes; the band join key is carried per row, so any layout works).
    """
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    sh = doc_shingles(docs, text_col, id_col, k).select(
        id_col, md5_long(F.col("shingle")).alias("h64")
    )
    hb = F.col("h64") % MINHASH_P
    g = sh.groupBy(id_col).agg(
        F.collect_set("h64").alias("hshs"),
        *[
            F.min((F.lit(a) * hb + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ],
    )
    rows_per_band = num_hashes // bands

    def band_bucket(b: int):
        bucket = F.lit(0).cast("long")
        for i in range(b * rows_per_band, (b + 1) * rows_per_band):
            bucket = bucket * 31 + F.col(f"h{i}")
        return F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))

    return g.select(
        F.col(id_col),
        F.size("hshs").cast("long").alias("sz"),
        F.col("hshs"),
        F.array(*[band_bucket(b) for b in range(bands)]).alias("buckets"),
    )


def _skinny_buckets(index: DataFrame, id_col: str, out_id: str) -> DataFrame:
    """(id, band, bucket) rows — the candidate-join representation; the
    shingle arrays stay behind and join back only for survivors."""
    return index.select(
        F.col(id_col).alias(out_id), F.explode("buckets").alias("_bb")
    ).select(out_id, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def _verified(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    lcol: str,
    rcol: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(lcol, rcol)`` pairs
    from the two indexes' shingle-hash sets: integer cross-multiplied
    threshold (``common * 1000 >= round(t*1000) * union``) so the SQL
    oracle computes the identical predicate with no float divide."""
    num = round(threshold * 1000)
    j = pairs.join(
        left.select(
            F.col(id_col).alias(lcol),
            F.col("sz").alias("_sza"),
            F.col("hshs").alias("_ha"),
        ),
        lcol,
    ).join(
        right.select(
            F.col(id_col).alias(rcol),
            F.col("sz").alias("_szb"),
            F.col("hshs").alias("_hb"),
        ),
        rcol,
    )
    # all arithmetic in LONG: F.size() is int, and `common * 1000` /
    # `num * union` overflow 32 bits for documents beyond ~2.1M distinct
    # shingles — silently wrapping under non-ANSI Spark and flipping the
    # admit decision, while the DuckDB oracle computes the same predicate
    # in BIGINT (advisor r8, medium).
    common = F.size(F.array_intersect("_ha", "_hb")).cast("long")
    return j.filter(
        common * F.lit(1000).cast("long")
        >= F.lit(num).cast("long")
        * (F.col("_sza").cast("long") + F.col("_szb").cast("long") - common)
    ).select(lcol, rcol)


def minhash_dedup_incremental(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket_df: int | None = None,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Admit a new batch against a persisted corpus LSH index.

    Returns one row per batch document:

    - ``corpus_dup`` = 1 iff a banded candidate in the INDEX verifies at
      exact Jaccard >= ``threshold`` (the doc already exists in the
      corpus, near-duplicate sense);
    - ``batch_dup`` = 1 iff a SMALLER-id batch document verifies at the
      threshold (min-id-wins within the batch — the ``dedup_exact``
      keeper convention lifted to near-dups; deliberately
      non-transitive, like pair-based greedy dedup, so the result is a
      deterministic function of the verified pair set);
    - ``admitted`` = 1 iff neither.

    The admitted set plus ``lsh_index(admitted docs)`` appended to the
    index is the steady-state loop. ``max_bucket_df`` (optional) raises
    if any index band bucket holds more docs than the cap — the
    fail-loud hot-bucket guard; leave None to mirror plain
    ``dedup_minhash`` exposure.

    ``batch_index``: a PRE-BUILT ``lsh_index(batch, ...)`` under the
    SAME (num_hashes, bands, k) family — callers that also persist the
    admitted docs' index rows (``streaming/dedup_stream.py``) pass it so
    the batch is shingled exactly once per trigger instead of twice.
    """
    # (doc_shingles inside lsh_index owns the spread() parallelism fix —
    # wrapping batch again here would repartition twice)
    if batch_index is not None:
        bidx = batch_index
    else:
        # built once, read by 4 plan branches
        bidx = materialize(
            lsh_index(batch, text_col, id_col, num_hashes, bands, k), "bounded"
        )
    nb = _skinny_buckets(bidx, id_col, "new_id")
    ob = _skinny_buckets(index, id_col, "old_id")
    if max_bucket_df is not None:
        # guard BOTH sides (advisor r8): the index join is linear in index
        # bucket occupancy, but the within-batch self-join (cand_b) is
        # QUADRATIC in batch bucket occupancy — a boilerplate-heavy batch
        # concentrating in one bucket goes n² with no index involvement.
        for side, skinny in (("index", ob), ("batch", nb)):
            hot = (
                skinny.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > max_bucket_df)
                .limit(1)
                .collect()
            )
            if hot:
                r = hot[0]
                raise ValueError(
                    f"lsh {side} band bucket (band={r['band']}, "
                    f"bucket={r['bucket']}) holds {r['n']} docs > "
                    f"max_bucket_df={max_bucket_df}: candidate join would go "
                    "quadratic in bucket occupancy — raise the cap knowingly "
                    "or shrink bands/rows"
                )
    cand_c = nb.join(ob, ["band", "bucket"]).select("new_id", "old_id").distinct()
    a, b = nb.alias("a"), nb.alias("b")
    cand_b = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.new_id") < F.col("b.new_id")),
        )
        .select(F.col("a.new_id").alias("old_id"), F.col("b.new_id").alias("new_id"))
        .distinct()
    )
    corpus_dup = (
        _verified(cand_c, bidx, index, id_col, "new_id", "old_id", threshold)
        .select("new_id")
        .distinct()
        .withColumn("_cd", F.lit(1))
    )
    batch_dup = (
        _verified(cand_b, bidx, bidx, id_col, "new_id", "old_id", threshold)
        .select("new_id")
        .distinct()
        .withColumn("_bd", F.lit(1))
    )
    out = (
        bidx.select(F.col(id_col).alias("new_id"), "sz")
        .join(corpus_dup, "new_id", "left")
        .join(batch_dup, "new_id", "left")
    )
    cd = F.coalesce(F.col("_cd"), F.lit(0))
    bd = F.coalesce(F.col("_bd"), F.lit(0))
    return out.select(
        F.col("new_id").alias(id_col),
        F.col("sz").cast("long").alias("sz"),
        cd.cast("int").alias("corpus_dup"),
        bd.cast("int").alias("batch_dup"),
        (1 - F.greatest(cd, bd)).cast("int").alias("admitted"),
    )
