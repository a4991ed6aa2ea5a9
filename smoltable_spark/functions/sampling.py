"""Deterministic sampling for training-data pipelines.

Stratified sampling is the workhorse of corpus mixing: "keep 10% of English,
100% of the low-resource languages". At 100 TB it must be

- a *narrow* operation (a filter, never a shuffle or a sort),
- deterministic and seed-stable (re-running the pipeline on the same
  corpus picks the same rows — required for reproducible training sets),
- and independent of partitioning / row order (unlike ``df.sample``,
  whose result depends on how rows land in partitions).

Both properties come from hashing the row's identity rather than rolling
RNG state: keep row iff ``md5(seed|stratum|id) mod M < rate*M``. The hash
is the portable md5-derived one (functions/hashing.py) so every sample is
oracle-checkable in DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from smoltable_spark.functions.hashing import md5_long, md5_long_sql

#: modulus for rate quantization — rates are exact multiples of 1e-6
RATE_MOD = 1_000_000


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: dict[str, float],
    seed: str = "strat",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rate sampling.

    A single narrow ``filter`` over the corpus — the per-stratum rate is a
    CASE expression, the keep decision a hash compare; no shuffle, no
    driver collect, trivially parallel at any scale. Strata absent from
    ``rates`` fall back to ``default_rate`` (0 = drop).
    """
    ident = F.concat(F.col(strata_col), F.lit("|"), F.col(id_col).cast("string"))
    bucket = md5_long(F.concat(F.lit(seed + "|"), ident)) % RATE_MOD
    cut = F.lit(int(round(default_rate * RATE_MOD)))
    for stratum, rate in sorted(rates.items()):
        cut = F.when(
            F.col(strata_col) == stratum, int(round(rate * RATE_MOD))
        ).otherwise(cut)
    return df.filter(bucket < cut)


def stratified_sample_sql(
    strata_expr: str,
    id_expr: str,
    rates: dict[str, float],
    seed: str = "strat",
    default_rate: float = 0.0,
) -> str:
    """DuckDB WHERE-clause rendering of :func:`stratified_sample`."""
    ident = f"concat({strata_expr}, '|', CAST({id_expr} AS VARCHAR))"
    h = md5_long_sql(f"concat('{seed}|', {ident})")
    cases = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN {int(round(r * RATE_MOD))}"
        for s, r in sorted(rates.items())
    )
    cut = f"CASE {cases} ELSE {int(round(default_rate * RATE_MOD))} END"
    return f"({h} % {RATE_MOD}) < ({cut})"


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Keep the top-``k`` rows per group under a deterministic total order
    (``order_cols`` must break all ties) — the per-source document cap of
    a crawl-balancing pipeline.

    Scale path: a naive ``Window.partitionBy(group)`` gives every group
    ONE task — a hot source (half the corpus behind one domain) becomes
    one straggler. Because the global top-k of a group is contained in
    the union of its per-partition top-k's, stage 1 ranks within
    (group, input-partition) — windows keyed by the partition id never
    skew — and keeps ≤ k rows each; stage 2 re-ranks only the survivors
    (≤ k × n_partitions rows per group). The group-keyed shuffle
    therefore carries survivors, not the corpus.
    """
    order = [c.asc() if hasattr(c, "asc") else F.col(c).asc() for c in order_cols]
    local = Window.partitionBy(group_col, F.spark_partition_id()).orderBy(*order)
    survivors = (
        df.withColumn("_lrk", F.row_number().over(local))
        .filter(F.col("_lrk") <= k)
        .drop("_lrk")
    )
    final = Window.partitionBy(group_col).orderBy(*order)
    return (
        survivors.withColumn(rank_col, F.row_number().over(final))
        .filter(F.col(rank_col) <= k)
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS'23)

#: hashed n-gram feature space size (buckets)
DSIR_BUCKETS = 1024
#: log-ratio quantization: micro-nats, so per-doc scores are INTEGER sums
DSIR_Q = 1_000_000


def _hashed_bigram_counts(
    docs: DataFrame,
    is_target: Column,
    text_col: str,
    id_col: str,
    buckets: int,
    seed: str,
) -> DataFrame:
    """(id, tgt, bucket, c): per-doc hashed-bigram bucket counts WITH
    multiplicity (unlike dedup's distinct shingle sets — importance
    weights need term frequencies). One explode + one shuffle keyed by
    (doc, bucket) — high-cardinality, skew-free. Docs shorter than two
    tokens contribute their unigram (same boundary convention as the
    dedup shingle pipeline)."""
    from smoltable_spark.functions.text import tokens

    toked = docs.select(
        F.col(id_col), is_target.alias("tgt"), tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size(F.col("_toks"))
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
    grams = F.filter(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 2))),
        lambda s: s != "",
    )
    return (
        toked.select(F.col(id_col), "tgt", F.explode(grams).alias("gram"))
        .select(
            F.col(id_col),
            "tgt",
            (md5_long(F.concat(F.lit(seed + "|"), F.col("gram"))) % buckets).alias(
                "bucket"
            ),
        )
        .groupBy(id_col, "tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_weights(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    seed: str = "dsir",
) -> DataFrame:
    """(doc_id, logw_q): DSIR importance weight of every document —
    ``log p_target(doc) - log p_raw(doc)`` under hashed-bigram unigram
    models with add-one smoothing — in integer MICRO-NATS.

    The feature distributions are ≤ ``buckets`` rows each, so the whole
    statistical model is a broadcast table; the corpus is touched by
    exactly two jobs (bucket-count aggregation, per-doc weight sum) and
    never shuffles on anything wider than (doc, bucket).

    Portability: the ONLY floating-point op is the per-bucket ``ln`` of
    the smoothed probability ratio, quantized immediately to integer
    micro-nats (``floor(1e6·lr)``); per-document scores are then exact
    integer sums ``Σ c·lr_q`` — immune to engine-dependent float
    summation order, unlike summing doubles.
    """
    cnt = _hashed_bigram_counts(docs, is_target, text_col, id_col, buckets, seed)
    # raw AND target bucket totals in ONE pass over cnt (conditional sum),
    # so the corpus explode executes twice total (stats, weights), not 3x
    stats = cnt.groupBy("bucket").agg(
        F.sum("c").alias("rb"),
        F.sum(F.when(F.col("tgt"), F.col("c")).otherwise(0)).alias("tb"),
    )
    tot = stats.agg(
        F.sum("rb").alias("rtot"), F.sum("tb").alias("ttot")
    )
    m = float(buckets)
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.lit(float(DSIR_Q))
            * (
                F.log((F.col("tb") + 1.0) / (F.col("ttot") + m))
                - F.log((F.col("rb") + 1.0) / (F.col("rtot") + m))
            )
        )
        .cast("long")
        .alias("lr_q"),
    )
    w = (
        cnt.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("lr_q")).alias("logw_q"))
    )
    # empty/one-gram-less docs carry weight 0 rather than vanishing
    return docs.select(F.col(id_col)).join(w, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col("logw_q"), F.lit(0)).cast("long").alias("logw_q")
    )


def dsir_resample(
    docs: DataFrame,
    is_target: Column,
    k: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
    seed: str = "dsir",
) -> DataFrame:
    """Top-``k`` Gumbel-perturbed importance resample — DSIR's selection
    step, derandomized: the Gumbel noise ``g = -ln(-ln(u))`` uses a
    hash-derived uniform ``u = (md5(doc) mod 2^20 + 0.5)/2^20`` instead
    of RNG state, so the selected set is reproducible and cross-engine
    checkable. Gumbel-max sampling without replacement: taking the top-k
    of ``logw + g`` draws k docs proportional-to-weight (Vieira'14).

    Returns (doc_id, logw_q, key_q) — both scores in integer micro-nats;
    the cut is a distributed TakeOrdered on (key_q desc, doc_id), never
    a global sort of the corpus.
    """
    w = dsir_log_weights(docs, is_target, text_col, id_col, buckets, seed)
    u = (
        md5_long(F.concat(F.lit(seed + "g|"), F.col(id_col).cast("string")))
        % F.lit(1 << 20)
        + 0.5
    ) / F.lit(float(1 << 20))
    g = -F.log(-F.log(u))
    key = (
        F.col("logw_q") + F.floor(F.lit(float(DSIR_Q)) * g).cast("long")
    ).alias("key_q")
    return (
        w.select(F.col(id_col), "logw_q", key)
        .orderBy(F.col("key_q").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# reproducible training-order shuffle

def shuffle_shards(
    df: DataFrame,
    shards: int = 64,
    seed: str = "shuf",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    (shard, position) from the seeded identity hash — the reproducible
    replacement for ``df.orderBy(rand())`` that training pipelines need
    (same corpus + same seed ⇒ byte-identical epoch order, resumable
    mid-epoch, independent of partitioning).

    Scale shape: ``shards`` is the parallelism knob — each shard is ONE
    window task over ~n/shards rows that writes one sorted shard file
    (exactly the layout a data loader wants). Set shards ≈ 2–4× total
    executor cores at cluster scale; the hash balances shard sizes to
    within sampling noise, so there is no skewed-key straggler. Returns
    (id, shard, pos) with pos = 1..|shard| ordered by (hash, id).
    """
    h = md5_long(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        df.select(F.col(id_col), h.alias("_h"))
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(shards)).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )
