"""Bounded-space streaming sketches for heavy-hitter discovery.

The reference keeps approximate statistics per table (row-count
heuristics, segment counts — smoltable/src/table/mod.rs); this module
extends that idea to the sketch a 100 TB text pipeline actually needs:
frequent-item (heavy-hitter) discovery over token/shingle streams whose
distinct-item cardinality dwarfs executor memory.

Why not ``groupBy(token).count()`` first? Because that shuffles EVERY
distinct token — at 100 TB the token stream is trillions of rows and the
shuffle is the job. The Misra-Gries two-phase plan shuffles only
candidate tokens:

phase 1 (map-side, bounded space): each partition streams its tokens
    through a Misra-Gries summary with ``k`` counters — O(k) memory no
    matter how many tokens or distinct tokens the partition holds. MG
    guarantees every item with partition-local frequency > n_p/(k+1)
    survives the partition's summary.
phase 2 (exact verify): the per-partition survivors (≤ k rows per
    partition, a tiny fraction of the stream) are unioned, deduped, and
    broadcast back; one more map-side pass counts ONLY candidate tokens
    exactly, and a final filter keeps counts ≥ ceil(threshold · N).

Correctness (pigeonhole): if an item's global frequency is ≥ θ·N, then
in at least one partition its local frequency is ≥ θ·n_p (otherwise the
global sum would be < θ·N). With k ≥ 1/θ counters, θ·n_p > n_p/(k+1),
so the item survives that partition's MG summary and reaches phase 2.
Phase 2 counts are exact, so the final result is EXACTLY the θ-heavy
set with exact counts — the sketch only prunes the candidate space, it
never decides membership. A plain ``GROUP BY ... HAVING count >= θN``
oracle therefore pins this bit-for-bit.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.session import materialize


def _mg_add(counters: dict, tok: str, c: int, k: int) -> None:
    """Weighted Misra-Gries step: fold ``c`` occurrences of ``tok`` in,
    then restore the k-counter bound by subtracting the minimum counter
    from everything (the weighted form of MG's decrement-all; every
    subtraction removes at least one counter and charges ≤ m·(k+1) mass,
    preserving the N/(k+1) undercount bound and hence the superset
    guarantee)."""
    counters[tok] = counters.get(tok, 0) + c
    if len(counters) > k:
        m = min(counters.values())
        drop = [t for t, v in counters.items() if v <= m]
        for t in drop:
            del counters[t]
        for t in counters:
            counters[t] -= m


def mg_candidates(tokens_df: DataFrame, k: int, token_col: str = "tok") -> DataFrame:
    """Phase 1: per-partition Misra-Gries survivors, plus one NULL-token
    row per partition whose ``_n`` carries the partition row count
    (``heavy_hitters`` derives both the candidate set and the stream
    total N from this single pass).

    ``tokens_df`` is one token per row; the summary accumulates across
    all Arrow batches of a partition (mapInPandas hands the whole
    partition to one function call as a batch iterator), so memory is
    O(k) per task regardless of partition size. Each batch is first
    collapsed by ``value_counts`` (vectorized C path) so the Python loop
    touches unique tokens per batch, not raw occurrences."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            # count NON-NULL tokens only: value_counts drops None here and
            # the exact-count left_semi join never matches NULL, so N must
            # exclude them too or the ceil(θ·N) cutoff is inflated on a
            # nullable token stream (round-3 advice)
            n_part += int(pdf[token_col].notna().sum())
            for tok, c in pdf[token_col].value_counts().items():
                _mg_add(counters, tok, int(c), k)
        # one NULL-token row rides along carrying the partition's row
        # count, so heavy_hitters learns N in the SAME pass instead of
        # re-scanning the stream with a separate count()
        yield pd.DataFrame(
            {token_col: list(counters.keys()) + [None], "_n": [0] * len(counters) + [n_part]}
        )

    return tokens_df.mapInPandas(summarize, schema=f"{token_col} string, _n long")


def heavy_hitters(
    tokens_df: DataFrame,
    threshold: float,
    token_col: str = "tok",
    k: int | None = None,
) -> DataFrame:
    """EXACT θ-heavy-hitters (count ≥ ceil(θ·N)) via MG candidate pruning.

    Returns (token, cnt) with exact counts. ``k`` defaults to ceil(1/θ),
    the smallest summary that preserves the superset guarantee (see
    module docstring); pass a larger ``k`` to shrink the candidate set
    further at the cost of sketch memory.
    """
    if not (0 < threshold < 1):
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if k is None:
        k = math.ceil(1 / threshold)
    elif k < math.ceil(1 / threshold):
        raise ValueError(
            f"k={k} breaks the MG superset guarantee for threshold={threshold}"
            f" (needs k >= {math.ceil(1 / threshold)})"
        )
    # phase 1 yields candidates AND per-partition row counts in one scan;
    # the candidate list and the total both read the summary
    summary = materialize(mg_candidates(tokens_df, k=k, token_col=token_col), "bounded")
    cand = summary.filter(F.col(token_col).isNotNull()).select(token_col).distinct()
    total = summary.agg(F.sum("_n")).collect()[0][0] or 0
    cutoff = math.ceil(threshold * total)
    # broadcast semi-join: non-candidate tokens are dropped MAP-SIDE, so
    # the exact-count shuffle carries only candidate rows (≤ k × n_parts
    # distinct keys)
    return (
        tokens_df.join(F.broadcast(cand), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= cutoff)
    )


# ---------------------------------------------------------------------------
# per-group HyperLogLog (portable registers, exact-integer harmonic sum)

HLL_M = 256          # registers (2^8); standard error ~1.04/sqrt(m) ≈ 6.5%
_HLL_W_BITS = 52     # md5_long yields 60 bits; 8 index the register


def hll_registers(df, group_col: str, ident_col: str, seed: str = "hll"):
    """(g, reg, mj): the per-group HLL register table — the MERGEABLE
    form of the sketch. Registers from disjoint (or overlapping) input
    partitions merge by ``union → groupBy(g, reg).max(mj)`` and the
    merged table is IDENTICAL to the one built over the union of the
    inputs (max is associative/commutative/idempotent) — the property
    that makes HLL shippable: shard-local sketches at 100 TB, merge
    ≤ m rows per group at the coordinator. ``hll_distinct`` =
    ``hll_estimate(hll_registers(...))``."""
    from pyspark.sql import functions as F

    from smoltable_spark.functions.hashing import seeded

    h = seeded(seed, F.col(ident_col).cast("string"))
    return (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .select(
            "g",
            F.pmod(F.col("h"), F.lit(HLL_M)).alias("reg"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .select(
            "g",
            "reg",
            F.when(F.col("w") == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
                F.lit(_HLL_W_BITS + 1) - F.length(F.conv(F.col("w"), 10, 2))
            ).alias("rho"),
        )
        .groupBy("g", "reg")
        .agg(F.max("rho").alias("mj"))
    )


def hll_merge(*register_tables):
    """Merge register tables (each ``(g, reg, mj)``) into one — the
    distributed-sketch combine step: union then per-register max."""
    from functools import reduce

    from pyspark.sql import functions as F

    merged = reduce(lambda a, b: a.unionByName(b), register_tables)
    return merged.groupBy("g", "reg").agg(F.max("mj").alias("mj"))


def hll_estimate(regs, group_col: str):
    """(group, approx_distinct) from a ``(g, reg, mj)`` register table:
    grid-fill empty registers, integer harmonic sum, literal-table
    linear counting (see ``hll_distinct`` for the portability
    rationale)."""
    from pyspark.sql import functions as F

    spark = regs.sparkSession
    grid = (
        regs.select("g")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").cast("long").alias("reg")))
    )
    filled = grid.join(regs, ["g", "reg"], "left").select(
        "g", F.coalesce("mj", F.lit(0)).alias("mj")
    )
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    agg = filled.groupBy("g").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - mj AS INT))")
        ).alias("s"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("v"),
    )
    raw = F.lit(alpha * HLL_M * HLL_M) * F.lit(float(2 ** 54)) / F.col("s")
    lc = F.element_at(F.array(*[F.lit(x) for x in _LC_TABLE]), F.col("v").cast("int"))
    return agg.select(
        F.col("g").alias(group_col),
        F.when(
            (raw <= 2.5 * HLL_M) & (F.col("v") > 0), lc
        ).otherwise(raw).alias("approx_distinct"),
    )


def hll_distinct(df, group_col: str, ident_col: str, seed: str = "hll"):
    """(group, approx_distinct): mergeable HyperLogLog per group, built
    from md5-derived hashes so the whole sketch — register index, rank,
    harmonic sum, estimate — is bit-reproducible in any engine (the
    DuckDB oracle rebuilds it exactly; nothing about this is
    Spark-specific).

    Portability details, all deliberate:
    - rank = 53 − bit_length(w) via ``length(conv(w,10,2))`` ≡ DuckDB
      ``length(bin(w))`` (w = 0 → rank 53, the empty-register sentinel
      handled by the grid join);
    - the harmonic sum Σ 2^(−Mj) is computed as the INTEGER
      Σ 2^(54−Mj) ≤ 256·2⁵⁴ < 2⁶³ — float summation of mixed-magnitude
      powers would be order-sensitive past 52 bits of exponent span,
      integer summation is not;
    - the linear-counting low-range branch needs ln(), which is not
      bit-portable across libm implementations — but V (count of empty
      registers) only takes 256 possible values, so the correction
      m·ln(m/V) ships as a 256-entry LITERAL table: both engines parse
      the identical decimal literals to identical doubles, and the
      branch (raw ≤ 2.5m AND V > 0) is deterministic. Full-range
      accuracy with zero libm dependence.

    Scale: one partial-aggregated shuffle of (group, register, max-rank)
    — ≤ m rows per group survive the map side regardless of input size;
    the grid join that fills empty registers is |groups|×m.
    """
    return hll_estimate(hll_registers(df, group_col, ident_col, seed), group_col)


#: linear-counting estimates m*ln(m/V) for V = 1..m, as literals — the
#: identical decimal text is embedded in BOTH engines' queries, so both
#: parse the same nearest-double and no runtime ln() is ever taken
import math as _math

_LC_TABLE = [HLL_M * _math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_distinct_sql(table: str, group_col: str, ident_col: str, seed: str = "hll") -> str:
    """DuckDB rendering of ``hll_distinct`` — same bits, same estimate."""
    from smoltable_spark.functions.hashing import seeded_sql

    h = seeded_sql(seed, ident_col)
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    b1 = _HLL_W_BITS + 1
    return f"""
    WITH hashed AS (
        SELECT {group_col} AS g, {h} AS h FROM {table}
    ),
    regs AS (
        SELECT g, h % {HLL_M} AS reg,
               CASE WHEN h // {HLL_M} = 0 THEN {b1}
                    ELSE {b1} - length(bin(h // {HLL_M})) END AS rho
        FROM hashed
    ),
    mjs AS (SELECT g, reg, max(rho) AS mj FROM regs GROUP BY 1, 2),
    grid AS (
        -- derive the (group x register) grid from the already-aggregated
        -- register table, NOT the raw input: mjs holds every group that
        -- hashed holds, at <= m rows per group, so the oracle mirrors the
        -- Spark plan (commit 01a0422) instead of re-scanning the corpus
        -- 256-wide (round-3 advice)
        SELECT DISTINCT mjs.g, r.reg FROM mjs,
               (SELECT unnest(range({HLL_M})) AS reg) r
    ),
    filled AS (
        SELECT grid.g, coalesce(mjs.mj, 0) AS mj
        FROM grid LEFT JOIN mjs ON grid.g = mjs.g AND grid.reg = mjs.reg
    ),
    agg AS (
        SELECT g,
               sum(CAST(1 AS BIGINT) << CAST(54 - mj AS INT)) AS s,
               sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
        FROM filled GROUP BY g
    )
    SELECT g AS {group_col},
           CASE WHEN ({alpha * HLL_M * HLL_M} * {float(2 ** 54)} / s) <= {2.5 * HLL_M}
                     AND v > 0
                THEN [{", ".join(repr(x) for x in _LC_TABLE)}][CAST(v AS INT)]
                ELSE {alpha * HLL_M * HLL_M} * {float(2 ** 54)} / s
           END AS approx_distinct
    FROM agg
    """


def hll_registers_sql(src: str, group_col: str, ident_col: str, seed: str = "hll") -> str:
    """DuckDB SELECT producing the ``(g, reg, mj)`` register table over
    ``src`` (a table name or CTE) — same bits as ``hll_registers``."""
    from smoltable_spark.functions.hashing import seeded_sql

    h = seeded_sql(seed, ident_col)
    b1 = _HLL_W_BITS + 1
    return f"""SELECT g, reg, max(rho) AS mj FROM (
        SELECT g, h % {HLL_M} AS reg,
               CASE WHEN h // {HLL_M} = 0 THEN {b1}
                    ELSE {b1} - length(bin(h // {HLL_M})) END AS rho
        FROM (SELECT {group_col} AS g, {h} AS h FROM {src})
    ) GROUP BY g, reg"""


def hll_estimate_sql(regs_cte: str, group_col: str) -> str:
    """DuckDB SELECT estimating distincts from a ``(g, reg, mj)`` CTE —
    same grid-fill / integer harmonic sum / literal linear-counting
    table as ``hll_estimate``. References ``regs_cte`` twice; declare
    it MATERIALIZED in the caller."""
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    return f"""SELECT g AS {group_col},
           CASE WHEN ({alpha * HLL_M * HLL_M} * {float(2 ** 54)} / s) <= {2.5 * HLL_M}
                     AND v > 0
                THEN [{", ".join(repr(x) for x in _LC_TABLE)}][CAST(v AS INT)]
                ELSE {alpha * HLL_M * HLL_M} * {float(2 ** 54)} / s
           END AS approx_distinct
    FROM (
        SELECT g,
               sum(CAST(1 AS BIGINT) << CAST(54 - mj AS INT)) AS s,
               sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
        FROM (SELECT grid.g, coalesce(r.mj, 0) AS mj
              FROM (SELECT DISTINCT m.g, rr.reg FROM {regs_cte} m,
                    (SELECT unnest(range({HLL_M})) AS reg) rr) grid
              LEFT JOIN {regs_cte} r ON grid.g = r.g AND grid.reg = r.reg)
        GROUP BY g
    )"""


# ---------------------------------------------------------------------------
# count-min sketch (portable md5 rows, exact-integer counters)

CM_DEPTH = 4
CM_WIDTH = 1024


def cm_sketch(tokens_df, token_col: str = "tok", seed: str = "cm"):
    """(row, bucket, cnt): count-min table over a token stream — the
    point-frequency-estimate complement of the Misra-Gries top-set.

    ONE pass: each token explodes into its ``CM_DEPTH`` (row, bucket)
    coordinates map-side, and the only shuffle is the partial-aggregated
    count over ≤ depth×width distinct keys (4096 — constant, whatever
    the corpus size). All-integer and md5-addressed, so the oracle can
    rebuild the table — and therefore the ESTIMATES — exactly.
    """
    from pyspark.sql import functions as F

    from smoltable_spark.functions.hashing import seeded

    coords = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                F.pmod(seeded(f"{seed}{r}", F.col(token_col)), F.lit(CM_WIDTH)).alias(
                    "bucket"
                ),
            )
            for r in range(CM_DEPTH)
        ]
    )
    return (
        tokens_df.select(F.explode(coords).alias("c"))
        .select("c.row", "c.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(sketch_df, probes, token_col: str = "tok", seed: str = "cm"):
    """(tok, est): upper-bound frequency estimates for ``probes`` (a list
    of strings) — min over the sketch rows; absent coordinates count 0.
    The probe side is a literal table joined against the 4096-row sketch
    (broadcast-small both ways)."""
    from pyspark.sql import functions as F

    from smoltable_spark.functions.hashing import seeded

    spark = sketch_df.sparkSession
    pdf = spark.createDataFrame([(t,) for t in probes], f"{token_col} string")
    coords = pdf.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(
                            seeded(f"{seed}{r}", F.col(token_col)), F.lit(CM_WIDTH)
                        ).alias("bucket"),
                    )
                    for r in range(CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select(token_col, "c.row", "c.bucket")
    return (
        coords.join(F.broadcast(sketch_df), ["row", "bucket"], "left")
        .select(token_col, F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .groupBy(token_col)
        .agg(F.min("cnt").alias("est"))
    )


def cm_sql(table_toks_cte: str, probes, token_col: str = "tok", seed: str = "cm") -> str:
    """DuckDB rendering: rebuild the sketch from ``toks`` (a CTE named in
    ``table_toks_cte`` yielding one ``tok`` per row) and estimate the
    same probes — bit-identical to the Spark path."""
    from smoltable_spark.functions.hashing import md5_long_sql

    def h(r, expr):
        inner = md5_long_sql("concat('" + seed + str(r) + "|', " + expr + ")")
        return f"(({inner}) % {CM_WIDTH})"

    rows_build = " UNION ALL ".join(
        f"SELECT {r} AS row, {h(r, token_col)} AS bucket FROM {table_toks_cte}"
        for r in range(CM_DEPTH)
    )
    probe_vals = ", ".join(f"('{p}')" for p in probes)
    rows_probe = " UNION ALL ".join(
        f"SELECT {token_col}, {r} AS row, {h(r, token_col)} AS bucket FROM probes"
        for r in range(CM_DEPTH)
    )
    return f"""
    sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM ({rows_build}) GROUP BY 1, 2),
    probes AS (SELECT * FROM (VALUES {probe_vals}) AS t({token_col})),
    pc AS ({rows_probe}),
    joined AS (
        SELECT pc.{token_col}, coalesce(sk.cnt, 0) AS cnt
        FROM pc LEFT JOIN sk ON pc.row = sk.row AND pc.bucket = sk.bucket
    )
    """
