"""``registry_heavy``: three registry queries from
``__spark_entry__.queries()``, each timed as the query call (build,
including every eager job the query runs while building) plus a count of
the returned frame (execution).

Two build-bound queries the roadmap names as open performance targets
(graph motifs; streaming near-duplicate admission, which also reaches
``functions/``) and one control dominated by execution (TPC-H Q21). A
phase
runs whole passes over them until ``--seconds`` have passed. The first
pass is the first time the session runs these query shapes, so it
includes the JVM's first-use costs, as a fresh batch session does.
Results are compared with DuckDB on each query's ``oracle_sql()`` using
``tools/check_oracle.row_multiset``.
"""

from __future__ import annotations

import time

from perfbench.common import Context, Phase, Timer, repeated_setup

QUERIES = (
    "rel_triangle_count",
    "dedup_stream_admit",
    "rel_tpch_q21",
)


class RegistryHeavy:
    def __init__(self, ctx: Context, data_dir: str):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.data_dir = data_dir
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {q: queries[q] for q in QUERIES}
        self.oracles = {q: oracles[q] for q in QUERIES}

    def _read_inputs(self, _i: int) -> None:
        """Open and count every input table."""
        from tools.check_oracle import TABLES

        for t in TABLES:
            self.ctx.spark.read.parquet(f"{self.data_dir}/{t}.parquet").count()

    def setup(self) -> float:
        median_s, self.setup_samples, _ = repeated_setup(self._read_inputs)
        return median_s

    def _run_query(self, phase: Phase, name: str):
        tracer = self.ctx.tracer
        timer = Timer(tracer)
        with phase.op(name, tracer) as op:
            with timer.build(op, layer="registry"):
                df = self.queries[name](self.ctx.spark, self.data_dir)
            counted = df.groupBy().count()
            with timer.exec(op, layer="registry"):
                counted.collect()
            op.df = counted
        if op.ok:
            # collected after the clock stopped: the rows are for the check
            with tracer.span("check"):
                op.expect = (df.columns, [tuple(r) for r in df.collect()])
        return op

    def measure(self, seconds: float, salt: str) -> Phase:
        phase = Phase()
        start = time.perf_counter()
        while not phase.ops or time.perf_counter() - start < seconds:
            for name in QUERIES:
                self._run_query(phase, name)
        self.check(phase)
        return phase

    def check(self, phase: Phase) -> None:
        import duckdb

        from tools.check_oracle import TABLES, row_multiset

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            want, want_cols = {}, {}
            for op in phase.ops:
                if not op.ok:
                    continue
                if op.kind not in want:
                    rel = con.sql(self.oracles[op.kind])
                    want[op.kind] = row_multiset(rel.fetchall(), rel.columns)
                    want_cols[op.kind] = rel.columns
                cols, rows = op.expect
                same = (sorted(cols) == sorted(want_cols[op.kind])
                        and row_multiset(rows, cols) == want[op.kind])
                phase.check(op.kind, None if same else "result differs from the DuckDB oracle")
                op.expect = None
        finally:
            con.close()
