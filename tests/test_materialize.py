"""The one materialization policy (``session.materialize``).

- Static guard: no module under ``smoltable_spark/`` calls
  ``localCheckpoint``, ``checkpoint``, ``persist``, ``cache``,
  ``unpersist`` or ``setCheckpointDir`` except ``session.materialize``.
- ``scale="corpus"`` is a reliable checkpoint that truncates the plan.
- A checkpoint dir the caller set first is kept, and the checkpoint
  files land under it.

The same static style guards the store's one-listing rule: no module
other than ``sources/store.py`` resolves or probes a store's leg dirs
(``_version_dir``, ``_fs.isdir``); they read the store's listing.
"""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "smoltable_spark"
)

_MATERIALIZING = {
    "localCheckpoint", "checkpoint", "persist", "cache", "unpersist",
    "setCheckpointDir",
}


def _modules():
    """(path relative to the package, parsed module) per package file."""
    for root, _dirs, files in os.walk(PKG_DIR):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                yield os.path.relpath(path, PKG_DIR), ast.parse(open(path, "rb").read())


def _materializing_calls() -> list[tuple[str, str, int, str]]:
    found = []
    for rel, tree in _modules():

        def walk(node, fn):
            for ch in ast.iter_child_nodes(node):
                inner = fn
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner = ch.name if fn == "<module>" else f"{fn}.{ch.name}"
                if (
                    isinstance(ch, ast.Call)
                    and isinstance(ch.func, ast.Attribute)
                    and ch.func.attr in _MATERIALIZING
                ):
                    found.append((rel, fn, ch.lineno, ch.func.attr))
                walk(ch, inner)

        walk(tree, "<module>")
    return found


def _store_probe_calls() -> list[tuple[str, int, str]]:
    """``<x>._version_dir(...)`` and ``<x>._fs.isdir(...)`` calls on a
    store outside ``sources/store.py``: on any receiver but ``self``, and
    on ``self`` too inside a ``CellStore`` subclass."""
    found = []
    for rel, tree in _modules():
        if rel == os.path.join("sources", "store.py"):
            continue

        def walk(node, in_store):
            for ch in ast.iter_child_nodes(node):
                inner = in_store
                if isinstance(ch, ast.ClassDef):
                    inner = any(
                        ast.unparse(b).endswith("CellStore") for b in ch.bases
                    )
                if isinstance(ch, ast.Call) and isinstance(ch.func, ast.Attribute):
                    recv, target = ch.func.value, None
                    if ch.func.attr == "_version_dir":
                        target = recv
                    elif (
                        ch.func.attr == "isdir"
                        and isinstance(recv, ast.Attribute)
                        and recv.attr == "_fs"
                    ):
                        target = recv.value
                    if target is not None and (
                        in_store or ast.unparse(target) != "self"
                    ):
                        found.append((rel, ch.lineno, ast.unparse(ch.func)))
                walk(ch, inner)

        walk(tree, False)
    return found


def test_materialize_is_the_only_materialization_site():
    stray = [
        c for c in _materializing_calls() if (c[0], c[1]) != ("session.py", "materialize")
    ]
    assert not stray, (
        "route these through smoltable_spark.session.materialize(df, scale): "
        f"{stray}"
    )


def test_only_the_store_resolves_leg_dirs():
    stray = _store_probe_calls()
    assert not stray, (
        "read leg-dir existence and names from the store's listing "
        f"(CellStore._leg_dirs after current_version()): {stray}"
    )


def test_materialize_corpus_reliable_checkpoint(spark):
    from smoltable_spark.session import materialize

    a = materialize(spark.range(100).withColumn("x", F.col("id") * 2), "corpus")
    # a RELIABLE checkpoint (shared-storage dir, survives executor
    # loss), not a localCheckpoint: the context's checkpoint dir is set
    assert spark.sparkContext.getCheckpointDir() is not None
    # and the plan is TRUNCATED — downstream consumers re-analyze an
    # RDD scan, not the whole upstream pipeline per action
    assert "LogicalRDD" in a._jdf.queryExecution().optimizedPlan().toString()
    assert a.count() == 100
    assert a.filter(F.col("x") >= 100).count() == 50
    # the session reclaims checkpoints of GC'd frames in long sessions
    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )


def test_corpus_keeps_a_preset_checkpoint_dir(spark, tmp_path):
    from smoltable_spark.session import materialize

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    shared = tmp_path / "shared_ckpt"
    sc.setCheckpointDir(str(shared))
    preset = sc.getCheckpointDir()
    try:
        a = materialize(spark.range(40).withColumn("y", F.col("id") + 1), "corpus")
        assert sc.getCheckpointDir() == preset
        written = [
            os.path.join(d, f) for d, _, fs in os.walk(shared) for f in fs
            if f.startswith("part-")
        ]
        assert written, f"no checkpoint files under {shared}"
        assert a.agg(F.sum("y")).collect()[0][0] == sum(range(1, 41))
    finally:
        if prev is not None:
            sc.setCheckpointDir(prev)


def test_scratch_checkpoint_dir_removed_at_exit(tmp_path):
    """Spark keeps reliable checkpoint files when its context stops; the
    scratch dir ``materialize`` created goes away with the process."""
    import subprocess
    import sys

    script = (
        "from smoltable_spark.session import get_spark, materialize\n"
        "spark = get_spark('ckpt_exit', cpus=1, shuffle_partitions=1)\n"
        "materialize(spark.range(10), 'corpus').count()\n"
        "print(spark.sparkContext.getCheckpointDir())\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(PKG_DIR)
    env = {**os.environ, "SPARK_GRAFT_SCRATCH": str(tmp_path),
           "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    ckpt = out.strip().splitlines()[-1]
    assert ckpt.startswith(("file:" + str(tmp_path), str(tmp_path))), ckpt
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("smoltable_ckpt_")]
