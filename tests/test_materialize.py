"""The one materialization policy (``session.materialize``).

- Static guard: no module under ``smoltable_spark/`` calls
  ``localCheckpoint``, ``checkpoint``, ``persist``, ``cache``,
  ``unpersist`` or ``setCheckpointDir`` except ``session.materialize``.
- ``scale="corpus"`` is a reliable checkpoint that truncates the plan.
- A checkpoint dir the caller set first is kept, and the checkpoint
  files land under it.

The same static style guards the store's one-listing rule: no module
other than ``sources/store.py`` resolves or probes a store's leg dirs
(``_version_dir``, ``_fs.isdir``); they read the store's listing. It
also guards the one build-once rule for registry fixtures: outside
``queries_util.py`` no module keeps a module-level cache dict or makes
or cleans up temp dirs itself (``queries_util.build_once`` and
``queries_util.scratch_dir`` do). And it guards the one commit form: no
module other than ``sources/store_fs.py`` reads the adapter's
``atomic_rename`` capability or passes ``swap=``, so no commit path
forks on the filesystem.
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


_TEMP_CALLS = {"tempfile.gettempdir", "tempfile.mkdtemp", "atexit.register"}
_DICT_READS = {"get", "setdefault", "pop"}


def _is_empty_dict(node) -> bool:
    return (isinstance(node, ast.Dict) and not node.keys) or (
        isinstance(node, ast.Call)
        and ast.unparse(node.func) == "dict"
        and not node.args
        and not node.keywords
    )


def _fixture_strays() -> list[tuple[str, int, str]]:
    """Outside ``queries_util.py``: module-level empty dicts that a
    function of the same module reads back (a cache, as opposed to a
    registry the module only fills), and calls that make or clean up
    temp dirs (``_TEMP_CALLS``, import aliases resolved)."""
    found = []
    for rel, tree in _modules():
        if rel == "queries_util.py":
            continue
        dicts = {}
        for node in tree.body:
            if isinstance(node, ast.Assign) and _is_empty_dict(node.value):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None and (
                _is_empty_dict(node.value)
            ):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name):
                    dicts[t.id] = node.lineno
        aliases = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    aliases[a.asname or a.name] = a.name
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        read = set()
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Subscript)
                    and isinstance(node.ctx, ast.Load)
                    and isinstance(node.value, ast.Name)
                ):
                    read.add(node.value.id)
                elif isinstance(node, ast.Compare) and isinstance(
                    node.ops[0], (ast.In, ast.NotIn)
                ) and isinstance(node.comparators[0], ast.Name):
                    read.add(node.comparators[0].id)
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _DICT_READS
                    and isinstance(node.func.value, ast.Name)
                ):
                    read.add(node.func.value.id)
        found += [(rel, dicts[n], f"cache dict {n}") for n in sorted(dicts) if n in read]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                name = aliases.get(f.id, f.id)
            elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                name = f"{aliases.get(f.value.id, f.value.id)}.{f.attr}"
            else:
                continue
            if name in _TEMP_CALLS:
                found.append((rel, node.lineno, name))
    return found


def _commit_fork_sites() -> list[tuple[str, int, str]]:
    """Reads of ``<x>.atomic_rename`` (``getattr(<x>, "atomic_rename",
    ...)`` included) and ``swap=`` keyword arguments outside
    ``sources/store_fs.py``. A class body that sets ``atomic_rename``
    (a capability-profile double) does not read it."""
    found = []
    for rel, tree in _modules():
        if rel == os.path.join("sources", "store_fs.py"):
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "atomic_rename"
                and isinstance(node.ctx, ast.Load)
            ) or (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "getattr"
                and len(node.args) >= 2
                and isinstance(node.args[1], ast.Constant)
                and node.args[1].value == "atomic_rename"
            ):
                found.append((rel, node.lineno, ast.unparse(node)))
            if isinstance(node, ast.Call):
                found += [
                    (rel, node.lineno, f"swap={ast.unparse(kw.value)}")
                    for kw in node.keywords
                    if kw.arg == "swap"
                ]
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


def test_fixtures_build_once_in_scratch():
    stray = _fixture_strays()
    assert not stray, (
        "keep registry fixtures with queries_util.build_once and their "
        f"files in queries_util.scratch_dir: {stray}"
    )


def test_commits_do_not_fork_on_the_filesystem():
    stray = _commit_fork_sites()
    assert not stray, (
        "commit through store_fs.GenerationPointer, which commits the same "
        f"way on every filesystem: {stray}"
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


def test_scratch_checkpoint_dir_removed_at_exit(spark, sf_dir, tmp_path):
    """One process, two sessions, clean exit. Spark keeps reliable
    checkpoint files when its context stops, and registry fixtures leave
    their stores and indexes behind; all of it lives in the process's
    scratch root, which goes away with the process. A second session in
    the same process builds its own fixtures (a fixture bound to the
    stopped context fails), and a store left in the temp dir by an older
    run is never read."""
    import json
    import re
    import subprocess
    import sys

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.relational import load_table
    from smoltable_spark.sources.store import CellStore
    from smoltable_spark.sources.writer import rows_to_cells

    tmpdir, scratch = tmp_path / "tmp", tmp_path / "scratch"
    tmpdir.mkdir()
    # a one-cell orders store where earlier revisions kept theirs
    planted = tmpdir / ("smoltable_store_" + re.sub(r"\W", "_", sf_dir))
    store = CellStore(spark, str(planted))
    store.save_families([ColumnFamilyDef("o", lg="lg_orders")])
    store.write(rows_to_cells(spark, [{"row_key": "order#000000000120", "cells": [
        {"column_key": "o:totalprice", "value": {"f64": -1.0}, "timestamp": 1}]}]))

    script = (
        "import json, sys\n"
        "from smoltable_spark.queries_analytics import rel_events_day_prune\n"
        "from smoltable_spark.queries_core import wc_store_scan_prefix\n"
        "from smoltable_spark.session import get_spark, materialize\n"
        "sf, out = sys.argv[1], {}\n"
        "for label in ('a', 'b'):\n"
        "    spark = get_spark('two_sessions', cpus=1, shuffle_partitions=1)\n"
        "    materialize(spark.range(10), 'corpus').count()\n"
        "    out['ckpt_' + label] = spark.sparkContext.getCheckpointDir()\n"
        "    out[label] = [sorted(map(repr, q(spark, sf).collect()))\n"
        "                  for q in (wc_store_scan_prefix, rel_events_day_prune)]\n"
        "    spark.stop()\n"
        "print(json.dumps(out))\n"
    )
    repo = os.path.dirname(PKG_DIR)
    env = {**os.environ, "SPARK_GRAFT_SCRATCH": str(scratch),
           "TMPDIR": str(tmpdir), "PYTHONPATH": repo}
    out = json.loads(subprocess.run(
        [sys.executable, "-c", script, sf_dir], cwd=repo, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()[-1])
    assert out["a"] == out["b"]
    scan, day_prune = out["a"]
    n_orders = load_table(spark, sf_dir, "orders").filter(
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").startswith("00000000012")
    ).count()
    assert len(scan) == n_orders > 1, scan
    assert day_prune
    for label in ("a", "b"):
        ckpt = out["ckpt_" + label]
        assert ckpt.startswith(("file:" + str(scratch), str(scratch))), ckpt
    leftover = [p for p in tmp_path.rglob("smoltable_*") if p != planted]
    assert not leftover, leftover
