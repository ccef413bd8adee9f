"""The ``.tmp/`` layout (distributed_query_engine_spark/staging.py): one
generation per source fingerprint whatever the sf_dir's spelling,
bucketed tables registered instead of rewritten, and every dir handed out
for an sf_dir purgeable by its key."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pytest

from tests.conftest import REPO, SF_UNIT
from distributed_query_engine_spark import staging
from distributed_query_engine_spark.catalog import staging_key
from distributed_query_engine_spark.operators import sparse as SP
from distributed_query_engine_spark.plans.analytic import _bucketed_tables
from distributed_query_engine_spark.registry import all_queries
from distributed_query_engine_spark.streaming import ops

_TABLES = ("documents", "lineitem", "orders", "embeddings", "events")


@pytest.fixture
def sf_copy(tmp_path) -> Path:
    src = tmp_path / "sf"
    src.mkdir()
    for t in _TABLES:
        shutil.copy(f"{SF_UNIT}/{t}.parquet", src / f"{t}.parquet")
    return src


def _generations(kind: str, sf: str) -> list[Path]:
    return sorted((staging.TMP / kind).glob(f"{staging.key(sf)}_*"))


def _bm25(spark, sf):
    SP.build_bm25_index(spark, spark.read.parquet(f"{sf}/documents.parquet"), sf)


def _ivf(spark, sf):
    all_queries()["llm_similarity_ivf_index"](spark, sf)


@pytest.mark.parametrize(
    "kind,build",
    [("bm25_index", _bm25), ("bucketed", _bucketed_tables), ("ivf_index", _ivf)],
    ids=["bm25", "bucketed", "ann"],
)
def test_relative_and_absolute_sf_dir_share_one_generation(
    spark, sf_copy, kind, build
):
    """A relative and an absolute spelling of one sf_dir must find the
    same generation: an unresolved fingerprint gave each spelling its own
    generation, and each build swept the other's (dropping its tables)."""
    absolute = str(sf_copy)
    relative = os.path.relpath(absolute)
    assert not os.path.isabs(relative)
    build(spark, absolute)
    (gen,) = _generations(kind, absolute)
    marker = (gen / staging.MARKER).stat().st_mtime_ns
    build(spark, relative)
    build(spark, absolute)
    assert _generations(kind, relative) == [gen]
    assert (gen / staging.MARKER).stat().st_mtime_ns == marker  # never rebuilt


def test_bucketed_tables_register_without_rewrite_in_a_new_process(spark, sf_dir):
    """The catalog is per-process, so a new process finds the published
    bucketed generation but no ``bkt_*`` table. It must register the
    tables over the existing files, never rewrite files a concurrent
    process may be scanning."""
    join = all_queries()["join_bucketed_colocated"]
    rows = sorted(map(tuple, join(spark, sf_dir).collect()))
    (gen,) = _generations("bucketed", sf_dir)

    def stamps():
        return {f: f.stat().st_mtime_ns for f in gen.rglob("*") if f.is_file()}

    before = stamps()
    for t in spark.catalog.listTables():
        if t.name.startswith("bkt_"):
            spark.sql(f"DROP TABLE {t.name}")  # as a new process's catalog
    assert sorted(map(tuple, join(spark, sf_dir).collect())) == rows
    assert stamps() == before
    for name, col in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED bkt_{name}_{gen.name}"
            ).collect()
        }
        assert desc["Num Buckets"] == "8"
        assert desc["Bucket Columns"] == f"[`{col}`]"


# staging function -> (position, name) of the argument naming the dir
_STAGING_NAME_ARG = {"generation": (0, "kind"), "run_dir": (0, "parent"), "artifact_dir": (1, "name")}


def _staged_names(sources: dict[str, str]) -> tuple[dict[str, set[str]], list[str]]:
    """Every generation kind, run-dir parent and artifact name the code in
    ``sources`` (file name -> Python source) hands ``staging``, found
    from its syntax: a string literal at a ``staging.<fn>`` call, or a
    string constant assigned in the calling function or module, or a
    parameter of an enclosing function — which makes that function a
    forwarder whose own call sites are searched the same way, to a fixed
    point. Returns the names per staging function and the
    ``file:line`` of every call whose name argument none of these
    resolves (an attribute, a call, an f-string...)."""
    trees = {f: ast.parse(src) for f, src in sources.items()}
    # callee name -> (staging function, argument position, parameter name)
    sinks = {f"staging.{fn}": (fn, *arg) for fn, arg in _STAGING_NAME_ARG.items()}
    found: dict[str, set[str]] = {fn: set() for fn in _STAGING_NAME_ARG}
    unresolved: set[str] = set()

    def callee(call: ast.Call) -> str | None:
        f = call.func
        if isinstance(f, ast.Attribute):
            if isinstance(f.value, ast.Name) and f.value.id == "staging":
                return f"staging.{f.attr}"
            return f.attr
        return f.id if isinstance(f, ast.Name) else None

    def constants(scope: ast.AST, name: str) -> set[str] | None:
        vals = [
            n.value
            for n in ast.walk(scope)
            if isinstance(n, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == name for t in n.targets)
        ]
        if vals and all(isinstance(v, ast.Constant) and isinstance(v.value, str) for v in vals):
            return {v.value for v in vals}
        return None

    def visit(node: ast.AST, stack: list, where: str, tree: ast.Module) -> bool:
        grew = False
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack = [*stack, node]
        if isinstance(node, ast.Call) and callee(node) in sinks:
            fn, pos, kw = sinks[callee(node)]
            arg = next((k.value for k in node.keywords if k.arg == kw), None)
            if arg is None and pos < len(node.args):
                arg = node.args[pos]
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                found[fn].add(arg.value)
            elif isinstance(arg, ast.Name):
                for scope in reversed(stack):
                    params = [a.arg for a in scope.args.posonlyargs + scope.args.args]
                    if arg.id in params:
                        if scope.name not in sinks:
                            sinks[scope.name] = (fn, params.index(arg.id), arg.id)
                            grew = True
                        break
                else:
                    vals = constants(stack[-1] if stack else tree, arg.id)
                    if vals is None and stack:
                        vals = constants(tree, arg.id)
                    if vals is None:
                        unresolved.add(f"{where}:{node.lineno}")
                    else:
                        found[fn] |= vals
            elif arg is not None:
                unresolved.add(f"{where}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            grew |= visit(child, stack, where, tree)
        return grew

    while any([visit(t, [], f, t) for f, t in trees.items()]):
        pass
    return found, sorted(unresolved)


def test_staged_names_follow_parameters_and_constants():
    """The name search sees a dir name passed through a parameter (by
    position, by keyword, into a closure) or a named constant, and
    reports the call it cannot resolve instead of dropping it."""
    src = """
from distributed_query_engine_spark import staging
PARENT = "const_parent"
def _helper(sf_dir, parent):
    return staging.run_dir(parent, staging.key(sf_dir))
def _outer(kind):
    def build():
        return staging.generation(kind, "sf", ())
    return build
def use(sf_dir, obj):
    _helper(sf_dir, "via_param")
    _helper(sf_dir, parent="via_keyword")
    _outer("via_closure")
    staging.run_dir(PARENT, "k")
    name = "local_const"
    staging.artifact_dir(sf_dir, name)
    staging.artifact_dir(sf_dir, obj.name)
"""
    found, unresolved = _staged_names({"m.py": src})
    assert found == {
        "run_dir": {"via_param", "via_keyword", "const_parent"},
        "generation": {"via_closure"},
        "artifact_dir": {"local_const"},
    }
    assert unresolved == ["m.py:17"]


def test_purge_derived_state_removes_every_dir_for_the_key(spark, sf_copy):
    """The benchmark starts every run cold by deleting, under ``.tmp/``,
    each dir at depth 1 or 2 whose name holds the sf_dir's staging key.
    Every artifact kind and run-dir parent must follow that rule."""
    from perfbench.run import purge_derived_state

    sf = str(sf_copy)
    k = staging.key(sf)
    ops._stage_dir(sf)
    ops._stage_sliced(spark, sf, 2)
    _bm25(spark, sf)
    _bucketed_tables(spark, sf)
    pkg = REPO / "distributed_query_engine_spark"
    found, unresolved = _staged_names(
        {str(f.relative_to(REPO)): f.read_text() for f in pkg.rglob("*.py")}
    )
    assert unresolved == []
    kinds, parents, names = (
        found[fn] for fn in ("generation", "run_dir", "artifact_dir")
    )
    built = {"stream_src", "stream_src_sliced", "bm25_index", "bucketed"}
    assert built | {"ivf_index", "graph_index_prod", "sig_store"} <= kinds
    assert {"checkpoints", "graph_index_prod_cpt", "sig_store_stream"} <= parents
    assert "nation_csv" in names
    for kind in kinds - built:
        staging.publish(staging.generation(kind, sf, ("events",)), Path.mkdir)
    for parent in parents:
        staging.run_dir(parent, k).mkdir(parents=True)
        staging.run_dir(parent, f"run-{k}").mkdir(parents=True)
    for name in names:
        Path(staging.artifact_dir(sf, name)).mkdir()

    purge_derived_state(sf_copy)

    keys = (k, staging_key(sf))
    left = []
    for root, dirs, files in os.walk(staging.TMP):
        depth = len(Path(root).relative_to(staging.TMP).parts)
        left += [
            Path(root) / n for n in dirs + files if any(x in n for x in keys)
        ]
        if depth >= 2:
            dirs.clear()
    assert left == []
