"""The bench's one timed run (``bench.time_query``) and the guard that
keeps it the only one: every timed run of a catalog query rebuilds the
query, writes it through the noop sink and leaves Spark's cache
manager empty, so no timed run reads a cache that an earlier run
built. A hand-kept list of the queries that need a rebuild drifted
(a query that persisted lazily but was not listed was timed as cache
reads); the rule now holds for every query by construction."""

from __future__ import annotations

import ast
import pathlib

import pytest

import bench

_REPO = pathlib.Path(__file__).resolve().parent.parent
_SOURCES = [_REPO / "bench.py", *sorted((_REPO / "scripts").glob("*.py"))]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name", ["q176_triangle_participation", "q237_hitrate_eval"]
)
def test_time_query_rebuilds_and_clears_the_cache(spark, sf_dir, monkeypatch, name):
    """Both queries persist frames while they build. Each run calls
    the catalog builder exactly once, and the cache manager is empty
    after every run."""
    builder = bench.QUERIES[name]
    built = []

    def counting(spark_, sf_dir_):
        df = builder(spark_, sf_dir_)
        built.append(_cache_empty(spark_))
        return df

    monkeypatch.setitem(bench.QUERIES, name, counting)
    for run in (1, 2):
        build_s, exec_s = bench.time_query(spark, name, sf_dir)
        assert len(built) == run
        assert build_s >= 0 and exec_s > 0
        assert _cache_empty(spark)
    # the runs did cache something: the clearing is what emptied it
    assert built == [False, False]


def _enclosing_functions(tree: ast.AST) -> dict[int, str]:
    """id(node) -> the name of the top-level function holding it."""
    owner = {}
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    return owner


def _noop_formats(path: pathlib.Path) -> list[tuple[str, str | None, int]]:
    tree = ast.parse(path.read_text())
    owner = _enclosing_functions(tree)
    return [
        (path.name, owner.get(id(node)), node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and any(
            isinstance(a, ast.Constant) and a.value == "noop" for a in node.args
        )
    ]


def test_time_query_is_the_only_noop_timing_site():
    """``format("noop")`` appears in ``bench.py`` and ``scripts/*.py``
    only inside ``bench.time_query``: a script that times a catalog
    query calls it instead of keeping its own loop."""
    sites = [s for p in _SOURCES for s in _noop_formats(p)]
    assert [s[:2] for s in sites] == [("bench.py", "time_query")], sites


def test_bench_keeps_no_per_query_lists_beyond_its_query_set():
    """The query-name lists ``bench.py`` keeps at module level are the
    benched set and its round-1 subset, nothing that sorts queries by
    how they must be timed; and every ``bench.<name>`` a script reads
    is one ``bench.py`` defines, so no script leans on a deleted one."""
    tree = ast.parse((_REPO / "bench.py").read_text())
    lists = {
        t.id
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, (ast.List, ast.Set, ast.Tuple, ast.Dict))
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    assert lists == {"HEADLINE", "R1_SUBSET"}

    def bench_names(node: ast.AST) -> list[str]:
        if isinstance(node, ast.ImportFrom) and node.module == "bench":
            return [a.name for a in node.names]
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "bench"
        ):
            return [node.attr]
        return []

    used = {
        (p.name, n)
        for p in _SOURCES[1:]
        for node in ast.walk(ast.parse(p.read_text()))
        for n in bench_names(node)
    }
    assert ("scale100x.py", "time_query") in used
    stray = sorted((f, n) for f, n in used if not hasattr(bench, n))
    assert not stray, stray
