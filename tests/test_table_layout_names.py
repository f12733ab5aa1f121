"""Guard the table format's on-disk layout: only
``operators/table_format.py`` may spell the names of a table's
pointer, manifest directory, props and claim files. Any other module
that reaches for them bypasses the format's API (``fl_current_version``
raises ``FileNotFoundError`` on an uninitialized table; ``fl_manifest``
/ ``fl_table_props`` read a version) and breaks the day the layout
changes. Docstrings may describe the layout; code may not use it."""

from __future__ import annotations

import ast
import pathlib

_PKG = pathlib.Path(__file__).resolve().parent.parent / "citybikedatawarehouse_spark"
_OWNER = "operators/table_format.py"
_LAYOUT_NAMES = ("_MANIFEST", "_manifests", ".props.json", ".claim")


def _docstring_nodes(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _layout_constants(path: pathlib.Path) -> list[tuple[int, str]]:
    tree = ast.parse(path.read_text())
    docs = _docstring_nodes(tree)
    return [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
        and any(name in node.value for name in _LAYOUT_NAMES)
    ]


def test_only_table_format_spells_the_table_layout():
    stray = {}
    for path in sorted(_PKG.rglob("*.py")):
        rel = str(path.relative_to(_PKG))
        if rel == _OWNER:
            continue
        hits = _layout_constants(path)
        if hits:
            stray[rel] = hits
    assert not stray, f"table layout names outside {_OWNER}: {stray}"
    # the scan must actually see the names where they belong
    assert _layout_constants(_PKG / _OWNER)


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def test_table_format_has_one_commit_path_and_one_file_write():
    """Inside ``table_format.py`` every commit publishes through
    ``_commit`` (the only caller of ``manifest_commit_cas``) and every
    data-file write lays its files out through ``_write_files`` (the
    only caller of ``_apply_layout``). The props file name is spelled
    once, in ``_props_file``, which only ``_commit`` writes through
    and only ``fl_table_props`` reads through — a second commit
    protocol has to break one of these."""
    tree = ast.parse((_PKG / _OWNER).read_text())
    docs = _docstring_nodes(tree)
    fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def callers(name: str) -> list[str]:
        return sorted(
            fn
            for fn, node in fns.items()
            if any(
                isinstance(c, ast.Call) and _callee(c) == name
                for c in ast.walk(node)
            )
        )

    def props_spellings(node: ast.AST) -> set[int]:
        return {
            id(c)
            for c in ast.walk(node)
            if isinstance(c, ast.Constant)
            and isinstance(c.value, str)
            and id(c) not in docs
            and ".props.json" in c.value
        }

    assert callers("manifest_commit_cas") == ["_commit"]
    assert callers("_apply_layout") == ["_write_files"]
    assert callers("_props_file") == ["_commit", "fl_table_props"]
    assert props_spellings(tree) == props_spellings(fns["_props_file"])
    assert props_spellings(tree)


def _attr_chain(node: ast.AST) -> list[str]:
    """The attribute names along a call chain, outermost first:
    ``spark.read.schema(s).parquet(p)`` -> parquet, schema, read."""
    attrs = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            attrs.append(node.attr)
            node = node.value
    return attrs


def test_table_format_reads_parquet_with_a_declared_schema():
    """Every ``spark.read ... .parquet(`` in ``table_format.py``
    declares ``.schema(...)``: an inferred Parquet schema costs one
    Spark job per read, and the table's metadata already holds the
    schema. The one exception is ``zone_map_stats``, the commit-time
    scan fallback over a plain directory, which has no table props."""
    tree = ast.parse((_PKG / _OWNER).read_text())
    declared, inferred = [], []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for c in ast.walk(fn):
            if not isinstance(c, ast.Call):
                continue
            chain = _attr_chain(c)
            if chain[:1] == ["parquet"] and "read" in chain:
                (declared if "schema" in chain else inferred).append(fn.name)
    assert inferred == ["zone_map_stats"]
    # the scan must actually see the declared reads
    assert {"_read_files", "_delete_keys_df"} <= set(declared)


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def test_only_table_format_replaces_live_directories():
    """A live table or state directory is replaced only by a commit of
    ``operators/table_format.py`` (claim, write new files, flip one
    pointer), which a crash cannot tear. No other package module
    renames or deletes: no ``os.rename``, no Hadoop
    ``FileSystem.rename``/``delete``, and ``shutil.rmtree`` only as the
    interpreter-exit cleanup ``_scratch_dir`` registers for query
    scratch space. ``os.replace`` of a single file stays allowed in
    ``changes_feed`` (the consumer cursor)."""
    moves, rmtrees, registered, replaces = [], [], [], []
    for path in sorted(_PKG.rglob("*.py")):
        rel = str(path.relative_to(_PKG))
        if rel == _OWNER:
            continue
        for top in ast.parse(path.read_text()).body:
            where = (rel, getattr(top, "name", None))
            for node in ast.walk(top):
                if _name(node) == "rmtree":
                    rmtrees.append(where)
                if not isinstance(node, ast.Call):
                    continue
                if _callee(node) in ("rename", "delete"):
                    moves.append((*where, node.lineno))
                if _callee(node) == "register" and any(
                    _name(a) == "rmtree" for a in node.args
                ):
                    registered.append(where)
                if _name(getattr(node.func, "value", None)) == "os" and (
                    _callee(node) == "replace"
                ):
                    replaces.append(rel)
    assert not moves, f"rename/delete outside {_OWNER}: {moves}"
    assert rmtrees == registered == [("plans/warehouse_ops.py", "_scratch_dir")]
    assert replaces == ["streaming/changes_feed.py"]
