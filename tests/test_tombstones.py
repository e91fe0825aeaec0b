"""The shared erasure queue (``operators/tombstones.py``) on plain
files, without Spark: the one-listing ``pending`` view, and a guard
that keeps the queue's layout in that one module."""

from __future__ import annotations

import ast
import os
import pathlib
import re

from datapipe_spark.operators import journal, tombstones


def test_pending_lists_only_queued_parquet_files(tmp_path):
    d = str(tmp_path / "store")
    assert tombstones.pending(d) == []  # no store yet
    os.makedirs(f"{d}/tombstones")
    for name in ("b-part-0.parquet", "a-part-0.parquet", "_SUCCESS", ".x.crc"):
        open(f"{d}/tombstones/{name}", "w").close()
    assert tombstones.pending(d) == [
        f"{d}/tombstones/a-part-0.parquet",
        f"{d}/tombstones/b-part-0.parquet",
    ]


def _string_literals(tree: ast.AST) -> list[str]:
    """Every string constant in a module except docstrings."""
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
    ]


def test_queue_layout_lives_only_in_tombstones_module():
    """The ``tombstones`` directory name is spelled only in
    ``operators/tombstones.py`` (and in ``journal.reset``, which clears
    the queue on a rebuild): a store that needs the erasure queue calls
    that module rather than carrying another copy of its listing, fold
    or gate."""
    pkg = pathlib.Path(journal.__file__).resolve().parents[1]
    owners = {
        pathlib.Path(m.__file__).resolve() for m in (journal, tombstones)
    }
    layout = re.compile(r"(^|/)tombstones(/|$)")
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.resolve() not in owners
        and any(layout.search(s) for s in _string_literals(ast.parse(p.read_text())))
    ]
    assert offenders == []
