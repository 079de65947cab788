"""The one commit protocol: LakeTable._commit is the only generation
publisher, durable.replace_file the only atomic small-file write, and no
module but sinks/merge.py keeps a generation pointer of its own."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from mysql_to_clickhouse_sync_spark.durable import replace_file

PACKAGE = Path(__file__).resolve().parent.parent / "mysql_to_clickhouse_sync_spark"


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text())


def _docstrings(tree) -> set[int]:
    """ids of the docstring nodes of a module and its classes/functions."""
    out = set()
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
                out.add(id(body[0].value))
    return out


def test_compaction_module_is_gone():
    assert not (PACKAGE / "sinks" / "compaction.py").exists()


def test_only_durable_calls_os_replace():
    offenders = []
    for rel, tree in _modules():
        if rel == "durable.py":
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "replace"
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name == "replace" for a in node.names)
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


def test_no_pointer_of_its_own_outside_merge():
    """Outside sinks/merge.py no code string names the `_CURRENT`
    generation pointer or an `_APPLIED` batch log (docstrings may
    describe the protocol)."""
    offenders = []
    for rel, tree in _modules():
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and ("_CURRENT" in node.value or "_APPLIED" in node.value)
                and rel != "sinks/merge.py"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []


def test_replace_file_writes_whole_text_or_nothing(tmp_path, monkeypatch):
    target = str(tmp_path / "manifest.json")
    replace_file(target, "old")
    replace_file(target, "new text")
    with open(target) as fh:
        assert fh.read() == "new text"
    assert not os.path.exists(target + ".tmp")

    def crash(fd):
        raise OSError("simulated crash before the rename")

    monkeypatch.setattr(os, "fsync", crash)
    with pytest.raises(OSError):
        replace_file(target, "torn")
    with open(target) as fh:
        assert fh.read() == "new text"
