"""Commit-lock lint: the package has exactly one acquire/release path
for the commit lock, ``LakehouseTable._locked_manifest``. A hand-rolled
``lock = t._acquire_lock() ... finally: os.remove(lock)`` block
reintroduces a second path (and, for non-local tables, one that
bypasses the FileIO seam), so this fails on any such block."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "biglake_iceberg_pipeline_spark"
)


def lock_violations(source: str, name: str) -> list[str]:
    """``os.remove(lock`` anywhere, or an ``_acquire_lock(`` call
    outside the body of a function named ``_locked_manifest``."""
    problems = [
        f"{name}:{i}: os.remove(lock"
        for i, line in enumerate(source.splitlines(), 1)
        if "os.remove(lock" in line
    ]

    def walk(node, inside_manager):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "_acquire_lock"
                and not inside_manager
            ):
                problems.append(f"{name}:{child.lineno}: _acquire_lock(")
            walk(
                child,
                inside_manager
                or (
                    isinstance(child, ast.FunctionDef)
                    and child.name == "_locked_manifest"
                ),
            )

    walk(ast.parse(source), False)
    return problems


def test_no_hand_rolled_commit_lock_blocks():
    problems = []
    for path in sorted(PACKAGE.rglob("*.py")):
        problems += lock_violations(
            path.read_text(), str(path.relative_to(PACKAGE))
        )
    assert not problems, "\n".join(problems)


def test_lint_detects_hand_rolled_block():
    planted = (
        "def stamp(t):\n"
        "    lock = t._acquire_lock()\n"
        "    try:\n"
        "        t._commit(t._read_manifest())\n"
        "    finally:\n"
        "        os.remove(lock)\n"
    )
    assert len(lock_violations(planted, "planted")) == 2
    allowed = (
        "class T:\n"
        "    def _locked_manifest(self):\n"
        "        lock = self._acquire_lock()\n"
    )
    assert lock_violations(allowed, "allowed") == []
