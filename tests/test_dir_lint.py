"""Every dir the package creates goes through kinesis_app_spark/scratch.py:
ephemeral dirs through ``scratch_dir``, built tables through
``cached_build``. A static scan of the package source, no Spark."""

from __future__ import annotations

import ast
import os

import kinesis_app_spark

_PKG = os.path.dirname(kinesis_app_spark.__file__)
_OWNER = os.path.join(_PKG, "scratch.py")
_WORDS = ("_DONE", "_BUILT", "/tmp", "mkdtemp", "mkstemp")


def _violations() -> list[str]:
    out = []
    for dirpath, _dirs, names in os.walk(_PKG):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                src = fh.read()
            if not any(w in src for w in _WORDS):
                continue  # nothing to flag: skip the parse
            tree = ast.parse(src, path)
            where = os.path.relpath(path, _PKG)
            for node in ast.walk(tree):
                line = f"{where}:{getattr(node, 'lineno', '?')}"
                if isinstance(node, ast.Constant) and isinstance(
                        node.value, str):
                    if node.value in ("_DONE", "_BUILT"):
                        out.append(f"{line}: hand-rolled cache marker")
                    elif node.value.startswith("/tmp") and path != _OWNER:
                        out.append(f"{line}: hard-coded /tmp path")
                called = (
                    node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None
                )
                if called in ("mkdtemp", "mkstemp") and path != _OWNER:
                    out.append(f"{line}: tempfile.{called} outside scratch")
    return out


def test_package_dirs_go_through_scratch():
    assert _violations() == []
