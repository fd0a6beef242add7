"""Structural pin for the build-cache policy: builds persist only
through ``registry.reuse``, and the registry patches no pyspark class.
Either regression — a monkeypatch of ``DataFrame.persist``/``cache``
or a ``persist()`` the build scope never releases — fails here."""

from __future__ import annotations

import ast
import os

import pyspark
import pyspark.sql
from pyspark.sql.classic import dataframe as classic

from etl_cnc_spark.registry import load_all

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "etl_cnc_spark")


def test_registry_leaves_pyspark_persist_unpatched():
    load_all()
    pyspark_dir = os.path.dirname(pyspark.__file__)
    for cls in (pyspark.sql.DataFrame, classic.DataFrame):
        for method in ("persist", "cache"):
            fn = cls.__dict__[method]
            src = fn.__code__.co_filename
            assert src.startswith(pyspark_dir), (
                f"{cls.__module__}.{cls.__name__}.{method} is defined in "
                f"{src}, not by pyspark"
            )


def test_only_registry_persists():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PKG, "registry.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    rel = os.path.relpath(path, PKG)
                    offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, (
        "persist through registry.reuse(), which the build scope releases: "
        + ", ".join(offenders)
    )


def _is_reuse_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "reuse"
    )


def test_no_global_ordered_input_is_reused():
    """No frame passed into ``global_ordered`` is a ``reuse()`` result
    (inline, or the latest assignment of the name before the call):
    the prefix machine's consumers share the exchanges below its
    input, and a cache there only hides them from exchange reuse."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            aliases = {
                a.asname or a.name
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                for a in node.names
                if a.name == "global_ordered"
            }
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                # (line, name, assigned from reuse()) for every assignment
                assigns = [
                    (node.lineno, t.id, _is_reuse_call(node.value))
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Assign)
                    for t in node.targets
                    if isinstance(t, ast.Name)
                ]
                for call in ast.walk(fn):
                    if not (
                        isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Name)
                        and call.func.id in aliases
                    ):
                        continue
                    for arg in call.args + [k.value for k in call.keywords]:
                        reused = _is_reuse_call(arg)
                        if isinstance(arg, ast.Name):
                            prior = [
                                a
                                for a in assigns
                                if a[1] == arg.id and a[0] < call.lineno
                            ]
                            reused = bool(prior) and max(prior)[2]
                        if reused:
                            rel = os.path.relpath(path, PKG)
                            offenders.append(f"{rel}:{call.lineno}")
    assert not offenders, "global_ordered input cached with reuse(): " + ", ".join(
        sorted(set(offenders))
    )
