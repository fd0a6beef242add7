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
