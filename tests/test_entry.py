"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import ast
import os

import __spark_entry__ as entrymod

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bankcreditunion_datapipeline_spark",
)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(oracles) <= set(qs)


def test_all_queries_run_sf0001(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def _env_names_read(tree: ast.AST) -> set[str]:
    """Names passed to os.environ.get / os.environ[...] / os.getenv."""

    def is_environ(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and is_environ(f.value))
                or (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                )
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            key = node.slice
        if key is not None:
            names.add(key.value if isinstance(key, ast.Constant) else ast.dump(key))
    return names


def test_engine_reads_only_deployment_env_vars():
    # the engine is configured by arguments; the environment carries
    # only deployment settings, so no tuning knob can hide in it
    names = set()
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f)) as fh:
                    names |= _env_names_read(ast.parse(fh.read()))
    assert names <= {"SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_DRIVER_MEMORY"}, names
