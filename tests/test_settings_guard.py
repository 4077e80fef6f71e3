"""The package reads no setting beyond its deployment configuration:
the ``spark.cosmoz.*`` confs and the environment variables it reads
are a fixed, known set. A new feature flag or tuning knob has to
change this file."""

from __future__ import annotations

import ast
import os

import cosmoz_data_pipeline_spark

PKG = os.path.dirname(cosmoz_data_pipeline_spark.__file__)


def _calls():
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name)) as f:
                    tree = ast.parse(f.read())
                yield from (n for n in ast.walk(tree) if isinstance(n, ast.Call))


def _first_str(call: ast.Call) -> str | None:
    if call.args and isinstance(call.args[0], ast.Constant):
        value = call.args[0].value
        return value if isinstance(value, str) else None
    return None


def _is_attr(node: ast.AST, attr: str, owner: str) -> bool:
    """``<...>.<owner>.<attr>`` (e.g. ``spark.conf.get``)."""
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Attribute | ast.Name)
        and getattr(node.value, "attr", getattr(node.value, "id", None)) == owner
    )


def test_only_deployment_confs_are_read():
    read = {
        key
        for call in _calls()
        if _is_attr(call.func, "get", "conf")
        and (key := _first_str(call)) is not None
        and key.startswith("spark.cosmoz.")
    }
    assert read == {"spark.cosmoz.shuffle.floor", "spark.cosmoz.checkpoint.dir"}


def test_only_deployment_env_vars_are_read():
    read = {
        key
        for call in _calls()
        if (_is_attr(call.func, "get", "environ") or _is_attr(call.func, "getenv", "os"))
        and (key := _first_str(call)) is not None
    }
    assert read == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_CHECKPOINT_DIR",
    }
