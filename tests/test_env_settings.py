"""The package reads only its deployment settings from the environment.

An environment switch that selects a second code path is a program no
test or benchmark measures, so the set of names the package reads is
pinned here.  No Spark needed: the package source is scanned with
``ast``."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "datapatterns_spark"

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "PYTHONPATH",
    "DP_MATERIALIZE",
}


def _is_environ(node) -> bool:
    """``os.environ`` or a bare ``environ``."""
    if isinstance(node, ast.Attribute):
        return node.attr == "environ" and isinstance(node.value, ast.Name) and node.value.id == "os"
    return isinstance(node, ast.Name) and node.id == "environ"


def _key(node, where: str) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key at {where}>"


def env_reads(path: pathlib.Path) -> set[str]:
    """Names read through ``os.environ[...]``, ``os.environ.get``/``pop``/
    ``setdefault`` and ``os.getenv``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load) and _is_environ(node.value):
            names.add(_key(node.slice, where))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_method = _is_environ(f.value) and f.attr in ("get", "pop", "setdefault")
            getenv = f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            if env_method or getenv:
                names.add(_key(node.args[0], where) if node.args else f"<no key at {where}>")
    return names


def test_package_reads_only_deployment_settings(tmp_path):
    # the scan sees every read form, and no write
    probe = tmp_path / "m.py"
    probe.write_text(
        "import os\n"
        "from os import environ\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "c = os.getenv('C')\n"
        "d = environ.get('D')\n"
        "os.environ['W'] = 'written, not read'\n"
    )
    assert env_reads(probe) == {"A", "B", "C", "D"}

    read = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        read |= env_reads(path)
    assert read <= DEPLOYMENT_SETTINGS, sorted(read - DEPLOYMENT_SETTINGS)
