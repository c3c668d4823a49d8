"""Inventory of the environment variables the engine reads.

A settled A/B lever leaves only its winner, so the set of env names the
package reads is closed: adding a knob means editing ``EXPECTED`` here.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "commons_codec_spark"

EXPECTED = {
    # deployment settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_TMPFS",
    "SPARK_DRIVER_MEM",
    "PYTHONPATH",
    # levers kept until their scoping fixes land
    "SPARK_GRAFT_PREFER_SMJ",
    "SPARK_GRAFT_CONSTRAINT_PROP",
    "SPARK_GRAFT_STREAM_HINT_ALL",
}


def _is_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_names(tree) -> set[str]:
    """Names read via ``os.environ[...]``, ``os.environ.get(...)`` or
    ``os.getenv(...)``; a non-literal name reads as ``<dynamic>``."""
    names = set()
    for node in ast.walk(tree):
        arg = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            arg = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_method = _is_environ(f.value) and f.attr in ("get", "setdefault", "pop")
            getenv = (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            )
            if (env_method or getenv) and node.args:
                arg = node.args[0]
        if arg is None:
            continue
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            names.add(arg.value)
        else:
            names.add("<dynamic>")
    return names


def test_env_reads_match_the_inventory():
    found = set()
    for path in PKG.rglob("*.py"):
        found |= _env_names(ast.parse(path.read_text(), filename=str(path)))
    assert found == EXPECTED
