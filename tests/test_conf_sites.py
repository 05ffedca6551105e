"""Static guard: per-query Spark conf changes go through
``bacon_spark.session.conf_override``, the one place that saves, sets
and restores session conf. Any other ``.conf.set(`` / ``.conf.unset(``
in the library fails here, apart from two deliberate session-level pins.
Retired env-var forks must not come back either."""

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bacon_spark")

#: (path relative to bacon_spark/, enclosing function) allowed to set conf
#: outside session.py: the oracle's UTC pin and the ns-timestamp reader pin
ALLOWED_PINS = {
    ("gate/_base.py", "_read"),
    ("sources/star.py", "read_table"),
}
RETIRED_ENV_KNOBS = {"BACON_CC_SIG", "BACON_STREAM_DURABLE_CKPT"}


def _library_files():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG).replace(os.sep, "/"), path


def _conf_writes(tree):
    """(enclosing function name, line) of every ``<x>.conf.set/unset(...)``."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            out.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def _parsed():
    return [(rel, ast.parse(open(path).read(), path)) for rel, path in _library_files()]


def test_conf_writes_only_in_conf_override_and_pins():
    offenders = [
        f"{rel}:{line} ({func})"
        for rel, tree in _parsed()
        if rel != "session.py"
        for func, line in _conf_writes(tree)
        if (rel, func) not in ALLOWED_PINS
    ]
    assert not offenders, (
        "set session conf through bacon_spark.session.conf_override: "
        + ", ".join(offenders)
    )


def test_allowlisted_pins_still_exist():
    """A stale allowlist entry would silently widen the guard."""
    found = {(rel, func) for rel, tree in _parsed() for func, _ in _conf_writes(tree)}
    assert ALLOWED_PINS <= found


def test_guard_sees_a_hand_rolled_block():
    tree = ast.parse(
        "def q(spark):\n"
        "    prev = spark.conf.get('k')\n"
        "    spark.conf.set('k', 'v')\n"
        "    spark.conf.unset('k')\n"
    )
    assert _conf_writes(tree) == [("q", 3), ("q", 4)]


@pytest.mark.parametrize("knob", sorted(RETIRED_ENV_KNOBS))
def test_retired_env_knobs_not_read(knob):
    hits = [
        f"{rel}:{node.lineno}"
        for rel, tree in _parsed()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value == knob
    ]
    assert not hits, f"{knob} is read again at {hits}"
