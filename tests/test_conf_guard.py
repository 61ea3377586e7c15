"""No package code sets a session conf without a listed reason.

A ``spark.conf.set`` changes the session for every query and every
thread that shares it, so it must not serve as a per-operator perf
lever.  The guard AST-walks the package for ``<x>.conf.set(...)`` calls
and fails on any whose enclosing function is not in ``ALLOWED`` with
the reason it stays.  The one allowed toggle, the verify core's codegen
guard, must also be entered at exactly one site.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cdc_redshift_spark",
)

#: "<module path relative to the package>:<enclosing function>" -> why
#: it may set a session conf
ALLOWED = {
    "streaming/pipeline.py:CdcPipeline.start.run_batch": "sets "
    "CACHED_PLAN_COALESCE on the stream's own session clone inside "
    "foreachBatch; the caller's session is left as it was",
    "sources/tables.py:load_table": "read correctness: events.parquet "
    "TIMESTAMP(NANOS) columns cannot be read without nanosAsLong, also "
    "in sessions not built by get_spark",
    "queries/streaming_q.py:_drive_phases": "a stateful stream's state "
    "store keeps the shuffle.partitions of its first checkpoint and no "
    "AQE conf resizes it; set and restored around the drain",
    "operators/simjoin.py:stable_verify_codegen": "whole-stage codegen "
    "off around the similarity verify only (a JIT-compile lottery on "
    "short stages, measured up to 5.9x the guarded wall); entered at one "
    "site and restored on exit",
    "queries/streaming_q.py:q_cdc_stream_schema_drift": "shuffle.partitions "
    "pin for sessions not built by get_spark, measured faster than the "
    "unpinned default; set and restored around the drain",
}


def _conf_sets(tree: ast.AST):
    """Yield the dotted enclosing-function name of every
    ``<x>.conf.set(...)`` call ("<module>" at top level)."""

    def walk(node: ast.AST, scope: tuple[str, ...]):
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                yield from walk(child, scope + (child.name,))
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "set"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                yield ".".join(scope) or "<module>"
            yield from walk(child, scope)

    yield from walk(tree, ())


def _modules():
    """(path relative to the package, parsed tree) of every module."""
    for base, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(base, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            yield os.path.relpath(path, PKG).replace(os.sep, "/"), tree


def conf_set_sites() -> set[str]:
    return {
        f"{rel}:{name}" for rel, tree in _modules() for name in _conf_sets(tree)
    }


def test_session_conf_sets_are_listed():
    sites = conf_set_sites()
    unlisted = sorted(sites - set(ALLOWED))
    assert not unlisted, (
        "these functions set a session conf; drop the set, or add them "
        f"to ALLOWED with a reason: {unlisted}"
    )
    stale = sorted(set(ALLOWED) - sites)
    assert not stale, f"ALLOWED entries that no longer set a conf: {stale}"


def test_codegen_guard_has_one_site():
    """The verify core enters the codegen guard once; no operator wraps
    its own persists or actions in it."""
    calls = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None))
        == "stable_verify_codegen"
    ]
    assert len(calls) == 1, f"stable_verify_codegen entered at {calls}"
