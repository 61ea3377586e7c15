"""No package definition is reachable only from tests.

A public function, class or method of ``cdc_redshift_spark`` that no
non-test code names is surface nobody runs: it costs reading time and
keeps its tests alive for nothing.  The guard AST-walks the package for
public top-level functions and classes and public methods, and collects
every name the non-test code uses (``Name`` and ``Attribute`` nodes,
import aliases and identifier-shaped string constants) from the
package, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``.  A use inside a definition's own body (a
recursive call, a method calling itself) does not count.  Name
matching is by bare identifier, so it errs toward "used": it catches
code that nothing names at all, not code whose every caller is dead.

A definition nothing uses must be deleted with its tests, or listed in
``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "cdc_redshift_spark")
USE_ROOTS = (
    PKG,
    os.path.join(REPO, "tools"),
    os.path.join(REPO, "perfbench"),
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
)

_CONFIG = "production job entry: reads the reference's config document"
_REDSHIFT = "production sink surface: needs a Redshift cluster or a JDBC jar"
_REF = "reference implementation the tests compare the production path against"

#: "<module path relative to the package>:<name or Class.method>" -> why
#: it stays although no non-test code names it
ALLOWED = {
    "config.py:load_config": _CONFIG,
    "config.py:JobConfig.kafka_source": _CONFIG,
    "config.py:JobConfig.redshift_config": _CONFIG,
    "config.py:JobConfig.window_size": _CONFIG,
    "config.py:JobConfig.checkpoint_location": _CONFIG,
    "config.py:JobConfig.spark_builder_conf": _CONFIG,
    "sinks/redshift.py:RedshiftSink": _REDSHIFT,
    "sinks/redshift.py:JdbcSink": _REDSHIFT,
    "sinks/redshift.py:create_table_ddl": _REDSHIFT + " (typed DDL)",
    "sinks/redshift.py:super_col": _REDSHIFT + " (SUPER column tag)",
    "sinks/redshift.py:typed_col": _REDSHIFT + " (DDL type tag)",
    "sinks/redshift.py:merge_postactions": _REDSHIFT
    + " (the reference's MERGE postaction)",
    "sinks/redshift.py:delete_using_postactions": _REDSHIFT
    + " (the reference's DMS DELETE USING postaction)",
    "sources/streams.py:kafka_stream": "production source: needs the Kafka "
    "connector jar, which the test image lacks",
    "operators/simjoin.py:prefix_length": _REF,
    "operators/dedup.py:minhash_signatures": _REF,
    "operators/similarity.py:ivf_assign": _REF,
    "operators/corpus.py:word_ngram_hashes": _REF,
    "functions/text.py:winnow_fingerprints": _REF,
    "functions/text.py:winnow_fingerprints_df_window": _REF,
    "sinks/parquet_sink.py:ParquetSink.compact": "maintenance lever: folds "
    "deletion vectors of a merge_mode='dv' table, scheduled by its operator",
    "streaming/annindex.py:IvfIndexMaintainer.compact": "maintenance lever: "
    "folds old batch partitions of a long-running index stream",
    "streaming/annindex.py:IvfIndexMaintainer.topk": "the index's search "
    "path (scans only the n_probe nearest cells); the registry entry "
    "certifies the landing, tests check search against numpy",
    "streaming/ingest.py:NearDupIngestDeduper": "its probe half is the "
    "registry's neardup_probe; its greedy in-batch collapse depends on "
    "arrival order, so no oracle query can check it and tests pin it",
    "plans/merge.py:MergeIntoBuilder.when_not_matched_by_source_delete": (
        "half of Delta's WHEN NOT MATCHED BY SOURCE pair; the registry "
        "runs the update half through the same execute() branch"
    ),
}


def _py_files(root: str):
    if os.path.isfile(root):
        yield root
        return
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(base, fn)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _names(node: ast.AST) -> Counter:
    """Every identifier ``node`` uses: names, attributes, import
    aliases (each dotted part) and identifier-shaped strings (each
    dotted part, so ``"pkg.mod.fn"`` names ``fn``)."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            for part in n.name.split("."):
                out[part] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            parts = n.value.split(".")
            if all(p.isidentifier() for p in parts):
                for part in parts:
                    out[part] += 1
    return out


def _definitions():
    """(key, name, node) of every public top-level function/class and
    every public method of a top-level class in the package."""
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        for top in _parse(path).body:
            if not isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or top.name.startswith("_"):
                continue
            yield f"{rel}:{top.name}", top.name, top
            if isinstance(top, ast.ClassDef):
                for m in top.body:
                    if isinstance(
                        m, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ) and not m.name.startswith("_"):
                        yield f"{rel}:{top.name}.{m.name}", m.name, m


def unused_definitions() -> list[str]:
    used: Counter = Counter()
    for root in USE_ROOTS:
        for path in _py_files(root):
            used.update(_names(_parse(path)))
    return sorted(
        key
        for key, name, node in _definitions()
        if used[name] - _names(node)[name] <= 0
    )


def test_no_definition_is_reachable_only_from_tests():
    unused = unused_definitions()
    unlisted = [k for k in unused if k not in ALLOWED]
    assert not unlisted, (
        "no non-test code names these definitions; delete them with "
        f"their tests, or add them to ALLOWED with a reason: {unlisted}"
    )
    # an entry whose definition is gone or has gained a caller is stale
    stale = sorted(set(ALLOWED) - set(unused))
    assert not stale, f"ALLOWED entries that are used or gone: {stale}"
