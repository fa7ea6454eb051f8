"""The indexer has one benchmark instrument, ``perfbench/``. Neither
``bench.py`` nor any script under ``scripts/`` may drive the indexer
for numbers; the ``scripts/example_*.py`` programs are usage examples,
not benchmarks, and are exempt. Parses the sources; starts no Spark."""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

INDEXER_MODULES = (
    "argus_spark.lifecycle.driver",
    "argus_spark.streaming.indexer",
    "argus_spark.lifecycle.store",
)
# what those modules define, also re-exported by their packages
INDEXER_NAMES = {"IndexDriver", "StreamingIndexer", "ParquetStateStore"}


def _tooling_files() -> list[str]:
    scripts = [
        p
        for p in glob.glob(os.path.join(ROOT, "scripts", "*.py"))
        if not os.path.basename(p).startswith("example_")
    ]
    return [os.path.join(ROOT, "bench.py")] + sorted(scripts)


def _is_indexer_module(name: str) -> bool:
    return any(name == m or name.startswith(m + ".") for m in INDEXER_MODULES)


def _indexer_imports(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            hits += [a.name for a in node.names if _is_indexer_module(a.name)]
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if (
                    _is_indexer_module(node.module)
                    or _is_indexer_module(full)
                    or a.name in INDEXER_NAMES
                ):
                    hits.append(full)
    return hits


@pytest.mark.parametrize(
    "path", _tooling_files(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_tooling_does_not_drive_the_indexer(path):
    assert _indexer_imports(path) == []


def test_guard_sees_every_import_form(tmp_path):
    p = tmp_path / "probe.py"
    p.write_text(
        "import argus_spark.streaming.indexer\n"
        "from argus_spark.lifecycle import driver\n"
        "from argus_spark.lifecycle import ParquetStateStore\n"
        "def f():\n"
        "    from argus_spark.lifecycle.driver import ChainEvent\n"
        "from argus_spark.lifecycle.dag import Reducer\n"
    )
    assert sorted(_indexer_imports(str(p))) == [
        "argus_spark.lifecycle.ParquetStateStore",
        "argus_spark.lifecycle.driver",
        "argus_spark.lifecycle.driver.ChainEvent",
        "argus_spark.streaming.indexer",
    ]
