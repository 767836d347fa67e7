"""Query registry: the SURVEY.md §2.2 checklist made executable.

Each operator registers a callable ``(spark, sf_dir) -> DataFrame``
under its key, optionally with the equivalent DuckDB oracle SQL.
Keys without oracle SQL get the driver's weaker rows-only check
(reserved for genuinely non-SQL-expressible ops).
"""
from __future__ import annotations

import importlib
from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLE: dict[str, str] = {}

_MODULES = [
    "engine.queries.scans",
    "engine.queries.joins",
    "engine.queries.bucketed",
    "engine.queries.aggregates",
    "engine.queries.windows",
    "engine.queries.setops",
    "engine.queries.relational_extra",
    "engine.queries.scalar_funcs",
    "engine.queries.scalar_extra",
    "engine.queries.events",
    "engine.queries.llm",
    "engine.queries.multimodal",
    "engine.queries.stitch",
    "engine.queries.udfs",
    # registry order is the order in which keys without a CORRECTNESS row
    # are checked (__spark_entry__._rotated), so keys registered in
    # the modules below queue behind those registered above.
    "engine.queries.pipeline",
    "engine.queries.sources",
    "engine.queries.analytics_extra",
    "engine.queries.streaming_q",
    "engine.queries.curation",
    "engine.queries.incremental",
    "engine.queries.geo",
    "engine.queries.graph",
    "engine.queries.ml",
    "engine.queries.profiling",
    "engine.queries.vectors",
    # loads LAST: composes ORACLE strings from llm/pipeline/curation
    # (see engine/queries/reports.py docstring).
    "engine.queries.reports",
]

_loaded = False


def query(name: str, oracle: str | None = None):
    """Register an operator implementation (decorator)."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn
    return deco


def load_all() -> None:
    """Import every query module (idempotent). A broken import raises:
    skipping a module would silently drop its keys."""
    global _loaded
    if _loaded:
        return
    for m in _MODULES:
        importlib.import_module(m)
    _loaded = True
