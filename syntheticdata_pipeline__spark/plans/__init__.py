"""Query catalog: every operator from SURVEY.md §2 as a (Spark build fn,
DuckDB oracle SQL) pair, keyed by query name.

``__spark_entry__.py`` exposes this registry to the correctness driver;
``bench.py`` times every entry. Import order of the content modules
populates REGISTRY via the @register decorator.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, build=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import all plan modules (idempotent) and return the registry."""
    from . import (  # noqa: F401
        dataset_q,
        docs_q,
        events_q,
        html_q,
        pipeline_q,
        quality_q,
        relational,
        sketches_q,
        temporal_q,
        tpch_q,
        textual,
        vectors_q,
    )

    return REGISTRY
