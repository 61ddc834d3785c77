"""The declared query registry — the single source of truth consumed by
``__spark_entry__.py`` (driver contract) and by the differential tests.

Every operator from SURVEY.md §2 that is implemented has a named entry in
``QUERIES`` (callable ``(spark, sf_dir) -> DataFrame``) and, when the
semantics are SQL-expressible, a matching DuckDB oracle in ``ORACLES``.
Column names are aliased identically on both sides (the driver's comparison
sorts columns by name before hashing).

Queries live in one module per domain; a name declared by two modules is
refused at import time rather than silently shadowed.
"""

from __future__ import annotations

from . import (
    dedup_queries,
    events_queries,
    graph_queries,
    multimodal_queries,
    relational,
    search_queries,
    similarity_queries,
    sketches_queries,
    snapshot_queries,
    sql_queries,
    storage_queries,
    streaming_queries,
    temporal_queries,
    text_queries,
    timeseries_queries,
    tpch_queries,
)

_MODULES = [
    search_queries,
    tpch_queries,
    relational,
    sql_queries,
    dedup_queries,
    similarity_queries,
    text_queries,
    graph_queries,
    events_queries,
    timeseries_queries,
    sketches_queries,
    temporal_queries,
    streaming_queries,
    multimodal_queries,
    storage_queries,
    snapshot_queries,
]


def _merge(modules, attr: str) -> dict:
    """Union of every module's ``attr`` dict; a name two modules declare
    raises, naming the name and both modules."""
    merged, origin = {}, {}
    for m in modules:
        for name, value in getattr(m, attr, {}).items():
            if name in origin:
                raise ValueError(
                    f"{attr} name {name!r} is declared in both "
                    f"{origin[name]} and {m.__name__}"
                )
            merged[name] = value
            origin[name] = m.__name__
    return merged


QUERIES = _merge(_MODULES, "QUERIES")
ORACLES = _merge(_MODULES, "ORACLES")


#: FIXTURE-SCALE BASELINE queries -> their measured-linear scale-path twin.
#: A baseline entry is exact and oracle-stable at the shipped fixtures but
#: has a MEASURED superlinear candidate/pair shape at the 10x scale probe;
#: a 100 TB deployment must run the twin instead. Kept in the registry (not
#: removed) because the pair is what makes the scale claim testable: the
#: probe measures both and SCALING.md cites the numbers.
#: - dedup_simhash: plain-signature chunk keyspace 2.27x superlinear at 10x
#:   (template concentration) -> dedup_simhash_idf measured 1.00.
#: - embedding_semdedup: fixed n_cells=8 makes within-cell pairs quadratic
#:   (10.01x at 10x) -> embedding_semdedup_scaled derives k = ceil(n/50)
#:   (measured ~linear; the operator's own default since round 10).
BASELINE_TIER = {
    "dedup_simhash": "dedup_simhash_idf",
    "embedding_semdedup": "embedding_semdedup_scaled",
}
