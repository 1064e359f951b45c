"""The declared query corpus (SURVEY §2.6): name → builder + oracle SQL.

Every builder is pure DataFrame API (Catalyst-optimizable); every
oracle string is the DuckDB spelling verified hash-matching in the
survey session. Keys are shared across both dicts; queries without an
oracle (non-SQL-expressible ops) appear only in QUERIES.

``QUERIES`` is the module-merge order of the five family modules;
every consumer looks entries up by name, so the order carries no
meaning.
"""

from __future__ import annotations

from zappy_spark.queries import (
    events_ops,
    llm_ops,
    pipeline_ops,
    relational,
    zappy_ops,
)

QUERIES = {
    **zappy_ops.QUERIES,
    **relational.QUERIES,
    **events_ops.QUERIES,
    **llm_ops.QUERIES,
    **pipeline_ops.QUERIES,
}

ORACLE = {
    **zappy_ops.ORACLE,
    **relational.ORACLE,
    **events_ops.ORACLE,
    **llm_ops.ORACLE,
    **pipeline_ops.ORACLE,
}

__all__ = ["QUERIES", "ORACLE"]
