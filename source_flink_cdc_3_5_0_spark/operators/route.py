"""Route calculus: regex table matching -> sink table renaming / N:1 merge.

Parity target: ``TableIdRouter`` (flink-cdc-runtime/.../schema/common/
TableIdRouter.java:80-127) and the route doc
(docs/content/docs/core-concept/route.md:28-79):

- ``source-table``: a Selectors pattern matching source table ids;
- ``sink-table``: replacement id; may contain the ``replace-symbol`` (default
  ``<>``), substituted with the **table name** of the matched source table;
- a table matching multiple rules fans out to multiple sink tables;
- multiple source tables mapping to one sink table form a merge group
  (union-by-name with schema widening, see
  :func:`..operators.schema_evolution.get_common_schema`);
- a table matching no rule routes to itself.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from ..common.tableid import Selectors, TableId, cached_selectors


@dataclass(frozen=True)
class RouteRule:
    source_table: str
    sink_table: str
    replace_symbol: str = "<>"
    description: str | None = None


class TableIdRouter:
    def __init__(self, rules: list[RouteRule]):
        self._rules = [(cached_selectors(r.source_table), r) for r in rules]
        self._cache: dict[TableId, tuple[TableId, ...]] = {}

    def route(self, table_id: TableId) -> tuple[TableId, ...]:
        """All sink table ids for a source table (parity :80-98 + routingCache)."""
        hit = self._cache.get(table_id)
        if hit is not None:
            return hit
        outs: list[TableId] = []
        for selectors, rule in self._rules:
            if selectors.is_match(table_id):
                sink = rule.sink_table
                if rule.replace_symbol and rule.replace_symbol in sink:
                    sink = sink.replace(rule.replace_symbol, table_id.table_name)
                outs.append(TableId.parse(sink))
        result = tuple(outs) if outs else (table_id,)
        self._cache[table_id] = result
        return result
