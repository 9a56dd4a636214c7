"""MERGE clause rules shared by the native Delta and Iceberg writers.

``delta_write.merge_delta`` (copy-on-write) and
``iceberg_write.merge_iceberg`` (merge-on-read) take the same ordered
clause list and apply the same rules: for each matched or not-matched
row the FIRST clause whose condition holds applies, ``"all"`` (``*``)
expands to every table column, an unknown target column is refused,
and a target row that matches more than one source row is an error.
Those rules live here; each writer keeps only its own dataflow.

Clause dicts:

* ``{"when": "matched", "action": "update",
   "set": {col: sql_expr} | "all", "condition": sql | None}``
* ``{"when": "matched", "action": "delete", "condition": …}``
* ``{"when": "not_matched", "action": "insert",
   "values": {col: sql_expr} | "all", "condition": …}``
"""

from __future__ import annotations

from pg_analytics_spark.errors import UnsupportedFormat


class MergeClauses:
    """``clauses`` split into ``matched`` and ``not_matched`` lists and
    compiled against the table columns ``cols``.  Expressions are SQL
    over the target and source aliases; ``"all"`` reads
    ``<source_alias>.<col>``."""

    def __init__(self, clauses, cols, source_columns, source_alias: str):
        self.matched = [c for c in clauses if c["when"] == "matched"]
        self.not_matched = [c for c in clauses if c["when"] == "not_matched"]
        if not self.matched and not self.not_matched:
            raise UnsupportedFormat("MERGE needs at least one WHEN clause")
        self.cols = list(cols)
        self._source_columns = list(source_columns)
        self._source_alias = source_alias

    def set_map(self, clause) -> dict:
        """An UPDATE clause's SET map or an INSERT clause's VALUES map,
        with ``"all"`` expanded."""
        kind = clause["action"]
        m = clause.get("set" if kind == "update" else "values")
        if m == "all":
            missing = [x for x in self.cols if x not in self._source_columns]
            if missing:
                raise UnsupportedFormat(
                    f"MERGE {kind.upper()} *: source lacks column(s) "
                    f"{missing}"
                )
            return {x: f"{self._source_alias}.{x}" for x in self.cols}
        bad = [x for x in m if x not in self.cols]
        if bad:
            raise UnsupportedFormat(
                f"MERGE {kind.upper()}: unknown target column(s) {bad}"
            )
        return m

    @staticmethod
    def index(clause_list, hit=None):
        """CASE giving the index of the first clause in ``clause_list``
        whose condition holds (ANDed with ``hit`` when given), else -1."""
        from pyspark.sql import functions as F

        expr = None
        for idx, c in enumerate(clause_list):
            h = F.lit(True) if hit is None else hit
            if c.get("condition"):
                h = h & F.expr(c["condition"])
            expr = (
                F.when(h, F.lit(idx))
                if expr is None
                else expr.when(h, F.lit(idx))
            )
        return F.lit(-1) if expr is None else expr.otherwise(F.lit(-1))

    def images(self, clause_list, base, types: dict | None = None) -> list:
        """One Column per table column: the SET/VALUES expression of
        clause ``i`` where ``_cidx`` is ``i``, else ``base(col)``.
        ``types`` maps a column to the type that each expression and the
        result are cast to (None: no casts)."""
        from pyspark.sql import functions as F

        out = []
        for col in self.cols:
            t = (types or {}).get(col)
            e = base(col)
            for i, c in enumerate(clause_list):
                if c["action"] == "delete":
                    continue
                m = self.set_map(c)
                if col in m:
                    ne = F.expr(m[col])
                    e = F.when(
                        F.col("_cidx") == i, ne if t is None else ne.cast(t)
                    ).otherwise(e)
            out.append((e if t is None else e.cast(t)).alias(col))
        return out


def refuse_duplicate_matches(joined, keys: list) -> None:
    """Raise when a target row (identified by ``keys`` in ``joined``,
    the target⋈source rows) matches more than one source row."""
    from pyspark.sql import functions as F

    if (
        joined.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    ):
        raise UnsupportedFormat(
            "MERGE: a target row matches more than one source row — "
            "deduplicate the source on the ON keys first"
        )
