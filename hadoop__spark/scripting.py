"""Engine session: multi-statement HiveQL-shaped scripts on both planes.

The reference's only public API is ``parse(sqlAll, validate)`` over a
multi-statement script with ``USE db`` session state (reference
README.md:744-764, 637-640).  This module is the execution-plane
counterpart plus the bridge to the analysis plane:

* ``run_script`` splits the script with the analysis plane's own
  ``split_statements`` (a top-level ``;`` ends a statement, one in a
  string, a backticked name or a comment does not, and ``\\;`` is
  kept as ``;``, README.md:746), so both planes see the same
  statements, and dispatches each statement to ``spark.sql`` —
  Catalyst handles INSERT OVERWRITE (+ static partitions), CTAS,
  DROP/TRUNCATE/ALTER, and ``USE db`` natively (SURVEY.md §2.1).
* ``lineage`` runs the analysis plane on the same script without
  executing anything, starting from the session's current database.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hadoop__spark.plans.lineage import (
    LineageAnalyzer,
    LineageResult,
    split_statements,
)


@dataclass
class StatementResult:
    sql: str
    df: DataFrame  # spark.sql always returns a DataFrame (may be empty)


class ScriptSession:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def run_script(
        self, script: str, validate: bool = False
    ) -> list[StatementResult]:
        """Execute every statement in order; returns per-statement
        results (the last SELECT's DataFrame is typically the payload).

        ``USE db`` goes through ``spark.sql`` too, so the catalog's
        current database — not parser state — carries the session
        (≡ reference ``nowQueryDB``, README.md:129, 637-640).

        ``validate=True`` runs the analysis plane FIRST (reference
        ``parse(sql, validate)``, README.md:744-764): every referenced
        table and column must resolve against the catalog before any
        statement executes — a whole-script precheck instead of
        failing halfway through a multi-statement mutation.  Both
        planes split the script with one ``split_statements``, so the
        precheck analyzes exactly the statements that then run."""
        if validate:
            self.lineage(script, validate=True)
        return [
            StatementResult(sql, self.spark.sql(sql))
            for sql in split_statements(script)
        ]

    def run(self, script: str) -> DataFrame | None:
        """Convenience: run the script, return the last result."""
        results = self.run_script(script)
        return results[-1].df if results else None

    def lineage(self, script: str, validate: bool = False) -> LineageResult:
        """Analysis plane over the same session state (never executes)."""
        analyzer = LineageAnalyzer(
            self.spark, current_db=self.spark.catalog.currentDatabase()
        )
        return analyzer.analyze(script, validate=validate)
