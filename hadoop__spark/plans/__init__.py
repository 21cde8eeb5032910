"""Analysis plane: lineage extraction over Spark's own parsed logical plans.

The reference tool (``LineParser``, reference README.md:100-844) walks a
raw Hive ANTLR AST with explicit clause stacks.  This package gets the
same results from Spark's parser instead: each statement goes through
``sessionState().sqlParser().parsePlan`` (driver-side only, nothing
executes), and parse plus the parsed tree cross the JVM boundary in
one py4j call; a catalog lookup is one more.  A small Java class,
``PlanDump``, parses and serializes the tree to JSON and answers the
lookups; it is compiled once per JVM with Janino, the compiler
Catalyst's own code generation uses, so it ships with Spark and
nothing is built or configured.  :mod:`jbridge` converts the dump
into lightweight Python nodes, and a recursive walker with proper
lexical scoping (:mod:`lineage`) emits input/output tables,
column-level lineage edges and reference-format condition strings
(:mod:`render`).
"""

from hadoop__spark.plans.lineage import (
    ColLine,
    LineageAnalyzer,
    LineageError,
    LineageResult,
)

__all__ = ["ColLine", "LineageAnalyzer", "LineageError", "LineageResult"]
