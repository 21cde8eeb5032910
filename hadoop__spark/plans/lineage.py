"""Column-level lineage extraction — the reference tool's actual
product (``LineParser``, reference README.md:100-844), rebuilt over
Spark's parsed logical plans.

The converter (:mod:`jbridge`) decides what each statement is: a
``Sink`` (a table, a directory or a bare SELECT's ``TOK_TMP_FILE``), a
``Ddl``, ``Use``, UPDATE / DELETE / MERGE, or a Hive multi-insert's
``Union`` of Sinks, each carrying its statement kind.  This module
handles each shape at one site and walks the queries.  Per statement
the analyzer emits:

* **input tables** — every relation referenced in a FROM
  (README.md:173-192),
* **output tables** — INSERT/CTAS/LOAD destinations; ALTER targets
  tagged ``"table\\tALTER"`` (README.md:163-172, 259-263),
* **column edges** (``ColLine``, README.md:802-804): target column,
  parsed alias, ordered source columns, and a condition set combining
  the statement-wide ``WHERE:`` / ``HAVING:`` / ``<JOINKIND>:`` tags
  with per-column ``COLFUN:`` expression tags (README.md:256-278,
  290-297).  With ``extended_tags=True`` the analyzer also captures
  ``GROUPBY:`` / ``ORDERBY:`` keys (beyond the reference, which only
  had WHERE/JOIN tags).

Design differences from the reference (all deliberate):

* lexical scoping instead of one global alias map + clause stacks —
  each query block resolves against its own FROM sources;
* fresh analysis state per ``analyze`` call (the reference accumulates
  across ``parse()`` calls forever, README.md:108-129 — a wart);
* ``spark.catalog`` replaces the Hive ``MetaDataDao``
  (README.md:102, 239, 814) for ``SELECT *`` expansion, positional
  sink alignment and validation.  A lookup reads analysis metadata
  only and submits no Spark job, and each ``analyze`` call memoizes
  its lookups, so the analysis plane never executes anything;
* multi-source provenance is stored as ``list[str]``; the reference's
  ``&``/``,`` string encodings (README.md:231, 1050) appear only in
  rendered output.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import SparkSession

from hadoop__spark.plans.jbridge import Node, parse_statement, table_columns
from hadoop__spark.plans.render import (
    LineageError,
    extract_sources,
    not_normal_col,
    render,
)

__all__ = ["ColLine", "LineageAnalyzer", "LineageError", "LineageResult"]


@dataclass(frozen=True)
class ColLine:
    """One lineage edge (reference ``ColLine``, README.md:802-804)."""

    to_table: str | None  # destination table; "TOK_TMP_FILE" for bare SELECT
    to_name: str | None  # physical sink column (positional, README.md:796-804)
    to_name_parse: str  # parsed output alias
    from_names: tuple[str, ...]  # qualified source columns, in order
    conditions: frozenset[str]  # WHERE:/JOIN-kind:/COLFUN: tags


@dataclass
class LineageResult:
    input_tables: set[str] = field(default_factory=set)
    output_tables: set[str] = field(default_factory=set)
    col_lines: list[ColLine] = field(default_factory=list)
    statements: list[str] = field(default_factory=list)  # statement kinds

    def format(self) -> str:
        """The reference's console dump format (``printRestult``,
        README.md:1210-1217), for output parity with the upstream tool:
        ``&``-joined multi-tables and ``,``-joined multi-columns appear
        exactly as the reference serializes them."""
        lines = [
            "inputTable:" + str(sorted(self.input_tables)),
            "outputTable:" + str(sorted(self.output_tables)),
        ]
        for line in self.col_lines:
            lines.append(
                f"ToTable:{line.to_table},"
                f"ToNameParse:{line.to_name_parse},"
                f"ToName:{line.to_name},"
                f"FromName:{','.join(line.from_names)},"
                f"Condition:{sorted(line.conditions)}"
            )
        return "\n".join(lines)


class Metastore(Protocol):
    def columns(self, qualified_table: str) -> list[str] | None: ...


class SparkCatalogMetastore:
    """``spark.catalog`` as the metastore (replaces ``MetaDataDao``,
    reference README.md:102, 239, 814).

    A lookup is one py4j call (``jbridge.table_columns``) and submits
    no Spark job.  On the JVM side it reads the session catalog for
    each candidate name (the qualified name, then the bare name, so
    ``default.t`` finds a temp view ``t``): a temp view's stored schema,
    else a table's catalog schema, partition columns last.  Only a
    permanent view or a temp view defined by SQL text is analyzed.  A
    missing table or database, a name no table has, or a view whose
    definition no longer resolves reads as unknown (``None``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def columns(self, qualified_table: str) -> list[str] | None:
        return table_columns(self.spark, qualified_table)


class DictMetastore:
    """In-memory metastore for tests: {'db.table': [col, ...]}."""

    def __init__(self, tables: dict[str, list[str]]):
        self.tables = {k.lower(): v for k, v in tables.items()}

    def columns(self, qualified_table: str) -> list[str] | None:
        return self.tables.get(qualified_table.lower())


# --------------------------------------------------------------------------
# FROM-clause scope model


def _union(out: list[str], *more: Iterable[str]) -> list[str]:
    """Order-preserving union: append to ``out``, in order, each item
    of ``more`` it does not hold yet (``out``'s own repeats stay)."""
    for items in more:
        for x in items:
            if x not in out:
                out.append(x)
    return out


@dataclass
class OutCol:
    name: str  # '' when the item is an unaliased literal/expression
    sources: list[str]
    colfun: set[str]
    #: True for generator outputs (LATERAL VIEW): resolving this column
    #: yields its underlying source columns, not a pseudo column.
    expand: bool = False


@dataclass
class Scope:
    """Output description of one query block."""

    tables: list[str]  # contributing base tables, in order
    cols: list[OutCol]
    branch_cols: list[list[OutCol]] | None = None  # set for UNION blocks


@dataclass
class BaseTable:
    qname: str  # db.table
    simple: str  # unqualified name, for `table.col` references


@dataclass
class SubScope:
    scope: Scope


@dataclass
class FromCtx:
    sources: list[tuple[str | None, BaseTable | SubScope]] = field(
        default_factory=list
    )

    def all_tables(self) -> list[str]:
        return _union(
            [],
            *(
                [s.qname] if isinstance(s, BaseTable) else s.scope.tables
                for _, s in self.sources
            ),
        )

    # -- resolution ---------------------------------------------------------

    def _resolve_in(self, source: BaseTable | SubScope, col: str) -> str:
        if isinstance(source, BaseTable):
            return f"{source.qname}.{col}"
        # Subquery: every output column matching the name contributes its
        # source-table prefix, merged with '&' — this is what produces
        # `app.action_video&fact.action_comment.uid` for a column coming
        # through a UNION subquery (reference README.md:596-611).
        matched = False
        expanded: list[str] = []
        prefixes: list[str] = []
        for c in source.scope.cols:
            if c.name.lower() != col:
                continue
            matched = True
            if c.expand:
                _union(expanded, c.sources)
            else:
                _union(prefixes, [s.rsplit(".", 1)[0] for s in c.sources])
        if expanded:
            # generator output (LATERAL VIEW): the honest provenance is
            # the generator's own source columns, &-merged like the
            # reference's multi-source pseudo columns
            return "&".join(expanded)
        if not prefixes:
            if not matched and source.scope.tables:
                prefixes = list(source.scope.tables)
            else:
                return col  # literal-only column: no table provenance
        return f"{'&'.join(prefixes)}.{col}"

    def _find(self, name: str) -> BaseTable | SubScope | None:
        for alias, s in self.sources:
            if alias is not None and alias.lower() == name:
                return s
        for _, s in self.sources:
            if isinstance(s, BaseTable) and (
                s.simple == name or s.qname == name
            ):
                return s
        return None

    def _claims(
        self,
        source: BaseTable | SubScope,
        col: str,
        columns: Callable[[str], list[str] | None],
    ) -> bool:
        if isinstance(source, SubScope):
            return any(c.name.lower() == col for c in source.scope.cols)
        cols = columns(source.qname)
        return cols is not None and col in [c.lower() for c in cols]

    def make_qualify(self, analyzer: "LineageAnalyzer"):
        def resolve(src: BaseTable | SubScope, col: str) -> str:
            if isinstance(src, BaseTable):
                # a concrete db.table.col binding — validation checks
                # these, not the rendered strings (which may carry
                # subquery-renamed or &-merged pseudo columns)
                analyzer._bindings.append((src.qname, col))
            return self._resolve_in(src, col)

        def qualify(parts: list[str]) -> str:
            if len(parts) >= 3:
                # Consult FROM sources before assuming db.table.col:
                # `t.addr.city` through an alias/table `t` is a struct
                # FIELD access — provenance (and the validation binding)
                # is the COLUMN `addr`; the field path is kept on the
                # rendered name for fidelity.
                src = self._find(parts[0].lower())
                if src is not None:
                    base = resolve(src, parts[1].lower())
                    return ".".join([base, *parts[2:]])
                if len(parts) >= 4:
                    src = self._find(f"{parts[0]}.{parts[1]}".lower())
                    if src is not None:
                        base = resolve(src, parts[2].lower())
                        return ".".join([base, *parts[3:]])
                qname, col = ".".join(parts[-3:-1]), parts[-1]
                analyzer._bindings.append((qname, col))
                return f"{qname}.{col}"
            if len(parts) == 2:
                owner, col = parts
                src = self._find(owner)
                if src is not None:
                    return resolve(src, col)
                # unknown qualifier: treat as a table name, like the
                # reference's getRealTable fallback (README.md:537-553)
                return f"{analyzer._fill_parts([owner])}.{col}"
            col = parts[0]
            if len(self.sources) == 1:
                return resolve(self.sources[0][1], col)
            claimers = [
                s
                for _, s in self.sources
                if self._claims(s, col, analyzer._columns)
            ]
            if len(claimers) == 1:
                return resolve(claimers[0], col)
            # ambiguous / unknown: all candidate tables &-joined
            # (reference nowQueryTable behavior, README.md:179-185, 537-548)
            tables = self.all_tables()
            return f"{'&'.join(tables)}.{col}" if tables else col

        return qualify


def _output(table: str, kind: str) -> str:
    """An output table as recorded: an ALTER's carries the ``ALTER``
    tag (reference README.md:259-263)."""
    return f"{table}\tALTER" if kind == "ALTER" else table


def _block(scope: Scope) -> FromCtx:
    """A query block's output as the one FROM source, unaliased."""
    return FromCtx([(None, SubScope(scope))])


# --------------------------------------------------------------------------


#: What a statement split must see whole: a quoted string (backslash
#: escapes), a backticked name, a ``--`` or ``/* */`` comment, each to
#: its end or the script's; else a top-level ``;``, or its ``\;``
#: escape (group 1).
_SCRIPT_TOKENS = re.compile(
    r"""'(?:\\.|[^\\'])*'?|"(?:\\.|[^\\"])*"?|`[^`]*`?|--[^\n]*|/\*.*?(?:\*/|\Z)|(\\?;)""",
    re.DOTALL,
)


def split_statements(script: str) -> list[str]:
    """The statements of a script, for both planes: split on each
    top-level ``;``, never on one inside a string, a backticked name or
    a comment; a top-level ``\\;`` is kept as ``;`` (reference
    README.md:746).  Blank statements drop."""
    stmts: list[str] = []
    stmt, start = "", 0
    for m in _SCRIPT_TOKENS.finditer(script):
        if m[1]:  # a top-level ; or \; (quoted and commented text stays)
            stmt += script[start : m.start()]
            start = m.end()
            if m[1] == ";":
                stmts.append(stmt)
                stmt = ""
            else:
                stmt += ";"
    stmts.append(stmt + script[start:])
    return [s for s in map(str.strip, stmts) if s]


class LineageAnalyzer:
    """Entry point of the analysis plane (reference ``LineParser.parse``,
    README.md:744-764): multi-statement scripts, ``USE db`` session
    state, validation against the catalog."""

    def __init__(
        self,
        spark: SparkSession,
        metastore: Metastore | None = None,
        current_db: str = "default",
        extended_tags: bool = False,
    ):
        self.spark = spark
        self.metastore = metastore or SparkCatalogMetastore(spark)
        self.current_db = current_db
        #: Beyond-reference condition tags: GROUPBY:/ORDERBY: capture.
        #: Off by default so reference-golden output stays byte-identical
        #: (golden sql25 has a GROUP BY with no such tag upstream).
        #: HAVING: is always distinct from WHERE: — the reference
        #: predates HAVING, so no golden constrains it.
        self.extended_tags = extended_tags
        self._bindings: list[tuple[str, str]] = []
        self._ctes: dict[str, Scope] = {}  # per-statement WITH scopes
        self._views: dict[str, Scope] = {}  # session-level CREATE VIEWs
        self._column_memo: dict[str, list[str] | None] = {}

    def _columns(self, qualified_table: str) -> list[str] | None:
        """Metastore lookup, memoized for one ``analyze`` call.  The
        analyzer never executes a statement, so the catalog cannot
        change within a call; across calls it can (a script session
        runs statements between them), so ``analyze`` starts afresh."""
        if qualified_table not in self._column_memo:
            self._column_memo[qualified_table] = self.metastore.columns(
                qualified_table
            )
        return self._column_memo[qualified_table]

    def _fill_parts(self, parts: list[str]) -> str:
        """A table name's parts → ``db.table``, the session database
        filling a bare name (reference ``fillDB``, README.md:826-843)."""
        parts = [p.lower() for p in parts]
        if len(parts) == 1:
            return f"{self.current_db}.{parts[0]}"
        return ".".join(parts[-2:])

    # -- public API ---------------------------------------------------------

    def analyze(self, script: str, validate: bool = False) -> LineageResult:
        res = LineageResult()
        self._bindings = []
        self._column_memo = {}
        for sql in split_statements(script):
            self._statement(sql, res)
        if validate:
            self._validate(res)
        return res

    # -- per-statement ------------------------------------------------------

    def _statement(self, sql: str, res: LineageResult) -> None:
        """Handle each statement shape the converter decides
        (``jbridge._Tree.statement``) at one site."""
        node = parse_statement(self.spark, sql)
        conditions: set[str] = set()
        self._ctes = {}
        while node.cls == "With":
            # a statement-level WITH (`WITH w AS (…) INSERT …`, UPDATE,
            # a multi-insert or a bare SELECT), possibly nested
            # (`WITH a AS (…) (WITH b AS (…) SELECT …)`): register the
            # CTE scopes for this statement, then handle the wrapped
            # statement.  CTAS and CREATE VIEW keep their WITH inside
            # the query.
            self._register_ctes(node, conditions, res)
            node = node.children[0]

        if node.cls == "Use":
            if node["parts"]:
                self.current_db = node["parts"][-1].lower()
        elif node.cls == "Union":
            # Hive multi-insert: each branch gets its own condition set
            # (cleaner than the reference's shared statement-wide
            # accumulator), seeded with the statement-level set: a
            # hoisted WITH's CTE-internal conditions apply to every
            # branch
            for branch in node.children:
                self._sink(branch, set(conditions), res)
        elif node.cls == "Sink":
            self._sink(node, conditions, res)
        elif node.cls == "Ddl":
            if node["target"]:
                dest = self._fill_parts(node["target"])
                res.output_tables.add(_output(dest, node["kind"]))
            if node["source"]:
                res.input_tables.add(self._fill_parts(node["source"]))
        elif node.cls in ("UpdateTable", "DeleteFromTable", "MergeIntoTable"):
            self._dml(node, conditions, res)
        else:
            raise ValueError(f"unhandled statement shape {node.cls!r}: {sql!r}")
        res.statements.append(node["kind"])

    def _sink(self, node: Node, conditions: set[str], res: LineageResult) -> None:
        """One destination's edges.  The sink schema that aligns them
        positionally (README.md:796-804) is the explicit column list,
        else a table's catalog columns.  A view's columns are the ones
        its query defines, not those of a view it replaces, and a
        directory and TOK_TMP_FILE have no catalog columns, so their
        edges keep only the parsed output names.  A view becomes a
        session-level virtual scope: later statements resolve through
        its own lineage (beyond the reference's surface)."""
        table = isinstance(node["dest"], list)
        dest = self._fill_parts(node["dest"]) if table else node["dest"]
        if dest != "TOK_TMP_FILE":
            res.output_tables.add(_output(dest, node["kind"]))
        scope = self._walk_query(node.children[0], conditions, res)
        cols = scope.cols
        if scope.branch_cols and len(scope.branch_cols) > 1:
            cols = self._merge_union(scope.branch_cols)
        dest_cols = node["cols"] or (
            self._columns(dest) if table and not node["view"] else None
        )
        for i, c in enumerate(cols):
            res.col_lines.append(
                ColLine(
                    to_table=dest,
                    to_name=(
                        f"{dest}.{dest_cols[i]}"
                        if dest_cols is not None and i < len(dest_cols)
                        else None
                    ),
                    to_name_parse=c.name,
                    from_names=tuple(c.sources),
                    conditions=frozenset(c.colfun | conditions),
                )
            )
        if node["view"] == "temp":
            # temp views are session-global and db-independent:
            # bare-name key only (the db-qualified key would pin them
            # to whatever database was current at CREATE time)
            self._views[node["dest"][-1].lower()] = scope
        elif node["view"]:
            # persistent views live in a database: qualified key ONLY —
            # a bare-name key would make a same-named TABLE after `USE
            # other` resolve to this view's stale lineage
            self._views[dest] = scope

    def _dml(self, node: Node, conditions: set[str], res: LineageResult) -> None:
        """UPDATE / DELETE / MERGE INTO (beyond the reference): the
        target is both read and modified, a MERGE source is a plain
        input.  Each assignment becomes an edge to the target tagged
        with the statement's WHERE: or MERGE: condition; MERGE folds
        its actions' assignments per column, and its star actions
        (SET *) carry none: in/out capture only."""
        merge = node.cls == "MergeIntoTable"
        ctxs = [self._walk_from(c, conditions, res) for c in node.children]
        dest = next(iter(ctxs[0].all_tables()), "TOK_MERGE_TARGET" if merge else None)
        if dest is not None:
            res.output_tables.add(dest)
        qualify = FromCtx([s for ctx in ctxs for s in ctx.sources]).make_qualify(self)
        if node["cond"] is not None:
            self._scan_subquery_exprs(node["cond"], res)
            tag = "MERGE" if merge else "WHERE"
            conditions.add(f"{tag}:{render(node['cond'], qualify)}")
        edges: list[tuple[str, list[str]]] = []
        for key, value in node["assignments"]:
            col = key["parts"][-1].lower() if key.cls == "Attr" else render(key, qualify)
            edges.append((col, extract_sources(value, qualify)))
        if merge:
            folded: dict[str, list[str]] = {}
            for col, srcs in edges:
                _union(folded.setdefault(col, []), srcs)
            edges = list(folded.items())
        for col, srcs in edges:
            res.col_lines.append(
                ColLine(
                    to_table=dest,
                    to_name=f"{dest}.{col}" if dest else col,
                    to_name_parse=col,
                    from_names=tuple(srcs),
                    conditions=frozenset(conditions),
                )
            )

    # -- query walking ------------------------------------------------------

    def _walk_query(
        self, node: Node, conditions: set[str], res: LineageResult
    ) -> Scope:
        if node.cls == "With":
            saved = dict(self._ctes)
            self._register_ctes(node, conditions, res)
            scope = self._walk_query(node.children[0], conditions, res)
            self._ctes = saved
            return scope

        if node.cls == "Union":
            # N-way UNION parses as nested binary Unions — flatten so
            # positional merge sees every branch (README.md:398-415).
            leaves: list[Node] = []

            def _flat(n: Node) -> None:
                if n.cls == "Union":
                    for c in n.children:
                        _flat(c)
                else:
                    leaves.append(n)

            _flat(node)
            branches = [
                self._walk_query(c, conditions, res) for c in leaves
            ]
            return Scope(
                _union([], *(b.tables for b in branches)),
                [c for b in branches for c in b.cols],
                branch_cols=[b.cols for b in branches],
            )

        if node.cls in ("Project", "Aggregate"):
            ctx = self._walk_from(node.children[0], conditions, res)
            qualify = ctx.make_qualify(self)
            cols: list[OutCol] = []
            for item in node["exprs"]:
                cols.extend(self._select_item(item, ctx, qualify, res))
            if (
                node.cls == "Aggregate"
                and self.extended_tags
                and node.get("keys")
            ):
                keys = ",".join(render(k, qualify) for k in node["keys"])
                conditions.add(f"GROUPBY:{keys}")
            return Scope(ctx.all_tables(), cols)

        if node.cls in ("Filter", "Having"):
            # A plain Filter above the select block and UnresolvedHaving
            # both filter the block's output; HAVING gets its own tag
            # (the reference predates HAVING and knew only WHERE:).
            inner = self._walk_query(node.children[0], conditions, res)
            tag = "HAVING" if node.cls == "Having" else "WHERE"
            # register subquery input tables (`HAVING k IN (SELECT …)`);
            # predicate position, so the returned sources are ignored
            self._scan_subquery_exprs(node["cond"], res)
            qualify = _block(inner).make_qualify(self)
            conditions.add(f"{tag}:{render(node['cond'], qualify)}")
            return inner

        if node.cls == "ScriptTransformation":
            # TRANSFORM ... USING: the script is opaque, so every
            # output column derives from every input column of the
            # child projection, tagged with the script.
            inner = self._walk_query(node.children[0], conditions, res)
            srcs = _union([], *(c.sources for c in inner.cols))
            tag = {f"COLFUN:transform using '{node['script']}'"}
            cols = [
                OutCol(name, list(srcs), set(tag))
                for name in node["out_names"]
            ]
            return Scope(inner.tables, cols)

        if node.cls == "Sort":
            inner = self._walk_query(node.children[0], conditions, res)
            if self.extended_tags:
                qualify = _block(inner).make_qualify(self)
                keys = ",".join(render(k, qualify) for k in node["keys"])
                conditions.add(f"ORDERBY:{keys}")
            return inner

        # Anything else used as a query block (rare): expose its FROM
        # tables with no column list.
        ctx = self._walk_from(node, conditions, res)
        return Scope(ctx.all_tables(), [])

    def _register_ctes(
        self, node: Node, conditions: set[str], res: LineageResult
    ) -> None:
        """CTEs resolve lexically; later CTEs see earlier ones.  A CTE
        reference is NOT an input table — its own inputs are."""
        for name, cte_query in node["ctes"]:
            self._ctes[name.lower()] = self._walk_query(cte_query, conditions, res)

    def _walk_from(
        self, node: Node, conditions: set[str], res: LineageResult
    ) -> FromCtx:
        if node.cls == "UnresolvedRelation":
            return self._relation_source(node["parts"], None, res)
        if node.cls == "SubqueryAlias":
            alias = node["alias"]
            child = node.children[0]
            if child.cls == "UnresolvedRelation":
                return self._relation_source(child["parts"], alias, res)
            scope = self._walk_query(child, conditions, res)
            return FromCtx([(alias, SubScope(scope))])
        if node.cls == "Filter":
            ctx = self._walk_from(node.children[0], conditions, res)
            self._scan_subquery_exprs(node["cond"], res)
            rendered = render(node["cond"], ctx.make_qualify(self))
            conditions.add(f"WHERE:{rendered}")  # README.md:256-258
            return ctx
        if node.cls == "Generate":
            # LATERAL VIEW: the child's sources stay visible, plus a
            # scope claiming the generator's output columns, each
            # expanding to the generator expression's source columns.
            ctx = self._walk_from(node.children[0], conditions, res)
            srcs = extract_sources(node["gen"], ctx.make_qualify(self))
            gen_cols = [
                OutCol(name, list(srcs), set(), expand=True)
                for name in node["out_names"]
            ]
            scope = Scope(ctx.all_tables(), gen_cols)
            return FromCtx(
                ctx.sources + [(node["alias"], SubScope(scope))]
            )
        if node.cls == "Join":
            left = self._walk_from(node.children[0], conditions, res)
            right = self._walk_from(node.children[1], conditions, res)
            ctx = FromCtx(left.sources + right.sources)
            if node["cond"] is not None:
                self._scan_subquery_exprs(node["cond"], res)
                rendered = render(node["cond"], ctx.make_qualify(self))
                conditions.add(f"{node['label']}:{rendered}")  # README.md:265-278
            elif node.get("using") or node.get("natural"):
                # USING/NATURAL joins have no condition() — the keys
                # live in the join type.  Render the implied equality
                # with each side qualified in ITS OWN context (the
                # merged ctx would &-join both tables for the shared
                # name).  NATURAL keys are the common column names; if
                # either side is opaque to the metastore the tag
                # degrades to the keyword instead of vanishing.
                keys = node.get("using") or self._common_columns(left, right)
                lq, rq = left.make_qualify(self), right.make_qualify(self)
                rendered = "natural"
                for c in keys:
                    eq = f"{lq([c.lower()])} = {rq([c.lower()])}"
                    rendered = (
                        eq if rendered == "natural" else f"({rendered} and {eq})"
                    )
                conditions.add(f"{node['label']}:{rendered}")
            return ctx
        if node.cls in ("Project", "Aggregate", "Union", "Having", "Sort"):
            return _block(self._walk_query(node, conditions, res))
        # unknown plan node: merge children contexts (robustness)
        merged = FromCtx([])
        for c in node.children:
            merged.sources.extend(
                self._walk_from(c, conditions, res).sources
            )
        return merged

    # -- select items -------------------------------------------------------

    def _relation_source(
        self, parts: list[str], alias: str | None, res: LineageResult
    ) -> FromCtx:
        """A FROM relation resolves to (in priority order): a CTE of
        the current statement, a view created earlier in this session,
        or a base table (recorded as an input)."""
        simple = parts[-1].lower()
        if len(parts) == 1 and simple in self._ctes:
            return FromCtx([(alias or simple, SubScope(self._ctes[simple]))])
        qname = self._fill_parts(parts)
        view = self._views.get(qname) or (
            self._views.get(simple) if len(parts) == 1 else None
        )
        if view is not None:
            return FromCtx([(alias or simple, SubScope(view))])
        res.input_tables.add(qname)
        return FromCtx([(alias, BaseTable(qname, simple))])

    def _common_columns(self, left: FromCtx, right: FromCtx) -> list[str]:
        """NATURAL-join key discovery: column names present on both
        sides, in left-side order.  Base tables answer through the
        metastore; an unknown table makes its side opaque and the
        result empty (the caller degrades the tag, it never guesses)."""

        def side(ctx: FromCtx) -> list[str] | None:
            out: list[str] = []
            for _, s in ctx.sources:
                if isinstance(s, SubScope):
                    names = [c.name.lower() for c in s.scope.cols if c.name]
                else:
                    cols = self._columns(s.qname)
                    if cols is None:
                        return None
                    names = [c.lower() for c in cols]
                _union(out, names)
            return out

        lcols, rcols = side(left), side(right)
        if lcols is None or rcols is None:
            return []
        return [c for c in lcols if c in rcols]

    def _scan_subquery_exprs(
        self, expr: Node, res: LineageResult
    ) -> list[str]:
        """Register input tables of expression-level subqueries
        (scalar / IN / EXISTS) — beyond the reference's surface (Q3
        negative), but input-table completeness matters for lineage
        consumers.  Conditions inside them are not tagged.

        Returns the subqueries' output-column sources in encounter
        order: for a select item containing a scalar subquery
        (``SELECT (SELECT max(x) FROM t2) AS m FROM t1``) those are the
        column edges flowing INTO the item (t2.x → m), which
        ``_select_item`` merges with the item's direct sources.
        Condition-level callers (WHERE / join ON) ignore the return —
        predicate subqueries gate rows, they don't feed columns."""
        extra: list[str] = []
        stack: list[Node] = [expr]
        while stack:
            n = stack.pop()
            if not isinstance(n, Node):
                continue
            if n.cls == "CaseWhen":
                # the reference's CASE rule (README.md:368-383): WHEN
                # predicates gate rows, only THEN/ELSE values are
                # lineage sources — a subquery inside a WHEN predicate
                # registers its input tables (recursive register-only
                # call, return discarded) but must not feed the item
                for cond_, val in n["branches"]:
                    self._scan_subquery_exprs(cond_, res)
                    stack.append(val)
                if n["else"] is not None:
                    stack.append(n["else"])
                continue
            if n.cls == "SubqueryExpr":
                plan = n.get("plan")
                if plan is not None:
                    scope = self._walk_query(plan, set(), res)
                    _union(extra, *(c.sources for c in scope.cols))
                # the walked scope already folded the subquery's OWN
                # output-column sources; re-pushing fields['plan']
                # would also surface its internal PREDICATE subqueries
                # (row gates, not column feeds) as select-item sources
                # — and re-walk the plan once per ancestor.  Outer
                # value expressions (children) still scan normally.
                stack.extend(n.children)
                continue
            stack.extend(n.children)
            for v in n.fields.values():
                if isinstance(v, Node):
                    stack.append(v)
                elif isinstance(v, (list, tuple)):
                    for x in v:
                        if isinstance(x, Node):
                            stack.append(x)
                        elif isinstance(x, tuple):
                            stack.extend(
                                i for i in x if isinstance(i, Node)
                            )
        return extra

    def _select_item(
        self, item: Node, ctx: FromCtx, qualify, res: LineageResult
    ) -> list[OutCol]:
        if item.cls == "Star":
            return self._expand_star(item, ctx)
        subquery_sources = self._scan_subquery_exprs(item, res)
        if item.cls == "Alias":
            name = item["name"]
            expr = item.children[0]
        elif item.cls == "UnresolvedAlias":
            expr = item.children[0]
            name = self._derived_name(expr, qualify)
        else:
            expr = item
            name = self._derived_name(expr, qualify)

        sources = extract_sources(expr, qualify)
        # a scalar subquery's output feeds the item: merge its column
        # edges after the direct ones (SELECT (SELECT max(x) FROM t2)
        # AS m FROM t1 emits t2.x → m)
        _union(sources, subquery_sources)
        rendered = render(expr, qualify)
        colfun: set[str] = set()
        # COLFUN only when the item is a real expression — a bare column
        # renders equal to its source (reference filterCondition,
        # README.md:290-297)
        if rendered and rendered != ",".join(sources):
            colfun.add(f"COLFUN:{rendered}")
        return [OutCol(name, sources, colfun)]

    def _derived_name(self, expr: Node, qualify) -> str:
        if expr.cls == "Attr":
            return expr["parts"][-1].lower()
        if expr.cls == "Literal":
            return render(expr, qualify)
        return ""

    def _expand_star(self, item: Node, ctx: FromCtx) -> list[OutCol]:
        """``SELECT *`` expansion against the catalog (reference
        README.md:228-245) — metastore-ordered columns per source."""
        target = item.get("parts")
        sources = ctx.sources
        if target:
            wanted = target[-1].lower()
            sources = [
                (a, s)
                for a, s in ctx.sources
                if (a or "").lower() == wanted
                or (isinstance(s, BaseTable) and s.simple == wanted)
            ]
        out: list[OutCol] = []
        for _, s in sources:
            if isinstance(s, SubScope):
                out.extend(
                    OutCol(c.name, list(c.sources), set(c.colfun))
                    for c in s.scope.cols
                )
                continue
            cols = self._columns(s.qname)
            if cols is None:
                raise LineageError(
                    f"SELECT * needs catalog columns for {s.qname}"
                )
            out.extend(
                OutCol(c.lower(), [f"{s.qname}.{c.lower()}"], set())
                for c in cols
            )
        return out

    # -- edge emission ------------------------------------------------------

    @staticmethod
    def _merge_union(branch_cols: list[list[OutCol]]) -> list[OutCol]:
        """Positional merge of a top-level UNION's branches (reference
        ``putSubQueryMap`` EOF path, README.md:396-425): alias from the
        first non-literal branch, sources concatenated in branch order,
        COLFUN tags unioned."""
        out: list[OutCol] = []
        width = len(branch_cols[0])
        for i in range(width):
            entries = [b[i] for b in branch_cols if i < len(b)]
            name = next(
                (e.name for e in entries if not not_normal_col(e.name)),
                entries[0].name,
            )
            sources: list[str] = []
            colfun: set[str] = set()
            for e in entries:
                sources.extend(e.sources)
                colfun |= e.colfun
            out.append(OutCol(name, sources, colfun))
        return out

    # -- validation ---------------------------------------------------------

    def _validate(self, res: LineageResult) -> None:
        """Catalog validation (reference ``LineValidater.validate``,
        README.md:760-763 — implementation absent upstream; inferred:
        every lineage endpoint must exist)."""
        problems: list[str] = []
        for t in sorted(res.input_tables):
            if self._columns(t) is None:
                problems.append(f"unknown input table: {t}")
        for table, col in dict.fromkeys(self._bindings):
            cols = self._columns(table)
            if cols is not None and col not in [c.lower() for c in cols]:
                problems.append(f"unknown column: {table}.{col}")
        if problems:
            raise LineageError("; ".join(problems))
