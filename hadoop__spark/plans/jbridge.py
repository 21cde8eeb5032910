"""Convert a Spark *parsed* (unresolved) logical plan into Python nodes,
and answer catalog lookups, in one py4j call each.

Two methods of ``PlanDump`` (Java source below) are the analysis
plane's whole JVM boundary.  ``dump`` parses a statement with the
session's own SQL parser and serializes the whole parsed tree to JSON,
so a statement costs one py4j call, parse included; everything
downstream (conversion, resolution, rendering, lineage) is pure
Python.  ``columns`` runs the metastore's lookup rule (the qualified
name, then the bare name) against the session catalog and returns the
column names as JSON, so a lookup costs one call too.  It reads state
the catalog already holds: a temp view's stored schema or a table's
metadata, with no parse and no analysis; only a view with no analyzed
plan (a permanent view, a temp view defined by SQL text) is analyzed.
``PlanDump`` is compiled once per JVM with Janino's ``SimpleCompiler``,
the compiler Catalyst's own code generation uses, so it ships with
every Spark distribution: there is no jar to build and nothing to
configure.

The conversion is also the one place that decides what a statement
is (``_Tree.statement``): every destination — a table, a directory or
a bare SELECT's ``TOK_TMP_FILE`` — is one ``Sink`` node, every other
Catalyst ``Command`` one ``Ddl`` node, and each shape carries its
statement kind, so the analyzer (:mod:`lineage`) handles each shape at
one site.  Catalyst says what a command is: the dump flags a root that
is a ``Command``, so only a query reaches the bare-SELECT sink, and a
command's kind is the reference's (CREATETABLE, LOAD, DROP, TRUNCATE,
or ALTER for any statement whose first keyword is ALTER), else its
class name.  Every table or view name is read by one reader,
``_Tree.name``, whatever Catalyst node carries it.  An
``IDENTIFIER('name')`` clause arrives as a plain name: the dump
replaces a ``PlanWithUnresolvedIdentifier`` whose name folds to a
constant with the plan its builder makes of that name (built once,
under the clause's ``Origin``), so ``insert into identifier('t')``
dumps as ``insert into t`` does.

Each expression node carries the exact source-text slice from
Catalyst's ``Origin`` (startIndex / stopIndex into the statement),
which is what lets the renderer reproduce literals exactly as written
(``"Category159"`` keeps its double quotes, ``'$V_PARYMD'`` its single
quotes — the reference emits raw token text, reference
README.md:523-526).  The dump carries only the indices; the slice is
taken here, in Python, because Catalyst's indices count code points,
as Python ``str`` indexing does (a JVM ``substring`` counts UTF-16
units and would shift past a non-BMP character).

Like the reference's ``ParseDriver.parse`` (README.md:747-750) and its
metastore lookups, neither call touches executors.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import dataclass, field
from typing import Any

from py4j import protocol
from py4j.java_gateway import JVMView
from pyspark.sql import SparkSession


@dataclass
class Node:
    """A parsed plan/expression node, detached from the JVM."""

    cls: str
    fields: dict[str, Any] = field(default_factory=dict)
    children: list["Node"] = field(default_factory=list)
    src: str | None = None  # exact source slice, expressions only

    def __getitem__(self, key: str) -> Any:
        return self.fields[key]

    def get(self, key: str, default: Any = None) -> Any:
        return self.fields.get(key, default)


#: The dump format: a JSON array of TreeNodes, the root first.  A node
#: is ``{"c": simple class name, "s"/"e": Origin start/stop index or
#: null, "k": children() as node ids, "f": product fields}``; fields
#: are keyed by ``productElementName`` (by position when it is empty).
#: The root alone adds ``"cmd"``: whether it is a Catalyst ``Command``.
#: A ``PlanWithUnresolvedIdentifier`` whose name folds is no node of
#: its own: its id is that of the plan it builds.
#: A field value is a node id (TreeNode), ``null`` (null or None), the
#: value of a ``Some``, an array (Seq; byte[] as its unsigned bytes),
#: ``{"c", "f"}`` (any other Product; a JoinType adds its ``"sql"``),
#: a string, number or bool as py4j would auto-convert it, or else
#: ``toString()``.  ``columns`` answers a JSON array of strings, or
#: null.
_PLAN_DUMP_JAVA = r"""
import java.util.ArrayList;
import java.util.IdentityHashMap;
import org.apache.spark.sql.AnalysisException;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.TableIdentifier;
import org.apache.spark.sql.catalyst.analysis.IdentifierResolution$;
import org.apache.spark.sql.catalyst.analysis.PlanWithUnresolvedIdentifier;
import org.apache.spark.sql.catalyst.catalog.CatalogTable;
import org.apache.spark.sql.catalyst.catalog.CatalogTableType;
import org.apache.spark.sql.catalyst.catalog.SessionCatalog;
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation;
import org.apache.spark.sql.catalyst.parser.ParseException;
import org.apache.spark.sql.catalyst.plans.JoinType;
import org.apache.spark.sql.catalyst.plans.logical.Command;
import org.apache.spark.sql.catalyst.trees.CurrentOrigin$;
import org.apache.spark.sql.catalyst.trees.Origin;
import org.apache.spark.sql.catalyst.trees.TreeNode;
import org.apache.spark.sql.types.StructType;

public class PlanDump {
    private final IdentityHashMap ids = new IdentityHashMap();
    private final ArrayList nodes = new ArrayList();

    /** Parse one statement and dump its plan.  Each call walks with a
     *  fresh instance: concurrent calls share nothing. */
    public String dump(SparkSession session, String sql) throws ParseException {
        PlanDump walk = new PlanDump();
        walk.node(session.sessionState().sqlParser().parsePlan(sql));
        StringBuilder sb = new StringBuilder("[");
        for (int i = 0; i < walk.nodes.size(); i++) {
            if (i > 0) sb.append(',');
            sb.append((String) walk.nodes.get(i));
        }
        return sb.append(']').toString();
    }

    /** The columns of the first of the qualified name and its bare name
     *  the session catalog holds, as a JSON array of strings; null when
     *  none does.  A name is split at its first dot, never parsed, and
     *  the catalog formats its parts (case).  An AnalysisException
     *  means "not this name"; any other exception propagates. */
    public String columns(SparkSession session, String name) throws Exception {
        SessionCatalog catalog = session.sessionState().catalog();
        String[] names = {name, name.substring(name.indexOf('.') + 1)};
        for (int i = 0; i < names.length; i++) {
            try {
                StructType schema = schema(session, catalog, names[i]);
                if (schema != null) {
                    String[] cols = schema.fieldNames();
                    StringBuilder sb = new StringBuilder("[");
                    for (int j = 0; j < cols.length; j++) {
                        if (j > 0) sb.append(',');
                        string(sb, cols[j]);
                    }
                    return sb.append(']').toString();
                }
            } catch (Exception e) {
                // Janino rejects a catch of a checked exception its try
                // body does not declare, and Scala methods declare none
                if (!(e instanceof AnalysisException)) throw e;
            }
        }
        return null;
    }

    /** The schema of the relation a "table" or "db.table" name names,
     *  or null when the catalog holds none.  Only a view with no
     *  analyzed plan (a permanent view, a SQL-text temp view) is
     *  analyzed, so one that no longer resolves throws. */
    private static StructType schema(SparkSession session, SessionCatalog catalog, String name)
            throws Exception {
        int dot = name.indexOf('.');
        String db = dot < 0 ? null : name.substring(0, dot);
        String table = name.substring(dot + 1);
        scala.Option temp = db == null ? catalog.getRawTempView(table)
            : catalog.isGlobalTempViewDB(db) ? catalog.getRawGlobalTempView(table)
            : scala.Option.empty();
        if (temp.isDefined()) {
            TemporaryViewRelation view = (TemporaryViewRelation) temp.get();
            return view.plan().isDefined() ? view.tableMeta().schema() : session.table(name).schema();
        }
        TableIdentifier id = new TableIdentifier(table, scala.Option.apply(db));
        if (!catalog.tableExists(id)) return null;
        CatalogTable meta = catalog.getTableMetadata(id);
        // a v1 table's stored schema holds its partition columns last
        return meta.tableType().equals(CatalogTableType.VIEW())
            ? session.table(name).schema() : meta.schema();
    }

    private int node(TreeNode n) {
        Integer seen = (Integer) ids.get(n);
        if (seen != null) return seen.intValue();
        if (n instanceof PlanWithUnresolvedIdentifier
                && ((PlanWithUnresolvedIdentifier) n).identifierExpr().foldable()) {
            // IDENTIFIER('name'): dump the plan its builder makes of the
            // name, built once under the clause's Origin
            PlanWithUnresolvedIdentifier p = (PlanWithUnresolvedIdentifier) n;
            TreeNode built;
            CurrentOrigin$.MODULE$.set(p.origin());
            try {
                built = (TreeNode) p.planBuilder().apply(
                    IdentifierResolution$.MODULE$.evalIdentifierExpr(p.identifierExpr()),
                    p.children());
            } finally {
                CurrentOrigin$.MODULE$.reset();
            }
            Integer id = Integer.valueOf(node(built));
            ids.put(n, id);
            return id.intValue();
        }
        int id = nodes.size();
        ids.put(n, Integer.valueOf(id));
        nodes.add(null);
        StringBuilder sb = new StringBuilder("{\"c\":");
        string(sb, n.getClass().getSimpleName());
        Origin o = n.origin();
        sb.append(",\"s\":");
        value(sb, o.startIndex());
        sb.append(",\"e\":");
        value(sb, o.stopIndex());
        sb.append(",\"k\":");
        value(sb, n.children());
        sb.append(",\"f\":");
        fields(sb, n);
        if (id == 0) sb.append(",\"cmd\":").append(n instanceof Command);
        nodes.set(id, sb.append('}').toString());
        return id;
    }

    private void fields(StringBuilder sb, scala.Product p) {
        sb.append('{');
        for (int i = 0; i < p.productArity(); i++) {
            if (i > 0) sb.append(',');
            String name = p.productElementName(i);
            string(sb, name.isEmpty() ? String.valueOf(i) : name);
            sb.append(':');
            value(sb, p.productElement(i));
        }
        sb.append('}');
    }

    private void value(StringBuilder sb, Object v) {
        if (v == null) {
            sb.append("null");
        } else if (v instanceof TreeNode) {
            sb.append(node((TreeNode) v));
        } else if (v instanceof scala.Option) {
            scala.Option o = (scala.Option) v;
            value(sb, o.isEmpty() ? null : o.get());
        } else if (v instanceof String) {
            string(sb, (String) v);
        } else if (v instanceof Number || v instanceof Boolean) {
            sb.append(v.toString());  // Integer, Long, Double, Float ...
        } else if (v instanceof scala.collection.Seq) {
            sb.append('[');
            scala.collection.Iterator it = ((scala.collection.Seq) v).iterator();
            for (int i = 0; it.hasNext(); i++) {
                if (i > 0) sb.append(',');
                value(sb, it.next());
            }
            sb.append(']');
        } else if (v instanceof byte[]) {
            byte[] b = (byte[]) v;
            sb.append('[');
            for (int i = 0; i < b.length; i++) {
                if (i > 0) sb.append(',');
                sb.append(b[i] & 0xff);
            }
            sb.append(']');
        } else if (v instanceof scala.Product) {
            sb.append("{\"c\":");
            string(sb, v.getClass().getSimpleName());
            if (v instanceof JoinType) {
                sb.append(",\"sql\":");
                string(sb, ((JoinType) v).sql());
            }
            sb.append(",\"f\":");
            fields(sb, (scala.Product) v);
            sb.append('}');
        } else {
            String s;
            try {
                s = v.toString();
            } catch (RuntimeException e) {
                s = null;
            }
            if (s == null) sb.append("null"); else string(sb, s);
        }
    }

    private static void string(StringBuilder sb, String s) {
        sb.append('"');
        for (int i = 0; i < s.length(); i++) {
            char c = s.charAt(i);
            if (c == '"' || c == '\\') {
                sb.append('\\').append(c);
            } else if (c < 0x20 || Character.isSurrogate(c)) {
                sb.append(String.format("\\u%04x", new Object[] {Integer.valueOf(c)}));
            } else {
                sb.append(c);
            }
        }
        sb.append('"');
    }
}
"""

_dumpers: dict[Any, Any] = {}
_dumpers_lock = threading.Lock()


def _dumper(jsession):
    """The JVM's ``PlanDump`` instance, compiled on first use and cached
    per py4j gateway (one JVM), never per analyzer or statement."""
    client = jsession._gateway_client  # noqa: SLF001
    dumper = _dumpers.get(client)
    if dumper is None:
        with _dumpers_lock:
            dumper = _dumpers.get(client)
            if dumper is None:
                jvm = JVMView(client, protocol.DEFAULT_JVM_NAME, id=protocol.DEFAULT_JVM_ID)
                compiler = jvm.org.codehaus.janino.SimpleCompiler()
                compiler.setParentClassLoader(jsession.getClass().getClassLoader())
                compiler.cook(_PLAN_DUMP_JAVA)
                cls = compiler.getClassLoader().loadClass("PlanDump")
                dumper = _dumpers[client] = cls.newInstance()
    return dumper


#: Plan wrappers that contribute nothing to lineage — unwrapped in place
#: (the reference likewise has no ORDER BY / LIMIT handling,
#: reference README.md §2.8).  Sort is NOT here: it converts to a node
#: so the analyzer's extended-tags mode can emit ``ORDERBY:`` (default
#: mode ignores it, matching the reference).
_PASS_THROUGH = {
    "GlobalLimit",
    "LocalLimit",
    "Offset",
    "Distinct",
    "UnresolvedHint",
    "WithWindowDefinition",
    # DISTRIBUTE BY / CLUSTER BY: physical placement only, no lineage
    "RepartitionByExpression",
    "Repartition",
}

#: DDL statements by class: (statement kind, whether the target table
#: is an output).
_DDL_KINDS = {
    "CreateTable": ("CREATETABLE", True),
    "CreateTableStatement": ("CREATETABLE", True),
    "LoadData": ("LOAD", True),
    "DropTable": ("DROP", False),
    "TruncateTable": ("TRUNCATE", False),
}

_BINARY_OPS = {
    "EqualTo": "=",
    "EqualNullSafe": "<=>",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "Add": "+",
    "Subtract": "-",
    "Multiply": "*",
    "Divide": "/",
    "Remainder": "%",
    "BitwiseAnd": "&",
    "BitwiseOr": "|",
    "BitwiseXor": "^",
}


def convert_plan(dump: str, sql: str) -> Node:
    """Detach a parsed statement as one of the shapes
    ``_Tree.statement`` decides: pure Python over ``PlanDump.dump``'s
    node table for ``sql``."""
    return _Tree(json.loads(dump), sql).statement(0)


class _Tree:
    """One statement's dumped node table; ``statement``/``plan``/``expr``
    convert the node with the given id."""

    def __init__(self, nodes: list[dict], sql: str):
        self.nodes = nodes
        self.sql = sql

    def src(self, i: int) -> str | None:
        n = self.nodes[i]
        start, stop = n["s"], n["e"]
        if start is None or stop is None:
            return None
        return self.sql[start : stop + 1]

    def name(self, v: Any) -> list[str] | None:
        """The parts of the table or view name ``v`` carries: a node id
        of an ``UnresolvedIdentifier`` or an ``UnresolvedRelation`` /
        ``Table`` / ``TableOrView`` / ``View``, or a dumped
        ``TableIdentifier`` ([database,] table).  ``None`` for anything
        else: a namespace is never a table name."""
        if isinstance(v, dict):
            if v["c"] != "TableIdentifier":
                return None
            db = v["f"]["database"]
            return ([db] if db else []) + [v["f"]["table"]]
        cls, f = self.nodes[v]["c"], self.nodes[v]["f"]
        if cls == "UnresolvedIdentifier":
            return f["nameParts"]
        if cls in (
            "UnresolvedRelation", "UnresolvedTable", "UnresolvedTableOrView", "UnresolvedView"
        ):
            return f["multipartIdentifier"]
        return None

    def _ddl_target(self, n: dict) -> list[str] | None:
        """A DDL statement's target: the first child that names a table
        or view."""
        return next(filter(None, map(self.name, n["k"])), None)

    def statement(self, i: int) -> Node:
        """Decide what the root statement is.  Every destination is a
        ``Sink`` (reference TOK_DESTINATION, README.md:211-225): table
        parts, a directory path or a bare SELECT's ``TOK_TMP_FILE``,
        the explicit column list, the statement kind and the view
        flag, with the query as its child.  ``Use``, ``UpdateTable``,
        ``DeleteFromTable`` and ``MergeIntoTable`` are their own
        shapes, a Hive multi-insert is a ``Union`` of Sinks, and a
        statement-level WITH wraps one of these.  Any other root that
        is a Catalyst ``Command`` is a ``Ddl`` (its kind, output table
        and input table): kind from ``_DDL_KINDS``, else ALTER when the
        statement starts with ALTER (reference S9, its whole ALTER
        token range) with the named table or view as an output, else
        the class name, upper-cased without its ``Command`` or
        ``Statement`` suffix.  Every shape carries its statement
        ``kind``.  Every table or view name comes from ``name``, a
        DDL target from the first child ``name`` answers; ``Use`` (USE
        db and USE NAMESPACE / DATABASE / SCHEMA db) carries the
        namespace's parts."""
        n = self.nodes[i]
        cls, f = n["c"], n["f"]
        plan = self.plan

        if cls == "UnresolvedWith":
            return self._with(f, self.statement)
        if cls == "Union" and all(
            self.nodes[k]["c"] in ("InsertIntoStatement", "InsertIntoDir") for k in n["k"]
        ):
            # `FROM src INSERT … INSERT …`: one Sink per branch, each
            # with the FROM duplicated into its query
            return Node("Union", {"kind": "MULTIINSERT"}, [self.statement(k) for k in n["k"]])
        if cls == "InsertIntoStatement":
            return _sink("INSERT", self.name(f["table"]), plan(f["query"]), f["userSpecifiedCols"])
        if cls == "InsertIntoDir":  # INSERT OVERWRITE [LOCAL] DIRECTORY '/path'
            path = f["storage"]["f"]["locationUri"] or "TOK_DIR"
            return _sink("INSERT", path, plan(f["child"]))
        if cls in ("CreateTableAsSelect", "ReplaceTableAsSelect"):
            return _sink("CREATETABLE", self.name(f["name"]), plan(f["query"]))
        if cls in ("CreateView", "CreateViewCommand"):
            # CreateViewCommand is CREATE [OR REPLACE] TEMP VIEW
            temp = cls == "CreateViewCommand"
            parts = self.name(f["name" if temp else "child"])
            cols = [c["f"]["_1"] for c in f["userSpecifiedColumns"]]
            query = plan(f["plan" if temp else "query"])
            return _sink("CREATEVIEW", parts, query, cols, "temp" if temp else "view")
        if cls == "AlterViewAs":
            # ALTER VIEW v AS <query> redefines the view as CREATE VIEW does
            return _sink("ALTER", self.name(f["child"]), plan(f["query"]), view="view")
        if cls in ("UpdateTable", "DeleteFromTable"):
            # condition is Option[Expression] on UpdateTable but a plain
            # Expression on DeleteFromTable; the dump gives an id or
            # null for both.
            kind = "UPDATE" if cls == "UpdateTable" else "DELETE"
            return self._dml(cls, kind, [f["table"]], f["condition"], f.get("assignments", []))
        if cls == "MergeIntoTable":
            # every action's SET/INSERT assignments in one list;
            # DeleteAction and the star actions carry none
            pairs = [
                p
                for key in ("matchedActions", "notMatchedActions", "notMatchedBySourceActions")
                for a in f[key]
                for p in self.nodes[a]["f"].get("assignments", [])
            ]
            tables = [f["targetTable"], f["sourceTable"]]
            return self._dml(cls, "MERGE", tables, f["mergeCondition"], pairs)
        if cls in ("SetCatalogAndNamespace", "SetNamespaceCommand"):
            # USE [NAMESPACE|DATABASE|SCHEMA] db names a namespace, never
            # a table (none when an IDENTIFIER clause does not fold)
            parts = f.get("namespace") or self.nodes[f["child"]]["f"].get("multipartIdentifier")
            return Node("Use", {"kind": "USE", "parts": parts})
        if cls == "CreateTableLikeCommand":
            # schema copy: the template table is an input, no data moves
            return _ddl("CREATETABLE", self.name(f["targetTable"]), self.name(f["sourceTable"]))
        if not n.get("cmd"):
            # a query: a bare SELECT's pseudo-destination, reference
            # README.md:211-225
            return _sink("SELECT", "TOK_TMP_FILE", plan(i))
        if cls in _DDL_KINDS:
            kind, has_target = _DDL_KINDS[cls]
            return _ddl(kind, self._ddl_target(n) if has_target else None)
        if re.match(r"alter\b", self.src(i) or "", re.IGNORECASE):
            # the reference's ALTER is the whole ALTER token range (S9)
            return _ddl("ALTER", self._ddl_target(n))
        # any other command: no lineage, its kind named after its class
        # (`ClearCacheCommand$` is a Scala object)
        kind = cls.removesuffix("$").removesuffix("Command").removesuffix("Statement")
        return _ddl(kind.upper())

    def plan(self, i: int) -> Node:
        n = self.nodes[i]
        cls, f = n["c"], n["f"]
        plan, expr = self.plan, self.expr

        if cls in _PASS_THROUGH:
            return plan(n["k"][0])

        if cls == "UnresolvedRelation":
            return Node("UnresolvedRelation", {"parts": self.name(i)})
        if cls == "SubqueryAlias":
            return Node(
                "SubqueryAlias",
                {"alias": f["identifier"]["f"]["name"]},
                [plan(f["child"])],
            )
        if cls == "Project":
            plist = [expr(e) for e in f["projectList"]]
            return Node("Project", {"exprs": plist}, [plan(f["child"])])
        if cls == "Aggregate":
            aggs = [expr(e) for e in f["aggregateExpressions"]]
            keys = [expr(e) for e in f["groupingExpressions"]]
            return Node("Aggregate", {"exprs": aggs, "keys": keys}, [plan(f["child"])])
        if cls == "Filter":
            return Node("Filter", {"cond": expr(f["condition"])}, [plan(f["child"])])
        if cls == "UnresolvedHaving":
            # Distinct node so the analyzer can tag HAVING: (the reference
            # predates HAVING and had only WHERE:/JOIN tags).
            return Node(
                "Having", {"cond": expr(f["havingCondition"])}, [plan(f["child"])]
            )
        if cls == "Sort":
            keys = [expr(self.nodes[so]["f"]["child"]) for so in f["order"]]
            return Node("Sort", {"keys": keys}, [plan(f["child"])])
        if cls == "Join":
            jcond = f["condition"]
            # USING/NATURAL joins carry their keys in the join TYPE
            # (UsingJoin(tpe, cols) / NaturalJoin(tpe)), with condition
            # undefined — unwrap to the inner type for the label and
            # keep the keys so the analyzer can emit the join-condition
            # tag.
            jtype = f["joinType"]
            using: list[str] | None = None
            natural = False
            if jtype["c"] == "UsingJoin":
                using = jtype["f"]["usingColumns"]
                jtype = jtype["f"]["tpe"]
            elif jtype["c"] == "NaturalJoin":
                natural = True
                jtype = jtype["f"]["tpe"]
            # Inner→JOIN, FullOuter→FULLOUTERJOIN … — the reference labels
            # joins by stripping TOK_ from the Hive token (README.md:276).
            label = jtype["sql"].replace(" ", "")
            if label in ("INNER", "CROSS"):
                label = "JOIN"
            elif not label.endswith("JOIN"):
                label += "JOIN"
            return Node(
                "Join",
                {
                    "label": label,
                    "cond": expr(jcond) if jcond is not None else None,
                    "using": using,
                    "natural": natural,
                },
                [plan(f["left"]), plan(f["right"])],
            )
        if cls == "Union":
            return Node("Union", {}, [plan(c) for c in n["k"]])
        if cls == "UnresolvedWith":
            return self._with(f, plan)
        if cls == "ScriptTransformation":
            # Hive TRANSFORM ... USING 'script' (beyond the reference): an
            # opaque row transform — every output column derives from every
            # input expression of the child projection.
            return Node(
                "ScriptTransformation",
                {
                    "script": f["script"],
                    "out_names": [
                        self.nodes[a]["f"]["name"].lower() for a in f["output"]
                    ],
                },
                [plan(f["child"])],
            )
        if cls == "Generate":
            # LATERAL VIEW (beyond the reference): generator output columns
            # carry the generator expression's sources.
            outs = [expr(a) for a in f["generatorOutput"]]
            return Node(
                "Generate",
                {
                    "alias": f["qualifier"],
                    "out_names": [
                        o["parts"][-1].lower() for o in outs if o.cls == "Attr"
                    ],
                    "gen": expr(f["generator"]),
                },
                [plan(f["child"])],
            )
        # Unknown plan node: keep class name + children so the walker can
        # recurse (robustness over the full Spark SQL surface).
        return Node(cls, {}, [plan(c) for c in n["k"]])

    def _with(self, f: dict, child) -> Node:
        """WITH ctes (beyond the reference — it predates CTEs): each
        (name, SubqueryAlias(query)) pair plus the main child, converted
        by ``child``."""
        ctes = [
            (t["f"]["_1"], self.plan(self.nodes[t["f"]["_2"]]["f"]["child"]))
            for t in f["cteRelations"]
        ]
        return Node("With", {"ctes": ctes}, [child(f["child"])])

    def _dml(
        self, cls: str, kind: str, tables: list[int], cond: int | None, pairs: list[int]
    ) -> Node:
        """UPDATE / DELETE / MERGE INTO (beyond the reference): the
        target (and MERGE's source) relation as children, the condition
        and the ``SET key = value`` assignments."""
        fields = {
            "kind": kind,
            "cond": None if cond is None else self.expr(cond),
            "assignments": [
                (self.expr(self.nodes[a]["f"]["key"]), self.expr(self.nodes[a]["f"]["value"]))
                for a in pairs
            ],
        }
        return Node(cls, fields, [self.plan(t) for t in tables])

    def expr(self, i: int) -> Node:
        n = self.nodes[i]
        cls, f = n["c"], n["f"]
        expr = self.expr
        src = self.src(i)

        if cls == "UnresolvedAttribute":
            return Node("Attr", {"parts": f["nameParts"]}, src=src)
        if cls == "UnresolvedStar":
            return Node("Star", {"parts": f["target"]}, src=src)
        if cls == "Alias":
            return Node("Alias", {"name": f["name"]}, [expr(f["child"])], src=src)
        if cls == "UnresolvedAlias":
            return Node("UnresolvedAlias", {}, [expr(f["child"])], src=src)
        if cls == "Literal":
            value = f["value"]
            if isinstance(value, list):  # byte[]: py4j delivers bytes
                value = bytes(value)
            text = None if value is None else str(value)
            return Node("Literal", {"value": text}, src=src)
        if cls == "UnresolvedFunction":
            return Node(
                "Function",
                {"name": ".".join(f["nameParts"]), "distinct": f["isDistinct"]},
                [expr(a) for a in f["arguments"]],
                src=src,
            )
        if cls in ("And", "Or"):
            return Node(cls, {}, [expr(f["left"]), expr(f["right"])], src=src)
        if cls in _BINARY_OPS:
            return Node(
                "BinOp",
                {"op": _BINARY_OPS[cls]},
                [expr(f["left"]), expr(f["right"])],
                src=src,
            )
        if cls == "Not":
            return Node("Not", {}, [expr(f["child"])], src=src)
        if cls in ("UnaryMinus", "UnaryPositive"):
            sign = "-" if cls == "UnaryMinus" else "+"
            return Node("Unary", {"op": sign}, [expr(f["child"])], src=src)
        if cls == "BitwiseNot":
            return Node("Unary", {"op": "~"}, [expr(f["child"])], src=src)
        if cls == "In":
            return Node(
                "In", {}, [expr(f["value"])] + [expr(e) for e in f["list"]], src=src
            )
        if cls in ("Like", "RLike", "ILike"):
            kw = {"Like": "like", "RLike": "rlike", "ILike": "ilike"}[cls]
            return Node(
                "LikeOp", {"kw": kw}, [expr(f["left"]), expr(f["right"])], src=src
            )
        if cls in ("IsNull", "IsNotNull"):
            kw = "isnull" if cls == "IsNull" else "isnotnull"
            return Node("NullTest", {"kw": kw}, [expr(f["child"])], src=src)
        if cls == "CaseWhen":
            els = f["elseValue"]
            return Node(
                "CaseWhen",
                {
                    "branches": [
                        (expr(t["f"]["_1"]), expr(t["f"]["_2"]))
                        for t in f["branches"]
                    ],
                    "else": expr(els) if els is not None else None,
                },
                src=src,
            )
        if cls == "UnresolvedExtractValue":
            return Node(
                "Subscript", {}, [expr(f["child"]), expr(f["extraction"])], src=src
            )

        if cls in ("ScalarSubquery", "Exists", "ListQuery", "LateralSubquery"):
            # expression-level subquery: keep the inner plan so the walker
            # can register its input tables (beyond the reference's Q3).
            # The EXPRESSION origin is unreliable here — Exists spans
            # `NOT EXISTS (…)` under a NOT and the WHOLE statement when
            # bare — but the inner PLAN's origin is the exact subquery
            # text in every case; carry it for the renderer.
            inner = f["plan"]
            return Node(
                "SubqueryExpr",
                {"plan": self.plan(inner), "kind": cls, "plan_src": self.src(inner)},
                src=src,
            )
        if cls == "InSubquery":
            values = [expr(v) for v in f["values"]]
            inner = self.nodes[f["query"]]["f"]["plan"]  # ListQuery's inner plan
            return Node(
                "SubqueryExpr",
                {"plan": self.plan(inner), "kind": cls, "plan_src": self.src(inner)},
                values,
                src=src,
            )

        # Unknown expression: generic node; renderer falls back to the
        # source slice, sources = union over children.
        return Node("Opaque", {"cls": cls}, [expr(c) for c in n["k"]], src=src)


def _sink(
    kind: str,
    dest: list[str] | str,
    query: Node,
    cols: list[str] | None = None,
    view: str | None = None,
) -> Node:
    """A destination: table parts (a list), else a directory path or
    ``TOK_TMP_FILE``; ``cols`` is the explicit column list, lowercased
    like every other identifier path (a consumer joining edges on
    ``to_name`` case-sensitively must not see ``sink.C2`` beside
    ``sink.c2``); ``view`` is ``"temp"`` or ``"view"`` for CREATE
    VIEW, ``"view"`` for ALTER VIEW … AS."""
    cols = [c.lower() for c in cols or []]
    return Node("Sink", {"kind": kind, "dest": dest, "cols": cols, "view": view}, [query])


def _ddl(
    kind: str, target: list[str] | None = None, source: list[str] | None = None
) -> Node:
    """A statement with no query: its output table and its input
    table, as name parts, when it has them.  An ALTER's output carries
    the ``ALTER`` tag (reference README.md:259-263)."""
    return Node("Ddl", {"kind": kind, "target": target, "source": source})


def parse_statement(spark: SparkSession, sql: str) -> Node:
    """Parse one statement with Spark's own SQL parser and detach it:
    one py4j call, driver only (the analysis plane never executes
    anything).  A syntax error raises Spark's ``ParseException``, and
    an ``IDENTIFIER`` clause that folds to no name (``identifier(1)``)
    Spark's ``AnalysisException``, as ``spark.sql`` would."""
    jsession = spark._jsparkSession  # noqa: SLF001
    return convert_plan(_dumper(jsession).dump(jsession, sql), sql)


def table_columns(spark: SparkSession, name: str) -> list[str] | None:
    """The columns of the relation ``name`` names (the qualified name,
    then the bare name), or ``None`` when neither resolves: one py4j
    call, analysis metadata only, no Spark job."""
    jsession = spark._jsparkSession  # noqa: SLF001
    found = _dumper(jsession).columns(jsession, name)
    return None if found is None else json.loads(found)
