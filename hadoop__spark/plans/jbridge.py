"""Convert a Spark *parsed* (unresolved) logical plan into Python nodes,
and answer catalog lookups, in one py4j call each.

Two methods of ``PlanDump`` (Java source below) are the analysis
plane's whole JVM boundary.  ``dump`` parses a statement with the
session's own SQL parser and serializes the whole parsed tree to JSON,
so a statement costs one py4j call, parse included; everything
downstream (conversion, resolution, rendering, lineage) is pure
Python.  ``columns`` runs the metastore's lookup rule (the qualified
name, then the bare name: ``tableExists``, then the resolved schema of
``table``) and returns the column names as JSON, so a lookup costs one
call too.  ``PlanDump`` is compiled once per JVM with Janino's
``SimpleCompiler``, the compiler Catalyst's own code generation uses,
so it ships with every Spark distribution: there is no jar to build
and nothing to configure.

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
import org.apache.spark.sql.catalyst.parser.ParseException;
import org.apache.spark.sql.catalyst.plans.JoinType;
import org.apache.spark.sql.catalyst.trees.Origin;
import org.apache.spark.sql.catalyst.trees.TreeNode;

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
     *  the catalog resolves, as a JSON array of strings; null when none
     *  does.  An AnalysisException (a ParseException included) means
     *  "not this name"; any other exception propagates. */
    public String columns(SparkSession session, String name) throws Exception {
        String[] names = {name, name.substring(name.indexOf('.') + 1)};
        for (int i = 0; i < names.length; i++) {
            try {
                if (session.catalog().tableExists(names[i])) {
                    String[] cols = session.table(names[i]).schema().fieldNames();
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

    private int node(TreeNode n) {
        Integer seen = (Integer) ids.get(n);
        if (seen != null) return seen.intValue();
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

_DDL_TARGET_CLASSES = {
    "UnresolvedIdentifier": "nameParts",
    "UnresolvedTable": "multipartIdentifier",
    "UnresolvedTableOrView": "multipartIdentifier",
    "UnresolvedNamespace": "multipartIdentifier",
    "UnresolvedRelation": "multipartIdentifier",
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
    """Detach a parsed plan: pure Python over ``PlanDump.dump``'s node
    table for ``sql``."""
    return _Tree(json.loads(dump), sql).plan(0)


class _Tree:
    """One statement's dumped node table; ``plan``/``expr`` convert the
    node with the given id."""

    def __init__(self, nodes: list[dict], sql: str):
        self.nodes = nodes
        self.sql = sql

    def src(self, i: int) -> str | None:
        n = self.nodes[i]
        start, stop = n["s"], n["e"]
        if start is None or stop is None:
            return None
        return self.sql[start : stop + 1]

    def _ddl_target(self, n: dict) -> list[str] | None:
        """The multi-part name of a DDL statement's target table, from
        the Unresolved* placeholder among its direct children."""
        for k in n["k"]:
            ch = self.nodes[k]
            key = _DDL_TARGET_CLASSES.get(ch["c"])
            if key:
                return ch["f"][key]
        return None

    def plan(self, i: int) -> Node:
        n = self.nodes[i]
        cls, f = n["c"], n["f"]
        plan, expr = self.plan, self.expr

        if cls in _PASS_THROUGH:
            return plan(n["k"][0])

        if cls == "UnresolvedRelation":
            return Node("UnresolvedRelation", {"parts": f["multipartIdentifier"]})
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
            # WITH ctes (beyond the reference — it predates CTEs): each
            # (name, SubqueryAlias(query)) pair plus the main query child
            ctes = [
                (t["f"]["_1"], plan(self.nodes[t["f"]["_2"]]["f"]["child"]))
                for t in f["cteRelations"]
            ]
            return Node("With", {"ctes": ctes}, [plan(f["child"])])
        if cls == "InsertIntoStatement":
            table = plan(f["table"])
            return Node(
                "InsertIntoStatement",
                {
                    "table_parts": table["parts"],
                    "overwrite": f["overwrite"],
                    # lowercase like every other identifier path: a
                    # consumer joining edges on to_name case-sensitively
                    # must not see default.sink.C2 beside default.sink.c2
                    "cols": [c.lower() for c in f["userSpecifiedCols"]],
                },
                [plan(f["query"])],
            )
        if cls in ("UpdateTable", "DeleteFromTable"):
            # condition is Option[Expression] on UpdateTable but a plain
            # Expression on DeleteFromTable; the dump gives an id or null
            # for both.
            cond = f["condition"]
            fields = {"cond": expr(cond) if cond is not None else None}
            if cls == "UpdateTable":
                fields["assignments"] = self._assignments(f["assignments"])
            return Node(cls, fields, [plan(f["table"])])
        if cls == "MergeIntoTable":
            # MERGE INTO (beyond the reference): target + source relations,
            # the ON condition, and per-action SET/INSERT assignments.
            # DeleteAction and the star actions carry no assignments.
            actions = [
                {
                    "kind": self.nodes[a]["c"],
                    "assignments": self._assignments(
                        self.nodes[a]["f"].get("assignments", [])
                    ),
                }
                for key in ("matchedActions", "notMatchedActions",
                            "notMatchedBySourceActions")
                for a in f[key]
            ]
            return Node(
                "MergeIntoTable",
                {"cond": expr(f["mergeCondition"]), "actions": actions},
                [plan(f["targetTable"]), plan(f["sourceTable"])],
            )
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
        if cls == "CreateTableLikeCommand":
            return Node(
                "CreateTableLike",
                {
                    "table_parts": _table_parts(f["targetTable"]),
                    "source_parts": _table_parts(f["sourceTable"]),
                },
            )
        if cls == "InsertIntoDir":
            # INSERT OVERWRITE [LOCAL] DIRECTORY '/path' — the reference's
            # TOK_DIR destination (README.md:211-225); the path is the sink.
            return Node(
                "InsertIntoDir",
                {"path": f["storage"]["f"]["locationUri"]},
                [plan(f["child"])],
            )
        if cls == "SetCatalogAndNamespace":
            return Node("Use", {"parts": self._ddl_target(n) or []})
        if cls in ("CreateTableAsSelect", "ReplaceTableAsSelect"):
            return Node(
                "CreateTableAsSelect",
                {"table_parts": self.nodes[f["name"]]["f"]["nameParts"]},
                [plan(f["query"])],
            )
        if cls == "DropTable":
            return Node("DropTable", {"table_parts": self._ddl_target(n)})
        if cls == "TruncateTable":
            return Node("TruncateTable", {"table_parts": self._ddl_target(n)})
        if cls == "LoadData":
            return Node("LoadData", {"table_parts": self._ddl_target(n)})
        if cls == "RenameTable":
            return Node(
                "AlterTable",
                {"table_parts": self._ddl_target(n), "new_parts": f["newName"]},
            )
        if cls.startswith(("Alter", "AddColumns", "ReplaceColumns", "RenameColumn",
                           "DropColumns", "SetTableProperties", "AddPartitions",
                           "DropPartitions", "RenamePartitions")):
            return Node("AlterTable", {"table_parts": self._ddl_target(n)})
        if cls in ("CreateTable", "CreateTableStatement"):
            return Node("CreateTable", {"table_parts": self._ddl_target(n)})
        if cls == "CreateView":
            return Node(
                "CreateView",
                {"table_parts": self._ddl_target(n)},
                [plan(n["k"][1])],
            )
        if cls == "CreateViewCommand":  # CREATE [OR REPLACE] TEMP VIEW
            return Node(
                "CreateView",
                {"table_parts": _table_parts(f["name"]), "temp": True},
                [plan(f["plan"])],
            )

        # Unknown plan node: keep class name + children so the walker can
        # recurse (robustness over the full Spark SQL surface).
        return Node(cls, {}, [plan(c) for c in n["k"]])

    def _assignments(self, ids: list[int]) -> list[tuple[Node, Node]]:
        out = []
        for a in ids:
            af = self.nodes[a]["f"]
            out.append((self.expr(af["key"]), self.expr(af["value"])))
        return out

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


def _table_parts(ti: dict) -> list[str]:
    """A dumped ``TableIdentifier``'s parts: [database,] table."""
    db = ti["f"]["database"]
    return ([db] if db else []) + [ti["f"]["table"]]


def parse_statement(spark: SparkSession, sql: str) -> Node:
    """Parse one statement with Spark's own SQL parser and detach it:
    one py4j call, driver only (the analysis plane never executes
    anything).  A syntax error raises Spark's ``ParseException``."""
    jsession = spark._jsparkSession  # noqa: SLF001
    return convert_plan(_dumper(jsession).dump(jsession, sql), sql)


def table_columns(spark: SparkSession, name: str) -> list[str] | None:
    """The columns of the relation ``name`` names (the qualified name,
    then the bare name), or ``None`` when neither resolves: one py4j
    call, analysis metadata only, no Spark job."""
    jsession = spark._jsparkSession  # noqa: SLF001
    found = _dumper(jsession).columns(jsession, name)
    return None if found is None else json.loads(found)
