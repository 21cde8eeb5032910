"""Negative-surface lineage tests: adversarial HiveQL that must
degrade GRACEFULLY, never crash the analyzer.

The reference's operational value was robustness on unknown input —
``LineParser`` treats any unrecognized function token as an opaque
expression and keeps walking (reference README.md:471-487).  These
tests pin the analyzer's behavior on inputs outside the seven goldens:
unknown multi-argument functions in filters, nested CASE inside a
subscript, UNION branches with mismatched arity, deep subquery
nesting, raw syntax errors, and validation failures — so a future
refactor that starts throwing on any of them fails loudly here."""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException

from hadoop__spark.plans import LineageAnalyzer, LineageError
from hadoop__spark.plans.lineage import DictMetastore


@pytest.fixture()
def analyzer(spark):
    ms = DictMetastore(
        {
            "db.src": ["a", "b", "m", "k"],
            "db.src2": ["k", "z"],
            "db.dest": ["x"],
            "db.t2": ["c", "d"],
        }
    )
    return LineageAnalyzer(spark, ms)


def test_unknown_function_with_args_in_where(analyzer):
    """An unregistered 3-arg UDF in a WHERE must not break analysis:
    the predicate lands as an opaque WHERE: tag with every column
    reference qualified, and column lineage is unaffected."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where my_udf(a, b, 3) > 0"
    )
    assert res.input_tables == {"db.src"}
    assert res.output_tables == {"db.dest"}
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert set(line.conditions) == {
        "WHERE:my_udf(db.src.a,db.src.b,3) > 0"
    }
    assert line.to_name == "db.dest.x"


def test_unknown_function_in_select_collects_all_args(analyzer):
    """An unknown function in the projection contributes ALL its column
    arguments as sources and tags the expression COLFUN: — the
    pass-through contract (reference README.md:471-487)."""
    res = analyzer.analyze(
        "use db;insert into table dest select some_udf(a, b, k) from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.src.b", "db.src.k"]
    assert set(line.conditions) == {
        "COLFUN:some_udf(db.src.a,db.src.b,db.src.k)"
    }


def test_nested_case_inside_subscript(analyzer):
    """A CASE WHEN (with a nested function call) used as a map
    subscript key parses and renders as one COLFUN tag; the lineage
    source is the subscripted map column."""
    res = analyzer.analyze(
        "use db;insert into table dest select "
        "m[case when k=1 then concat('x','y') else 'z' end] from src"
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.m",)
    assert set(line.conditions) == {
        "COLFUN:db.src.m[case when db.src.k = 1 "
        "then concat('x','y') else 'z' end]"
    }
    assert line.to_name == "db.dest.x"


def test_union_mismatched_arity_degrades(analyzer):
    """UNION branches of different arity: Spark's parser accepts the
    statement (resolution would fail later), and the analyzer keeps
    going — matched positions merge sources across branches, the
    orphaned column keeps its lineage with NO sink assignment
    (to_name None), and validate=True does not turn this into an
    error (validation checks tables, not arity)."""
    sql = (
        "use db;insert into table dest "
        "select a, b from src union all select c from t2"
    )
    for validate in (False, True):
        res = analyzer.analyze(sql, validate=validate)
        assert res.input_tables == {"db.src", "db.t2"}
        lines = {l.to_name_parse: l for l in res.col_lines}
        assert set(lines) == {"a", "b"}
        assert sorted(lines["a"].from_names) == ["db.src.a", "db.t2.c"]
        assert lines["a"].to_name == "db.dest.x"
        assert lines["b"].from_names == ("db.src.b",)
        assert lines["b"].to_name is None


def test_deep_nesting_accumulates_all_filters(analyzer):
    """Three levels of FROM-subquery nesting: lineage tunnels through
    every level and each level's WHERE lands as its own tag."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from "
        "(select a from (select a, b from src where b > 1) x "
        "where a < 5) y"
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert set(line.conditions) == {
        "WHERE:db.src.b > 1",
        "WHERE:db.src.a < 5",
    }


def test_syntax_error_raises_parse_exception(analyzer):
    """Garbage SQL surfaces Spark's ParseException unchanged (a typed,
    diagnosable failure — not a LineageError and not silence)."""
    with pytest.raises(ParseException):
        analyzer.analyze("use db;insert into table dest selct a frm src")


def test_validate_flags_unknown_table(analyzer):
    """validate=True is the LineValidater equivalent: an input table
    absent from the metastore is a LineageError naming the table."""
    with pytest.raises(LineageError, match="db.no_such_table"):
        analyzer.analyze(
            "use db;insert into table dest select a from no_such_table",
            validate=True,
        )
    # the same statement without validation degrades gracefully
    res = analyzer.analyze(
        "use db;insert into table dest select a from no_such_table"
    )
    assert res.input_tables == {"db.no_such_table"}


def test_in_subquery_condition_renders_probed_column(analyzer):
    """IN (subquery) predicates: Catalyst's origin slice spans only
    `IN (SELECT …)`, never the probed value — the WHERE: tag must
    re-attach the qualified probed column, and the subquery still
    registers as an input table (NOTES round-13 deferred item e)."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where k in (select c from t2)"
    )
    assert res.input_tables == {"db.src", "db.t2"}
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:db.src.k in (select c from t2)"
    }


def test_not_in_subquery_renders_single_not(analyzer):
    """NOT IN (subquery): the InSubquery origin slice already starts
    with `NOT IN`, so the old Opaque fallback rendered `not NOT IN …`
    with no probed column."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where k not in (select c from t2)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:db.src.k not in (select c from t2)"
    }


def test_multi_value_in_subquery_renders_tuple(analyzer):
    """(a,b) IN (SELECT …) keeps every probed column, parenthesized."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where (a, b) in (select c, d from t2)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:(db.src.a,db.src.b) in (select c, d from t2)"
    }


def test_using_join_emits_condition_tag(analyzer):
    """JOIN … USING (k): the keys live in the join TYPE (Catalyst
    UsingJoin), condition() is undefined — the tag must render the
    implied equality with each side qualified in its own context
    (NOTES round-13 deferred item d)."""
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src join t2 using (k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"JOIN:db.src.k = db.t2.k"}

    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src left join t2 using (k, b)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "LEFTOUTERJOIN:(db.src.k = db.t2.k and db.src.b = db.t2.b)"
    }


def test_natural_join_derives_keys_from_metastore(analyzer):
    """NATURAL JOIN: common columns come from the metastore (db.src
    and db.t2 share no columns here, so join dest2 which shares k) —
    and when either side is unknown the tag degrades to the keyword
    instead of vanishing."""
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src natural join src2"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"JOIN:db.src.k = db.src2.k"}

    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src natural left join unknown_tbl"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"LEFTOUTERJOIN:natural"}


def test_struct_field_through_alias_resolves_column(analyzer):
    """`t.addr.city` through a FROM alias is a struct FIELD access —
    provenance is the COLUMN (db.src.m), with the field path kept on
    the rendered name; the old code treated any 3-part attribute as
    db.table.col and produced garbage `t.addr.city` provenance plus a
    bogus validation binding (NOTES round-13 deferred item c)."""
    res = analyzer.analyze(
        "use db;insert into table dest select t.m.city from src t "
        "where t.m.zip = '10' "
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.m.city",)
    assert set(line.conditions) == {"WHERE:db.src.m.zip = '10'"}
    # the validation binding is the real column, so validate passes
    analyzer.analyze(
        "use db;insert into table dest select t.m.city from src t",
        validate=True,
    )


def test_view_does_not_shadow_table_after_use(analyzer):
    """CREATE VIEW in db then USE other: a same-named TABLE in the new
    database must NOT resolve to the stale view's lineage (the old
    bare-name registration did exactly that); the view still resolves
    by bare name in its own db and by qualified name from anywhere
    (NOTES round-13 deferred item b)."""
    res = analyzer.analyze(
        "use db;create view v as select a from src;"
        "insert into table dest select a from v;"
        "use other;insert into table dest select x from v"
    )
    by_stmt = res.col_lines
    # statement 2: v resolves to the view -> src.a provenance
    assert by_stmt[1].from_names == ("db.src.a",)
    # statement 3: other.v is a base table, not the stale view
    assert by_stmt[2].from_names == ("other.v.x",)
    assert "other.v" in res.input_tables

    # qualified reference still reaches the view from the other db
    res = analyzer.analyze(
        "use db;create view v as select a from src;"
        "use other;insert into table dest select a from db.v"
    )
    assert res.col_lines[-1].from_names == ("db.src.a",)


def test_temp_view_resolves_across_use(analyzer):
    """Temp views are session-global and db-independent: the bare name
    keeps resolving after USE other."""
    res = analyzer.analyze(
        "use db;create temporary view tv as select a from src;"
        "use other;insert into table dest select a from tv"
    )
    assert res.col_lines[-1].from_names == ("db.src.a",)


def test_exists_subquery_renders_once(analyzer):
    """EXISTS predicates: Catalyst's Exists origin spans `NOT EXISTS
    (…)` under a NOT (the src fallback doubled the keyword) and the
    WHOLE statement when bare (the tag quoted the outer query) — the
    inner plan's origin slice is the reliable subquery text."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where not exists (select 1 from t2 where t2.c = src.k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:not exists (select 1 from t2 where t2.c = src.k)"
    }
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where exists (select 1 from t2 where t2.c = src.k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:exists (select 1 from t2 where t2.c = src.k)"
    }
    assert res.input_tables == {"db.src", "db.t2"}


def test_with_wrapped_insert_keeps_sink(analyzer):
    """`WITH w AS (…) INSERT INTO …` parses as With(InsertInto…) —
    the statement dispatch hoists the CTEs and keeps the sink (it
    used to fall through to the bare-SELECT branch, losing the
    destination and all column edges)."""
    res = analyzer.analyze(
        "use db;with w as (select a, b from src where b > 1) "
        "insert into table dest select a from w"
    )
    assert res.output_tables == {"db.dest"}
    assert res.input_tables == {"db.src"}
    assert res.statements == ["USE", "INSERT"]
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert line.to_name == "db.dest.x"
    assert set(line.conditions) == {"WHERE:db.src.b > 1"}

    # multi-insert under a WITH keeps every branch's sink
    res = analyzer.analyze(
        "use db;with w as (select a, b from src) "
        "from w "
        "insert into table dest select a "
        "insert into table t2 select a, b"
    )
    assert res.output_tables == {"db.dest", "db.t2"}
    assert res.statements[-1] == "MULTIINSERT"
    assert [l.from_names for l in res.col_lines] == [
        ("db.src.a",), ("db.src.a",), ("db.src.b",)
    ]


def test_having_subquery_registers_inputs(analyzer):
    """`HAVING k IN (SELECT …)` registers the subquery's input table
    (the Having branch never scanned its condition for subqueries)."""
    res = analyzer.analyze(
        "use db;insert into table dest select k from src "
        "group by k having k in (select c from t2)"
    )
    assert res.input_tables == {"db.src", "db.t2"}
    (line,) = res.col_lines
    assert "HAVING:db.src.k in (select c from t2)" in line.conditions


def test_case_when_predicate_subquery_is_not_a_source(analyzer):
    """A subquery inside a WHEN predicate gates rows — it registers
    its input table but does NOT feed the item's sources (the
    reference's CASE rule: only THEN/ELSE values are lineage
    sources); a subquery in VALUE position (boolean expression as the
    selected value) still does."""
    res = analyzer.analyze(
        "use db;insert into table dest select "
        "case when a in (select c from t2) then k else a end from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.src.k"]
    assert res.input_tables == {"db.src", "db.t2"}

    # value position: the boolean derives from the subquery's column
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select a in (select c from t2) from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.t2.c"]


def test_with_wrapped_dir_insert_and_update(analyzer):
    """The WITH hoist covers every sink-statement class Spark wraps:
    directory inserts and UPDATE (whose IN-subquery probes a CTE).  A
    directory has no catalog columns, so its path is never looked up."""
    looked_up = []
    columns = analyzer.metastore.columns

    def recording_columns(name):
        looked_up.append(name)
        return columns(name)

    analyzer.metastore.columns = recording_columns
    res = analyzer.analyze(
        "use db;with w as (select a from src) "
        "insert overwrite directory '/tmp/out' select a from w"
    )
    assert res.output_tables == {"/tmp/out"}
    assert res.input_tables == {"db.src"}
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert line.to_name is None
    res = analyzer.analyze(
        "use db;insert overwrite directory '/tmp/x' select a from src"
    )
    assert res.output_tables == {"/tmp/x"}
    assert not [n for n in looked_up if n.startswith("/")], looked_up

    res = analyzer.analyze(
        "use db;with w as (select a from src) "
        "update t2 set d = 1 where c in (select a from w)"
    )
    assert res.output_tables == {"db.t2"}
    assert res.input_tables == {"db.src", "db.t2"}
    assert res.statements[-1] == "UPDATE"


def test_broken_permanent_view_is_unknown(spark):
    """A permanent view whose definition no longer resolves reads as an
    unknown table (its stored schema is not trusted)."""
    spark.sql("CREATE TABLE IF NOT EXISTS adv_base (a INT, b STRING) USING parquet")
    spark.sql("CREATE OR REPLACE VIEW adv_broken AS SELECT a, b FROM adv_base")
    spark.sql("DROP TABLE adv_base")
    try:
        an = LineageAnalyzer(spark)
        with pytest.raises(LineageError, match="SELECT \\* needs catalog"):
            an.analyze("select * from adv_broken")
        with pytest.raises(LineageError, match="unknown input table"):
            an.analyze("select a from adv_broken", validate=True)
    finally:
        spark.sql("DROP VIEW IF EXISTS adv_broken")


def test_literals_render_exactly_as_written(analyzer):
    """Literals holding a non-BMP character, an embedded double quote, a
    backslash, a raw tab and a raw newline come back verbatim in the
    COLFUN:/WHERE: tags.  Catalyst's Origin indices count code points,
    so a literal AFTER the emoji must still slice at the right place."""
    emoji, quoted, backslash = "'😀'", r'"say \"hi\""', r"'c:\\tmp'"
    tab, newline = "'\t'", "'\n'"
    after_emoji, quote_only, lone_backslash = "'x😀y'", r'"q\""', r"'\\'"
    res = analyzer.analyze(
        f"use db;insert into table dest select concat({emoji}, a), "
        f"concat(b, {quoted}, {backslash}, {tab}, {newline}) from src "
        f"where a = {after_emoji} and b <> {quote_only} and k = {lone_backslash}"
    )
    where = (
        f"WHERE:((db.src.a = {after_emoji} and db.src.b <> {quote_only}) "
        f"and db.src.k = {lone_backslash})"
    )
    first, second = res.col_lines
    assert set(first.conditions) == {f"COLFUN:concat({emoji},db.src.a)", where}
    assert set(second.conditions) == {
        f"COLFUN:concat(db.src.b,{quoted},{backslash},{tab},{newline})",
        where,
    }
