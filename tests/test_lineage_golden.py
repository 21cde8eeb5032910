"""The reference's seven golden lineage tests, ported
(``LineParserTest``, reference README.md:861-1218).

Each test asserts the same sets the reference asserts: input tables,
output tables, and per-output-column lineage (matched by parsed output
name, comparing source columns and condition sets —
``assertCoLineSetEqual``, README.md:1175-1193).

Documented deviations from the upstream expectations:

* ``from_names`` are compared as **multisets** — the reference joins
  sources through a Java ``HashSet`` whose iteration order its golden
  strings happen to encode (README.md:368-383); we keep branch order.
* per-statement condition state is fresh per ``analyze`` call (the
  upstream parser never resets, README.md:108-129).
"""

from __future__ import annotations

import sys
import threading
from contextlib import contextmanager

import pytest

from hadoop__spark.plans import ColLine, LineageAnalyzer, LineageError
from hadoop__spark.plans.lineage import DictMetastore


def lines_by_name(res) -> dict[str, ColLine]:
    out = {}
    for line in res.col_lines:
        assert line.to_name_parse not in out, "duplicate output name"
        out[line.to_name_parse] = line
    return out


def multiset(ref_from_name: str) -> list[str]:
    return sorted(ref_from_name.split(",")) if ref_from_name else []


def check_line(line: ColLine, ref_from: str, ref_conds: set[str]) -> None:
    assert sorted(line.from_names) == multiset(ref_from)
    assert set(line.conditions) == ref_conds


# -- testParseAllColumn (README.md:867-895) --------------------------------


def test_parse_all_column(spark):
    ms = DictMetastore(
        {
            "app.hand_qq_passenger": ["statid", "channel"],
            "app.return_benefit_base_foo": ["id"],
            "app.dest": ["statid"],
        }
    )
    sql = (
        "use app;insert into table dest select statid from "
        "(select * from hand_qq_passenger a join return_benefit_base_foo b "
        "on a.statid=b.id where a.channel > 10) base"
    )
    res = LineageAnalyzer(spark, ms).analyze(sql, validate=True)
    assert res.input_tables == {
        "app.hand_qq_passenger",
        "app.return_benefit_base_foo",
    }
    assert res.output_tables == {"app.dest"}
    conds = {
        "WHERE:app.hand_qq_passenger.channel > 10",
        "JOIN:app.hand_qq_passenger.statid = app.return_benefit_base_foo.id",
    }
    lines = lines_by_name(res)
    assert set(lines) == {"statid"}
    check_line(lines["statid"], "app.hand_qq_passenger.statid", conds)
    # positional sink alignment (L5, README.md:796-804)
    assert lines["statid"].to_name == "app.dest.statid"


# -- testParseWhere (README.md:900-929) ------------------------------------


def test_parse_where(spark):
    sql = (
        "INSERT OVERWRITE table app.dest PARTITION "
        "(year='2015',month='10',day='$day') "
        "select ip,name from test where age > 10 and area in (11,22) "
        "or name<>'$V_PARYMD'"
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {"default.test"}
    assert res.output_tables == {"app.dest"}
    conds = {
        "WHERE:((default.test.age > 10 and default.test.area in (11,22)) "
        "or default.test.name <> '$V_PARYMD')"
    }
    lines = lines_by_name(res)
    assert set(lines) == {"ip", "name"}
    check_line(lines["ip"], "default.test.ip", conds)
    check_line(lines["name"], "default.test.name", conds)


# -- testParseJoin (README.md:934-967) -------------------------------------


def test_parse_join(spark):
    sql = (
        "use app;insert into table dest select nvl(a.name,0) as name, b.ip  "
        "from test a join test1 b on a.ip=b.ip where a.age > 10 and "
        "b.area in (11,22) and to_date(b.date) > date_sub('20151001',7)"
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {"app.test", "app.test1"}
    assert res.output_tables == {"app.dest"}
    conds = {
        "WHERE:((app.test.age > 10 and app.test1.area in (11,22)) and "
        "to_date(app.test1.date) > date_sub('20151001',7))",
        "JOIN:app.test.ip = app.test1.ip",
    }
    lines = lines_by_name(res)
    assert set(lines) == {"name", "ip"}
    check_line(lines["ip"], "app.test1.ip", conds)
    check_line(
        lines["name"],
        "app.test.name",
        conds | {"COLFUN:nvl(app.test.name,0)"},
    )


# -- testParseMap (README.md:973-1015) -------------------------------------


def test_parse_map(spark):
    sql = (
        "use dw;insert into table dest select 1+1 as num, "
        "params['cid'] as maptest,arr[0] as arrtest,"
        "CONCAT(year,month,day) as date from test "
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {"dw.test"}
    assert res.output_tables == {"dw.dest"}
    lines = lines_by_name(res)
    assert set(lines) == {"num", "maptest", "arrtest", "date"}
    check_line(lines["num"], "", {"COLFUN:1 + 1"})
    check_line(
        lines["maptest"], "dw.test.params", {"COLFUN:dw.test.params['cid']"}
    )
    check_line(lines["arrtest"], "dw.test.arr", {"COLFUN:dw.test.arr[0]"})
    check_line(
        lines["date"],
        "dw.test.year,dw.test.month,dw.test.day",
        {"COLFUN:CONCAT(dw.test.year,dw.test.month,dw.test.day)"},
    )


# -- testParseUnion (README.md:1025-1066) ----------------------------------


def test_parse_union(spark):
    sql = (
        "use default;use app;SELECT u.id, actions.date FROM ( "
        "SELECT av.uid AS uid, av.date as date "
        "FROM action_video av "
        "WHERE av.date = '2010-06-03' "
        "UNION ALL "
        "SELECT ac.uid AS uid,ac.date as date "
        "FROM fact.action_comment ac "
        "WHERE ac.date = '2008-06-03' "
        ") actions JOIN users u ON (u.id = actions.uid)"
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {
        "app.users",
        "app.action_video",
        "fact.action_comment",
    }
    assert res.output_tables == set()
    conds = {
        "WHERE:app.action_video.date = '2010-06-03'",
        "WHERE:fact.action_comment.date = '2008-06-03'",
        "JOIN:app.users.id = app.action_video&fact.action_comment.uid",
    }
    lines = lines_by_name(res)
    assert set(lines) == {"id", "date"}
    check_line(lines["id"], "app.users.id", conds)
    check_line(
        lines["date"], "app.action_video&fact.action_comment.date", conds
    )
    assert all(line.to_table == "TOK_TMP_FILE" for line in res.col_lines)


# -- testParseUnion2 (README.md:1068-1110) ---------------------------------


def test_parse_union2(spark):
    sql = (
        'INSERT OVERWRITE TABLE target_table '
        'SELECT name, id, "Category159"  FROM source_table_1 '
        "UNION ALL "
        "SELECT name, id,category FROM source_table_2 "
        "UNION ALL "
        'SELECT name, id, "Category160"  FROM source_table_3 where name=123'
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {
        "default.source_table_1",
        "default.source_table_2",
        "default.source_table_3",
    }
    assert res.output_tables == {"default.target_table"}
    conds = {"WHERE:default.source_table_3.name = 123"}
    lines = lines_by_name(res)
    assert set(lines) == {"name", "id", "category"}
    check_line(
        lines["name"],
        "default.source_table_1.name,default.source_table_2.name,"
        "default.source_table_3.name",
        conds,
    )
    check_line(
        lines["id"],
        "default.source_table_1.id,default.source_table_2.id,"
        "default.source_table_3.id",
        conds,
    )
    check_line(
        lines["category"],
        "default.source_table_2.category",
        conds | {'COLFUN:"Category159"', 'COLFUN:"Category160"'},
    )


# -- testParse / sql25 (README.md:1126-1171) -------------------------------


def test_parse_sql25(spark):
    sql = (
        "from(select p.datekey datekey, p.userid userid, c.clienttype "
        "from detail.usersequence_client c join fact.orderpayment p "
        "on (p.orderid > c.orderid or p.a = c.b) and p.aaa=c.bbb "
        "full outer join dim.user du on du.userid = p.userid "
        "where p.datekey = '20131118' and (du.userid in (111,222) "
        "or hash(p.test) like '%123%')) base "
        "insert overwrite table test.customer_kpi "
        "select concat(base.datekey,1,2) as aaa, "
        "case when base.userid > 5 then base.clienttype "
        "when base.userid > 1 then base.datekey+5 "
        "else 1-base.clienttype end bbbaaa,"
        "count(distinct hash(base.userid)) buyer_count "
        "where base.userid is not null "
        "group by base.datekey, base.clienttype"
    )
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {
        "detail.usersequence_client",
        "fact.orderpayment",
        "dim.user",
    }
    assert res.output_tables == {"test.customer_kpi"}
    conds = {
        "JOIN:((fact.orderpayment.orderid > detail.usersequence_client.orderid "
        "or fact.orderpayment.a = detail.usersequence_client.b) and "
        "fact.orderpayment.aaa = detail.usersequence_client.bbb)",
        "WHERE:(fact.orderpayment.datekey = '20131118' and "
        "(dim.user.userid in (111,222) or "
        "hash(fact.orderpayment.test) like '%123%'))",
        "WHERE:fact.orderpayment.userid isnotnull",
        "FULLOUTERJOIN:dim.user.userid = fact.orderpayment.userid",
    }
    lines = lines_by_name(res)
    assert set(lines) == {"aaa", "bbbaaa", "buyer_count"}
    check_line(
        lines["aaa"],
        "fact.orderpayment.datekey",
        conds | {"COLFUN:concat(fact.orderpayment.datekey,1,2)"},
    )
    check_line(
        lines["bbbaaa"],
        "detail.usersequence_client.clienttype,"
        "detail.usersequence_client.clienttype,fact.orderpayment.datekey",
        conds
        | {
            "COLFUN:case when fact.orderpayment.userid > 5 then "
            "detail.usersequence_client.clienttype when "
            "fact.orderpayment.userid > 1 then fact.orderpayment.datekey + 5 "
            "else 1 - detail.usersequence_client.clienttype end"
        },
    )
    check_line(
        lines["buyer_count"],
        "fact.orderpayment.userid",
        conds | {"COLFUN:count(distinct (hash(fact.orderpayment.userid)))"},
    )


# -- beyond the goldens -----------------------------------------------------


def test_spark_catalog_metastore_and_validation(spark):
    """The spark.catalog-backed metastore path (star expansion + sink
    alignment + validation), with real catalog tables."""
    spark.sql("CREATE DATABASE IF NOT EXISTS app")
    spark.sql("CREATE TABLE IF NOT EXISTS app.src (statid STRING, channel INT) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS app.dst (s STRING, c INT) USING parquet")
    try:
        an = LineageAnalyzer(spark)
        res = an.analyze(
            "use app; insert into table dst select * from src where channel > 0",
            validate=True,
        )
        assert res.input_tables == {"app.src"}
        assert res.output_tables == {"app.dst"}
        lines = lines_by_name(res)
        assert set(lines) == {"statid", "channel"}
        # positional alignment: parsed statid lands in physical app.dst.s
        assert lines["statid"].to_name == "app.dst.s"
        assert lines["channel"].to_name == "app.dst.c"
        with pytest.raises(LineageError):
            an.analyze("select missing_col from src", validate=True)
        with pytest.raises(LineageError):
            an.analyze("select * from no_such_table", validate=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS app.src")
        spark.sql("DROP TABLE IF EXISTS app.dst")
        spark.sql("DROP DATABASE IF EXISTS app")


def test_spark_catalog_metastore_matches_list_columns_without_jobs(spark):
    """SparkCatalogMetastore answers from analysis metadata alone: the
    same ordered columns ``spark.catalog.listColumns`` reports, for
    every kind of relation the analyzer meets, and no Spark job.  The
    catalog formats mixed-case names as ``listColumns`` does, and
    column names keep their own case."""
    from hadoop__spark.plans.lineage import SparkCatalogMetastore
    from hadoop__spark.session import TABLES, register_views
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR)
    spark.range(2).selectExpr("id AS a", "id * 2 AS B").createOrReplaceTempView(
        "ms_tv"
    )
    spark.range(1).selectExpr("id AS Aa", "id AS bB").createOrReplaceTempView("Ms_MixedV")
    spark.range(1).selectExpr("id AS G").createOrReplaceGlobalTempView("Ms_MixedG")
    spark.sql("CREATE TABLE IF NOT EXISTS Ms_MixedT (Cc INT, dD STRING) USING parquet")
    spark.range(2).selectExpr("id AS g", "id AS h").createOrReplaceGlobalTempView(
        "ms_gv"
    )
    spark.sql(
        "CREATE TABLE IF NOT EXISTS ms_part (p INT, x INT, y STRING) "
        "USING parquet PARTITIONED BY (p)"
    )
    spark.sql("CREATE OR REPLACE VIEW ms_pv AS SELECT y, p, x FROM ms_part")
    sc = spark.sparkContext
    try:
        # (lookup, oracle name): default.ms_tv exists only as the temp
        # view ms_tv, so it resolves through the bare-name fallback
        cases = [
            ("ms_tv", "ms_tv"),
            ("global_temp.ms_gv", "global_temp.ms_gv"),
            ("default.ms_part", "default.ms_part"),
            ("default.ms_pv", "default.ms_pv"),
            ("default.ms_tv", "ms_tv"),
            ("MS_MIXEDV", "Ms_MixedV"),
            ("Default.ms_mixedv", "ms_mixedv"),
            ("DEFAULT.MS_MIXEDT", "default.ms_mixedt"),
            ("ms_mixedt", "Ms_MixedT"),
            ("Global_Temp.MS_MIXEDG", "global_temp.ms_mixedg"),
        ]
        # the seven TPC-H fixture views, the lineage benchmark's catalog
        for table in TABLES[:7]:
            cases += [(table, table), (f"default.{table}", table)]
        oracle = {
            name: [c.name for c in spark.catalog.listColumns(ref)]
            for name, ref in cases
        }
        assert oracle["default.ms_part"] == ["x", "y", "p"]  # partition last
        assert oracle["MS_MIXEDV"] == ["Aa", "bB"]
        assert oracle["DEFAULT.MS_MIXEDT"] == ["Cc", "dD"]
        assert oracle["default.lineitem"][0] == "l_orderkey"
        ms = SparkCatalogMetastore(spark)
        sc.setJobGroup("ms-lookups", "catalog lookups")
        try:
            got = {name: ms.columns(name) for name, _ in cases}
            missing = ms.columns("default.ms_no_such_table")
            unparsable = ms.columns("default.a-b")
            no_database = ms.columns("ms_no_db.ms_no_table")
            jobs = list(sc.statusTracker().getJobIdsForGroup("ms-lookups"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == oracle
        assert missing is None
        assert unparsable is None  # a ParseException is "not this name"
        assert no_database is None
        assert jobs == []
    finally:
        spark.sql("DROP VIEW IF EXISTS ms_pv")
        spark.sql("DROP TABLE IF EXISTS ms_part")
        spark.sql("DROP TABLE IF EXISTS Ms_MixedT")
        spark.catalog.dropTempView("ms_tv")
        spark.catalog.dropTempView("Ms_MixedV")
        spark.catalog.dropGlobalTempView("ms_gv")
        spark.catalog.dropGlobalTempView("Ms_MixedG")


class _CountingMetastore:
    def __init__(self, inner):
        self.inner = inner
        self.calls: dict[str, int] = {}

    def columns(self, qualified_table):
        self.calls[qualified_table] = self.calls.get(qualified_table, 0) + 1
        return self.inner.columns(qualified_table)


def test_catalog_lookups_memoized_per_analyze_call(spark):
    """Each table is looked up once per ``analyze`` call, however many
    unqualified columns, join sides, sink alignments and validation
    checks consult it; the next call looks it up again."""
    ms = _CountingMetastore(
        DictMetastore(
            {
                "default.src": ["a", "b", "k"],
                "default.src2": ["k2", "z"],
                "default.dst": ["c1", "c2", "c3"],
            }
        )
    )
    an = LineageAnalyzer(spark, ms)
    sql = (
        "insert into table dst select a, b, z from src join src2 "
        "on k = k2 where b > z"
    )
    res = an.analyze(sql, validate=True)
    lines = lines_by_name(res)
    assert lines["a"].from_names == ("default.src.a",)
    assert lines["z"].from_names == ("default.src2.z",)
    assert lines["z"].to_name == "default.dst.c3"
    assert ms.calls == {"default.src": 1, "default.src2": 1, "default.dst": 1}
    an.analyze(sql, validate=True)
    assert ms.calls == {"default.src": 2, "default.src2": 2, "default.dst": 2}


def test_catalog_lookups_not_stale_across_analyze_calls(spark):
    """A table created between two ``analyze`` calls on one analyzer is
    visible to the second, and so are the new columns of a temp view
    replaced between two calls: the memo never outlives a call."""
    an = LineageAnalyzer(spark)
    with pytest.raises(LineageError):
        an.analyze("select * from ms_late")
    spark.range(1).selectExpr("id AS a", "id AS b").createOrReplaceTempView(
        "ms_late"
    )
    try:
        res = an.analyze("select * from ms_late", validate=True)
        assert [line.to_name_parse for line in res.col_lines] == ["a", "b"]
        spark.range(1).selectExpr("id AS c", "id AS d", "id AS e").createOrReplaceTempView(
            "ms_late"
        )
        res = an.analyze("select * from ms_late", validate=True)
        assert [line.to_name_parse for line in res.col_lines] == ["c", "d", "e"]
    finally:
        spark.catalog.dropTempView("ms_late")


def test_catalog_lookup_sql_text_temp_view_over_dropped_table(spark):
    """A temp view defined by SQL text holds no analyzed plan, so a
    lookup analyzes it: once its base table is dropped it reads as
    unknown, under its bare name and its qualified name alike."""
    from hadoop__spark.plans.lineage import SparkCatalogMetastore

    spark.sql("CREATE TABLE IF NOT EXISTS ms_gone (q INT, r INT) USING parquet")
    spark.sql("CREATE OR REPLACE TEMP VIEW ms_sqltv AS SELECT r, q FROM ms_gone")
    try:
        ms = SparkCatalogMetastore(spark)
        assert ms.columns("default.ms_sqltv") == ["r", "q"]
        spark.sql("DROP TABLE ms_gone")
        assert ms.columns("ms_sqltv") is None
        assert ms.columns("default.ms_sqltv") is None
    finally:
        spark.catalog.dropTempView("ms_sqltv")
        spark.sql("DROP TABLE IF EXISTS ms_gone")


def test_statement_and_lookup_are_one_py4j_call_each(spark, monkeypatch):
    """A statement crosses the JVM boundary in one py4j call, parse
    included, however many nodes its plan has; the dumper is compiled
    once per JVM, so the first statement of a second analyzer costs
    one call too.  A catalog lookup is one call: a direct hit, a hit
    through the bare-name fallback, and a miss alike."""
    from py4j import protocol

    from hadoop__spark.plans import lineage
    from hadoop__spark.plans.lineage import SparkCatalogMetastore

    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    calls: list[int] = []
    counting = False
    send_command = client.send_command

    def counted_send_command(command, *args, **kwargs):
        # py4j's finalizer thread releases garbage-collected JavaObjects
        # with memory commands at any time: those are not this call's
        if counting and not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls[-1] += 1
        return send_command(command, *args, **kwargs)

    @contextmanager
    def counted():
        nonlocal counting
        calls.append(0)
        counting = True
        try:
            yield
        finally:
            counting = False

    parse_statement = lineage.parse_statement

    def counted_parse_statement(spark_, sql_):
        with counted():
            return parse_statement(spark_, sql_)

    ms = DictMetastore(
        {
            "app.orders": ["id", "cust", "amt"],
            "app.customers": ["id", "name"],
            "app.vip": ["id"],
            "app.dest": ["name", "size", "amt"],
        }
    )
    sql = (
        "with big as (select cust, amt from app.orders where amt > 10) "
        "insert into table app.dest select c.name, case when b.amt > 100 "
        "then 'large' else 'small' end, nvl(b.amt, 0) from app.customers c "
        "join big b on c.id = b.cust where c.id in (select id from app.vip)"
    )
    first = LineageAnalyzer(spark, ms)
    first.analyze(sql)  # warm-up: the session's first dump may compile
    monkeypatch.setattr(client, "send_command", counted_send_command)
    monkeypatch.setattr(lineage, "parse_statement", counted_parse_statement)
    res = first.analyze(sql)
    assert res.input_tables == {"app.orders", "app.customers", "app.vip"}
    assert res.output_tables == {"app.dest"}
    assert calls == [1]
    LineageAnalyzer(spark, ms).analyze(sql)
    assert calls == [1, 1]

    spark.range(1).selectExpr("id AS a").createOrReplaceTempView("py4j_tv")
    try:
        catalog = SparkCatalogMetastore(spark)
        got = []
        # a direct hit, a hit through the bare-name fallback, a miss
        for name in ("py4j_tv", "default.py4j_tv", "default.py4j_none"):
            with counted():
                got.append(catalog.columns(name))
    finally:
        spark.catalog.dropTempView("py4j_tv")
    assert got == [["a"], ["a"], None]
    assert calls == [1, 1, 1, 1, 1]


def _race_analyze(spark, monkeypatch, ms, script):
    """``analyze(script)`` three times in each of 8 threads (more
    threads than cores), starting from a JVM with no compiled dumper;
    returns (sequential result, the threads' results, compile count)."""
    from hadoop__spark.plans import jbridge

    expected = LineageAnalyzer(spark, ms).analyze(script)
    compiles = []

    def counted_view(*args, **kwargs):
        compiles.append(1)
        return jvm_view(*args, **kwargs)

    jvm_view = jbridge.JVMView
    monkeypatch.setattr(jbridge, "JVMView", counted_view)
    monkeypatch.setattr(jbridge, "_dumpers", {})
    results, errors = [], []

    def work():
        try:
            for _ in range(3):
                results.append(LineageAnalyzer(spark, ms).analyze(script))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=work) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    return expected, results, len(compiles)


def test_concurrent_analyze_calls_compile_one_dumper(spark, monkeypatch):
    """``analyze`` from more threads than cores, starting from a JVM
    with no compiled dumper: every thread gets the sequential result,
    and ``PlanDump`` is compiled once, not once per racing thread."""
    ms = DictMetastore(
        {"app.src": ["id", "amt", "tag"], "app.dim": ["id", "name"],
         "app.dst": ["id", "v", "name"]}
    )
    script = (
        "insert into table app.dst select s.id, case when s.amt > 1 then "
        "concat('😀', s.tag) else 'x' end, d.name from app.src s join app.dim d "
        "on s.id = d.id where s.tag in ('a', 'b');"
        "with t as (select id, sum(amt) v from app.src group by id) "
        "select t.id, t.v from t where t.v > (select avg(amt) from app.src)"
    )
    expected, results, compiles = _race_analyze(spark, monkeypatch, ms, script)
    assert results == [expected] * 24
    assert compiles == 1


def test_concurrent_catalog_analyze_calls_compile_one_dumper(spark, monkeypatch):
    """The same race through the default catalog metastore, whose
    lookups go through the same compiled ``PlanDump``: one compile, and
    every thread gets the sequential result, ``SELECT *`` expansion,
    bare-name fallback and an unknown table included."""
    spark.range(2).selectExpr("id", "id AS amt", "'a' AS tag").createOrReplaceTempView(
        "race_src"
    )
    spark.range(2).selectExpr("id", "'n' AS name").createOrReplaceTempView("race_dim")
    spark.range(0).selectExpr("id", "id AS v", "'' AS name").createOrReplaceTempView(
        "race_dst"
    )
    script = (
        "insert into table default.race_dst select s.id, s.amt, d.name "
        "from race_src s join race_dim d on s.id = d.id where s.tag = 'a';"
        "select * from race_src s join default.race_dim d on s.id = d.id;"
        "select tag, x from race_src join race_none "
        "on race_src.id = race_none.id"
    )
    try:
        expected, results, compiles = _race_analyze(spark, monkeypatch, None, script)
    finally:
        for view in ("race_src", "race_dim", "race_dst"):
            spark.catalog.dropTempView(view)
    assert [line.to_name for line in expected.col_lines[:3]] == [
        "default.race_dst.id", "default.race_dst.v", "default.race_dst.name"
    ]
    assert [line.to_name_parse for line in expected.col_lines[3:8]] == [
        "id", "amt", "tag", "id", "name"
    ]
    # race_none is a lookup miss, so x may come from either side
    assert expected.col_lines[-1].from_names == (
        "default.race_src&default.race_none.x",
    )
    assert results == [expected] * 24
    assert compiles == 1


#: One statement per row, run after ``use app``: (sql, kind, outputs,
#: inputs, edges).  Every Catalyst command reports a kind of its own,
#: never SELECT: one that starts with ALTER is an ALTER of the table or
#: view it names (a database is no output table), any other is named
#: after its class (``DropView`` → ``DROPVIEW``; the reference's DROP
#: is ``TOK_DROPTABLE`` only).
DDL_ROWS = (
    ("create table t8 (x int)", "CREATETABLE", {"app.t8"}, set(), 0),
    ("create table t9 like t10", "CREATETABLE", {"app.t9"}, {"app.t10"}, 0),
    ("alter table t3 add columns (z int)", "ALTER", {"app.t3\tALTER"}, set(), 0),
    ("alter table t3 drop partition (d='1')", "ALTER", {"app.t3\tALTER"}, set(), 0),
    ("replace table t11 as select ip from t7", "CREATETABLE", {"app.t11"}, {"app.t7"}, 1),
    ("cache table t12", "CACHETABLE", set(), set(), 0),
    ("msck repair table t3", "REPAIRTABLE", set(), set(), 0),
    ("comment on table t3 is 'x'", "COMMENTONTABLE", set(), set(), 0),
    (
        "insert overwrite local directory '/tmp/z' select ip from t7",
        "INSERT", {"/tmp/z"}, {"app.t7"}, 1,
    ),
    ("drop table t1", "DROP", set(), set(), 0),
    ("show tables", "SHOWTABLES", set(), set(), 0),
    ("use identifier('x')", "USE", set(), set(), 0),
    ("drop view v", "DROPVIEW", set(), set(), 0),
    ("drop index i on t1", "DROPINDEX", set(), set(), 0),
    ("drop database d", "DROPNAMESPACE", set(), set(), 0),
    ("drop function f", "DROPFUNCTION", set(), set(), 0),
    ("drop temporary function f", "DROPFUNCTION", set(), set(), 0),
    ("create function f as 'x'", "CREATEFUNCTION", set(), set(), 0),
    ("create temporary function f as 'x'", "CREATEFUNCTION", set(), set(), 0),
    ("create database d", "CREATENAMESPACE", set(), set(), 0),
    ("create namespace d", "CREATENAMESPACE", set(), set(), 0),
    ("reset", "RESET", set(), set(), 0),
    ("add jar /tmp/x.jar", "ADDJARS", set(), set(), 0),
    ("clear cache", "CLEARCACHE", set(), set(), 0),
    ("declare variable x int", "CREATEVARIABLE", set(), set(), 0),
    ("create index i on t1 (c)", "CREATEINDEX", set(), set(), 0),
    ("alter table t3 unset tblproperties ('a')", "ALTER", {"app.t3\tALTER"}, set(), 0),
    ("alter table t3 set location '/x'", "ALTER", {"app.t3\tALTER"}, set(), 0),
    ("alter view v set tblproperties ('a'='b')", "ALTER", {"app.v\tALTER"}, set(), 0),
    ("alter database d set dbproperties ('a'='b')", "ALTER", set(), set(), 0),
    # an IDENTIFIER('name') clause names the table it folds to
    ("insert into identifier('t') select a from src", "INSERT", {"app.t"}, {"app.src"}, 1),
    ("select a from identifier('app.src')", "SELECT", set(), {"app.src"}, 1),
    (
        "create table identifier('t2') as select a from src",
        "CREATETABLE", {"app.t2"}, {"app.src"}, 1,
    ),
    ("alter table identifier('t3') add columns (z int)", "ALTER", {"app.t3\tALTER"}, set(), 0),
)


def test_ddl_statement_kinds(spark):
    """DDL routing (S4-S9): statement kinds + tagged ALTER outputs."""
    ms = DictMetastore({})
    an = LineageAnalyzer(spark, ms)
    res = an.analyze(
        "use app; drop table t1; truncate table t2; "
        "alter table t3 rename to t4; "
        "load data inpath '/x' into table t5; "
        "create table t6 as select ip from t7"
    )
    assert res.statements == [
        "USE", "DROP", "TRUNCATE", "ALTER", "LOAD", "CREATETABLE",
    ]
    assert res.output_tables == {"app.t3\tALTER", "app.t5", "app.t6"}
    assert res.input_tables == {"app.t7"}

    for sql, kind, outputs, inputs, edges in DDL_ROWS:
        # each row on its own, so a USE row moves no later row
        res = LineageAnalyzer(spark, ms, current_db="app").analyze(sql)
        assert res.statements == [kind], sql
        assert res.output_tables == outputs, sql
        assert res.input_tables == inputs, sql
        assert len(res.col_lines) == edges, sql


def test_escaped_semicolon_split(spark):
    """Statement splitting honors escaped semicolons (README.md:746),
    and a ';' in a string, a backticked name or a comment does not end
    the statement."""
    from hadoop__spark.plans.lineage import split_statements

    assert split_statements("select 1\\; ok; use app") == [
        "select 1; ok",
        "use app",
    ]
    an = LineageAnalyzer(spark, DictMetastore({}))
    for sql in (
        "select 'a;b' as c from t",
        "select a from t -- note; here\n",
        "select a /* x; y */ from t",
        "select `a;b` from t",
    ):
        res = an.analyze(sql)
        assert res.statements == ["SELECT"], sql
        assert res.input_tables == {"default.t"}, sql
        assert len(res.col_lines) == 1, sql


def test_every_use_form_switches_database(spark):
    """USE NAMESPACE / DATABASE / SCHEMA and USE IDENTIFIER('db') set
    the session database as USE db does (reference S10,
    README.md:637-640)."""
    for use in (
        "use namespace app", "use database app", "use schema app", "use identifier('app')"
    ):
        res = LineageAnalyzer(spark, DictMetastore({})).analyze(f"{use}; select a from t")
        assert res.statements == ["USE", "SELECT"], use
        assert res.input_tables == {"app.t"}, use
        assert [line.from_names for line in res.col_lines] == [("app.t.a",)], use


def test_cte_lineage(spark):
    """WITH support (beyond the reference): CTE references resolve
    through the CTE's own query; only base tables count as inputs."""
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "with t as (select n_name, n_regionkey from nation "
        "where n_nationkey > 3), "
        "u as (select t.n_name from t) "
        "select u.n_name from u"
    )
    assert res.input_tables == {"default.nation"}
    lines = lines_by_name(res)
    check_line(
        lines["n_name"],
        "default.nation.n_name",
        {"WHERE:default.nation.n_nationkey > 3"},
    )

    # a parenthesised query with its own WITH parses as a WITH nested
    # directly in the statement-level WITH
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "with a as (select n_name from nation where n_nationkey > 3) "
        "(with b as (select n_name from a) select n_name from b)"
    )
    assert res.statements == ["SELECT"]
    assert res.input_tables == {"default.nation"}
    assert res.output_tables == set()
    lines = lines_by_name(res)
    assert lines["n_name"].to_table == "TOK_TMP_FILE"
    check_line(
        lines["n_name"],
        "default.nation.n_name",
        {"WHERE:default.nation.n_nationkey > 3"},
    )


def test_multi_insert_from_first(spark):
    """Hive multi-insert (Q2 extension): one FROM, several INSERT
    branches, each with its own WHERE and destination."""
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "use app; from src insert overwrite table t1 select a where a > 1 "
        "insert into table t2 select b, c where b < 5"
    )
    assert res.statements == ["USE", "MULTIINSERT"]
    assert res.output_tables == {"app.t1", "app.t2"}
    assert res.input_tables == {"app.src"}
    lines = lines_by_name(res)
    assert set(lines) == {"a", "b", "c"}
    check_line(lines["a"], "app.src.a", {"WHERE:app.src.a > 1"})
    check_line(lines["b"], "app.src.b", {"WHERE:app.src.b < 5"})
    assert lines["a"].to_table == "app.t1"
    assert lines["b"].to_table == "app.t2"

    # a DIRECTORY branch is a sink like a table branch, bare and under
    # a WITH; only the table branch aligns with catalog columns
    ms = DictMetastore({"default.src": ["a", "b"], "default.t3": ["y"]})
    for sql in (
        "from src insert overwrite directory '/tmp/x' select a "
        "insert into t3 select b",
        "with w as (select a, b from src) from w "
        "insert overwrite directory '/tmp/x' select a insert into t3 select b",
    ):
        res = LineageAnalyzer(spark, ms).analyze(sql)
        assert res.statements == ["MULTIINSERT"], sql
        assert res.output_tables == {"/tmp/x", "default.t3"}, sql
        assert res.input_tables == {"default.src"}, sql
        assert [
            (l.from_names, l.to_table, l.to_name) for l in res.col_lines
        ] == [
            (("default.src.a",), "/tmp/x", None),
            (("default.src.b",), "default.t3", "default.t3.y"),
        ], sql


def test_insert_explicit_column_list_alignment(spark):
    """INSERT INTO t (colb, cola): positional sink alignment follows
    the explicit column list, not the metastore order."""
    ms = DictMetastore({"app.t1": ["cola", "colb"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "use app; insert into t1 (colb, cola) select x, y from src"
    )
    lines = lines_by_name(res)
    assert lines["x"].to_name == "app.t1.colb"
    assert lines["y"].to_name == "app.t1.cola"


def test_expression_subquery_inputs_registered(spark):
    """Scalar/IN/EXISTS subqueries in expressions register their input
    tables (beyond the reference's Q3-negative surface)."""
    an = LineageAnalyzer(spark, DictMetastore({}))
    res = an.analyze("select a from t where b in (select c from u)")
    assert res.input_tables == {"default.t", "default.u"}
    res = an.analyze(
        "select (select max(c) from u2) as m, a from t "
        "where exists (select 1 from u3 where u3.k = t.a)"
    )
    assert res.input_tables == {"default.t", "default.u2", "default.u3"}


def test_scalar_subquery_select_item_column_edge(spark):
    """A scalar subquery in the select list emits the column edge
    THROUGH the subquery: t2's aggregated column is a from-source of
    the item, not just a registered input table.  Predicate subqueries
    (WHERE/EXISTS) stay row-gates — no column edge into select items."""
    an = LineageAnalyzer(spark, DictMetastore({}))
    res = an.analyze(
        "use app; "
        "select (select max(x) from t2) as m, a from t1 "
        "where b in (select k from t3)"
    )
    lines = lines_by_name(res)
    assert lines["m"].from_names == ("app.t2.x",)
    assert any(c.startswith("COLFUN:") for c in lines["m"].conditions)
    # the direct column is untouched by the predicate subquery
    assert lines["a"].from_names == ("app.t1.a",)
    # mixed item: direct sources first, then the subquery's
    res2 = an.analyze(
        "use app; select a + (select min(y) from t4) as s from t1"
    )
    assert lines_by_name(res2)["s"].from_names == (
        "app.t1.a",
        "app.t4.y",
    )
    # a predicate subquery NESTED INSIDE the scalar subquery is a row
    # gate of that inner query — its columns must not leak into the
    # select item's sources (the raw field-walk used to re-traverse
    # the already-folded plan and surface t3.y as a source of m)
    res3 = an.analyze(
        "use app; select (select max(x) from t2 "
        "where t2.k in (select y from t3)) as m from t1"
    )
    assert lines_by_name(res3)["m"].from_names == ("app.t2.x",)


def test_insert_cols_and_scientific_literals_normalized(spark):
    """User-specified INSERT column lists lowercase like every other
    identifier path, and scientific-notation literals count as
    literals for union alias merging (1e3 is not a column name)."""
    an = LineageAnalyzer(
        spark, DictMetastore({"app.sink": ["c1", "c2"]})
    )
    res = an.analyze(
        "use app; insert into sink (C2, C1) select a, b from t1"
    )
    assert {ln.to_name for ln in res.col_lines} == {
        "app.sink.c1", "app.sink.c2",
    }
    res2 = an.analyze(
        "use app; select 1e3, a from t1 "
        "union all select b, a from t1"
    )
    # the union merge picks the non-literal branch's alias for the
    # first output column instead of keeping '1e3'
    names = sorted(ln.to_name_parse for ln in res2.col_lines)
    assert not any("1e3" in n for n in names), names


def test_create_view_lineage_and_resolution(spark):
    """CREATE VIEW records edges like CTAS, and later statements in
    the same session resolve through the view's lineage."""
    an = LineageAnalyzer(spark, DictMetastore({}))
    res = an.analyze(
        "use app; create view v1 as select a as x, b from t where a > 0; "
        "select v1.x from v1 join u on v1.b = u.k"
    )
    assert res.statements == ["USE", "CREATEVIEW", "SELECT"]
    assert res.output_tables == {"app.v1"}
    # inputs are base tables only — the view itself is not an input
    assert res.input_tables == {"app.t", "app.u"}
    by_name = {}
    for line in res.col_lines:
        by_name.setdefault(line.to_name_parse, []).append(line)
    # the SELECT's x resolves through the view to app.t.a
    select_x = [l for l in by_name["x"] if l.to_table == "TOK_TMP_FILE"]
    assert select_x
    # reference-faithful rename-prefix form: table prefix from the
    # view's source, column name as seen through the view
    assert select_x[0].from_names == ("app.t.x",)
    # join condition resolves the view's b to the base table
    assert any(
        c == "JOIN:app.t.b = app.u.k" for c in select_x[0].conditions
    ), select_x[0].conditions

    # an explicit view column list aligns the sink like INSERT's does,
    # lowercased, for persistent and temp views alike.  Without one, a
    # view's edges name no sink column, even where the catalog still
    # holds the columns of the view being replaced: a view sink never
    # looks its name up
    ms = _CountingMetastore(DictMetastore({"app.v": ["old1", "old2"]}))
    for sql, kinds, to_names in (
        ("create view v (P, q) as select a, b from src", ["CREATEVIEW"],
         ["default.v.p", "default.v.q"]),
        ("create temp view v (P, q) as select a, b from src", ["CREATEVIEW"],
         ["default.v.p", "default.v.q"]),
        ("use app; create or replace view v (P, q) as select a, b from src",
         ["USE", "CREATEVIEW"], ["app.v.p", "app.v.q"]),
        ("use app; create or replace view v as select a, b from src",
         ["USE", "CREATEVIEW"], [None, None]),
        ("use app; create or replace temp view v as select a, b from src",
         ["USE", "CREATEVIEW"], [None, None]),
    ):
        res = LineageAnalyzer(spark, ms).analyze(sql)
        assert res.statements == kinds, sql
        assert [(l.to_name_parse, l.to_name) for l in res.col_lines] == [
            ("a", to_names[0]), ("b", to_names[1]),
        ], sql
    assert "app.v" not in ms.calls


def test_alter_view_as_lineage(spark):
    """ALTER VIEW … AS redefines the view as CREATE VIEW does: its query
    is walked into edges to the view, the view is an ALTER-tagged
    output (reference README.md:259-263), and later statements resolve
    through the new definition.  Its edges name no sink column, and
    the view is not looked up: the catalog's columns for it are those
    of the definition being replaced."""
    for tables in ({}, {"app.v": ["old1", "old2"]}):
        ms = _CountingMetastore(DictMetastore(tables))
        res = LineageAnalyzer(spark, ms).analyze(
            "use app; alter view v as select a as x, nvl(b, 0) as y from t where a > 0; "
            "select x from v"
        )
        assert res.statements == ["USE", "ALTER", "SELECT"]
        assert res.output_tables == {"app.v\tALTER"}
        assert res.input_tables == {"app.t"}
        assert [
            (l.to_table, l.to_name, l.to_name_parse, l.from_names, sorted(l.conditions))
            for l in res.col_lines
        ] == [
            ("app.v", None, "x", ("app.t.a",), ["WHERE:app.t.a > 0"]),
            ("app.v", None, "y", ("app.t.b",), ["COLFUN:nvl(app.t.b,0)", "WHERE:app.t.a > 0"]),
            ("TOK_TMP_FILE", None, "x", ("app.t.x",), []),
        ], tables
        assert "app.v" not in ms.calls

    # a qualified view name and a WITH inside the query
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "alter view db.v as with w as (select a from t) select a from w"
    )
    assert res.statements == ["ALTER"]
    assert res.output_tables == {"db.v\tALTER"}
    assert res.input_tables == {"default.t"}
    assert [(l.to_table, l.to_name_parse, l.from_names) for l in res.col_lines] == [
        ("db.v", "a", ("default.t.a",)),
    ]


def test_format_matches_reference_print_shape(spark):
    """LineageResult.format() reproduces the reference's console dump
    shape (printRestult, README.md:1210-1217)."""
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "use app; insert into table dest select nvl(a.name,0) as name "
        "from test a"
    )
    out = res.format()
    assert out.splitlines()[0] == "inputTable:['app.test']"
    assert out.splitlines()[1] == "outputTable:['app.dest']"
    assert (
        "ToTable:app.dest,ToNameParse:name,ToName:None,"
        "FromName:app.test.name,Condition:" in out
    )


# -- HAVING / GROUPBY / ORDERBY tags (beyond the reference) -----------------


def test_having_tag_distinct_from_where(spark):
    """HAVING gets its own tag (the reference predates HAVING and knew
    only WHERE:); default mode, so no GROUPBY/ORDERBY capture."""
    ms = DictMetastore({"default.t": ["k", "v"]})
    sql = (
        "select k, sum(v) total from t where v > 0 "
        "group by k having sum(v) > 100"
    )
    res = LineageAnalyzer(spark, ms).analyze(sql)
    lines = lines_by_name(res)
    conds = lines["total"].conditions
    assert "WHERE:default.t.v > 0" in conds
    assert "HAVING:sum(default.t.v) > 100" in conds
    assert not any(c.startswith(("GROUPBY:", "ORDERBY:")) for c in conds)


def test_extended_tags_groupby_orderby(spark):
    ms = DictMetastore({"default.t": ["k", "g", "v"]})
    sql = (
        "select k, g, sum(v) total from t group by k, g "
        "having count(*) > 1 order by total desc, k limit 5"
    )
    res = LineageAnalyzer(spark, ms, extended_tags=True).analyze(sql)
    lines = lines_by_name(res)
    conds = lines["total"].conditions
    assert "GROUPBY:default.t.k,default.t.g" in conds
    assert "HAVING:count(*) > 1" in conds
    assert any(c.startswith("ORDERBY:") and "default.t.k" in c for c in conds)


def test_extended_tags_in_from_subquery(spark):
    """GROUP BY inside a FROM-subquery is captured in extended mode and
    silent in default mode (golden sql25 parity)."""
    ms = DictMetastore({"default.t": ["k", "v"], "default.dst": ["k", "n"]})
    sql = (
        "insert into table dst select k, n from "
        "(select k, count(v) n from t group by k order by k) s"
    )
    default_res = LineageAnalyzer(spark, ms).analyze(sql)
    ext_res = LineageAnalyzer(spark, ms, extended_tags=True).analyze(sql)
    d_conds = set().union(*(l.conditions for l in default_res.col_lines))
    e_conds = set().union(*(l.conditions for l in ext_res.col_lines))
    assert not any(c.startswith(("GROUPBY:", "ORDERBY:")) for c in d_conds)
    assert "GROUPBY:default.t.k" in e_conds
    assert "ORDERBY:default.t.k" in e_conds


def test_insert_overwrite_directory(spark):
    """Directory sinks (reference TOK_DIR, README.md:211-225): the
    path is the output, column edges keep parsed names."""
    ms = DictMetastore({"default.t": ["a", "b"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "insert overwrite directory '/tmp/out' select a, b from t "
        "where a > 1"
    )
    assert res.input_tables == {"default.t"}
    assert res.output_tables == {"/tmp/out"}
    assert res.statements == ["INSERT"]
    lines = lines_by_name(res)
    assert set(lines) == {"a", "b"}
    assert lines["a"].to_table == "/tmp/out"
    assert lines["a"].from_names == ("default.t.a",)
    assert "WHERE:default.t.a > 1" in lines["a"].conditions


def test_distribute_cluster_by_keep_edges(spark):
    """DISTRIBUTE BY / CLUSTER BY are physical placement — lineage
    passes through unchanged (they used to swallow all column edges)."""
    ms = DictMetastore({"default.t": ["a", "b"], "default.d": ["a", "b"]})
    for clause in ("distribute by a", "cluster by a", "sort by a"):
        res = LineageAnalyzer(spark, ms).analyze(
            f"insert into table d select a, b from t {clause}"
        )
        lines = lines_by_name(res)
        assert set(lines) == {"a", "b"}, clause
        assert lines["a"].from_names == ("default.t.a",), clause


def test_lateral_view_generator_provenance(spark):
    """LATERAL VIEW output columns expand to the generator expression's
    source columns (&-merged), instead of fabricating table.col."""
    ms = DictMetastore({"default.t": ["a", "b"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "select t.a, x from t lateral view explode(array(a, b)) ex as x"
    )
    lines = lines_by_name(res)
    assert lines["x"].from_names == ("default.t.a&default.t.b",)
    res2 = LineageAnalyzer(spark, ms).analyze(
        "select ex.x from t lateral view explode(array(b)) ex as x"
    )
    assert lines_by_name(res2)["x"].from_names == ("default.t.b",)


def test_create_table_like(spark):
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(
        "create table db1.d2 like t"
    )
    assert res.input_tables == {"default.t"}
    assert res.output_tables == {"db1.d2"}
    assert res.statements == ["CREATETABLE"]
    assert res.col_lines == []


def test_transform_using_script(spark):
    """Hive TRANSFORM ... USING: opaque script — every output column
    derives from every input column, tagged with the script."""
    ms = DictMetastore({"default.t": ["a", "b"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "select transform(a, b) using 'cat' as (x, y) from t"
    )
    lines = lines_by_name(res)
    assert set(lines) == {"x", "y"}
    for name in ("x", "y"):
        assert sorted(lines[name].from_names) == [
            "default.t.a", "default.t.b",
        ]
        assert "COLFUN:transform using 'cat'" in lines[name].conditions


def test_merge_into_lineage(spark):
    """MERGE INTO: target is output and input, source an input; SET /
    INSERT assignments become edges tagged MERGE:<on-condition>."""
    ms = DictMetastore({"default.dst": ["id", "v"], "default.src": ["id", "v"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "merge into dst using src on dst.id = src.id "
        "when matched then update set dst.v = src.v "
        "when not matched then insert (id, v) values (src.id, src.v)"
    )
    assert res.input_tables == {"default.dst", "default.src"}
    assert res.output_tables == {"default.dst"}
    assert res.statements == ["MERGE"]
    lines = lines_by_name(res)
    assert set(lines) == {"id", "v"}
    assert lines["v"].from_names == ("default.src.v",)
    assert lines["id"].from_names == ("default.src.id",)
    assert "MERGE:default.dst.id = default.src.id" in lines["v"].conditions


def test_update_delete_lineage(spark):
    ms = DictMetastore({"default.t": ["id", "v", "a"]})
    res = LineageAnalyzer(spark, ms).analyze(
        "update t set v = a + 1 where id = 2"
    )
    assert res.input_tables == {"default.t"}
    assert res.output_tables == {"default.t"}
    assert res.statements == ["UPDATE"]
    lines = lines_by_name(res)
    assert lines["v"].from_names == ("default.t.a",)
    assert "WHERE:default.t.id = 2" in lines["v"].conditions

    res2 = LineageAnalyzer(spark, ms).analyze("delete from t where id = 2")
    assert res2.statements == ["DELETE"]
    assert res2.output_tables == {"default.t"}
    assert res2.col_lines == []


def test_metadata_commands_record_kind(spark):
    """SHOW/DESCRIBE/EXPLAIN are utility commands — statement kind
    recorded, no phantom SELECT edge."""
    an = LineageAnalyzer(spark, DictMetastore({"default.t": ["a"]}))
    for sql, kind in (
        ("show tables", "SHOWTABLES"),
        ("describe table t", "DESCRIBERELATION"),
        ("explain select 1", "EXPLAIN"),
    ):
        res = an.analyze(sql)
        assert res.statements == [kind], sql
        assert res.col_lines == [] and res.output_tables == set(), sql


def test_hiveql_surface_beyond_reference(spark):
    """Constructs real migrating Hive scripts contain but the reference
    never handled: the lineage walker must produce sensible edges, not
    crash.  LATERAL VIEW explode attributes the generated column to
    every array source; DISTRIBUTE/CLUSTER BY and TABLESAMPLE are
    layout/sampling-only (no lineage effect); window functions source
    from their partition/order columns."""
    ms = DictMetastore({"default.nation": ["n_nationkey", "n_name", "n_regionkey", "n_comment"]})
    an = LineageAnalyzer(spark, ms)

    res = an.analyze(
        "select n_name, x from nation lateral view "
        "explode(array(n_nationkey, n_regionkey)) t as x"
    )
    assert res.input_tables == {"default.nation"}
    lines = lines_by_name(res)
    assert lines["n_name"].from_names == ("default.nation.n_name",)
    assert sorted(lines["x"].from_names) == [
        "default.nation.n_nationkey&default.nation.n_regionkey"
    ] or sorted(lines["x"].from_names) == [
        "default.nation.n_nationkey",
        "default.nation.n_regionkey",
    ]

    for sql in (
        "select n_name from nation distribute by n_regionkey",
        "select n_name from nation cluster by n_name",
        "select n_name from nation tablesample (50 percent)",
    ):
        res = an.analyze(sql)
        lines = lines_by_name(res)
        assert lines["n_name"].from_names == ("default.nation.n_name",), sql

    res = an.analyze(
        "select n_name, row_number() over "
        "(partition by n_regionkey order by n_name) rn from nation"
    )
    lines = lines_by_name(res)
    assert set(lines["rn"].from_names) == {
        "default.nation.n_name",
        "default.nation.n_regionkey",
    }
