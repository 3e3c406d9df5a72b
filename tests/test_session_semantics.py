"""Engine-session facade + runtime semantics the reference guarantees:
scalar subqueries error on >1 row (SCALAR join flag,
`dbcon/joblist/joblisttypes.h:83-95` / `ha_scalar_sub.cpp`)."""

from __future__ import annotations

import os

import pytest

from infinidb_spark.session import InfiniSession


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = InfiniSession(spark=spark)
    eng.load(sf_dir)
    return eng


def test_session_sql_and_table_surface(engine):
    df = engine.sql(
        "select c_nationkey, count(*) as n from customer group by c_nationkey"
    )
    assert df.count() > 0
    assert engine.table("nation").count() == 25


def test_explain_shows_pushdown(engine):
    text = engine.explain("select l_orderkey from lineitem where l_quantity > 30")
    assert "PushedFilters" in text and "GreaterThan" in text


def test_scalar_subquery_multirow_errors(engine):
    """`= (SELECT ...)` returning >1 row must raise at runtime — the
    reference's SCALAR-join error; Catalyst enforces the same contract."""
    bad = engine.sql(
        "select * from region where r_regionkey = (select n_regionkey from nation)"
    )
    with pytest.raises(Exception, match="(?i)more than one row|SCALAR_SUBQUERY"):
        bad.collect()


def test_scalar_subquery_single_row_ok(engine):
    good = engine.sql(
        "select * from region where r_regionkey = "
        "(select n_regionkey from nation where n_nationkey = 3)"
    )
    assert good.count() == 1


def test_concurrent_mixed_queries(spark, sf_dir):
    """Four threads run different operator families simultaneously
    (the reference's dwweek daytime pattern: concurrent query groups) —
    results must match the serial answers exactly and the shared
    table-handle cache must stay coherent."""
    import threading

    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    names = ["q1_pricing_summary", "join_multiway", "window_rank", "agg_distinct"]
    serial = {n: sorted(map(tuple, q[n](spark, sf_dir).collect())) for n in names}
    results: dict[str, list] = {}
    errors: list[Exception] = []

    def run(name):
        try:
            for _ in range(2):
                results[name] = sorted(map(tuple, q[name](spark, sf_dir).collect()))
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    for n in names:
        assert results[n] == serial[n], f"{n} diverged under concurrency"


def test_table_cache_is_per_session_and_per_version(spark, sf_dir, tmp_path):
    """newSession() must not be served another session's DataFrames, and
    a rewritten parquet file must not be served a stale file listing
    (round-3 ADVICE items; cache key = session identity + mtime/size)."""
    import shutil

    from infinidb_spark.session import _TABLE_CACHE, load_tables

    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), os.path.join(d, "nation.parquet"))

    t1 = load_tables(spark, d, names=("nation",))["nation"]
    n1 = t1.count()

    s2 = spark.newSession()
    t2 = load_tables(s2, d, names=("nation",))["nation"]
    assert t2 is not t1  # distinct sessions get distinct handles
    # same session + unchanged file → memoized handle
    assert load_tables(spark, d, names=("nation",))["nation"] is t1

    # rewrite the file (append a copy of itself via duckdb round-trip)
    import duckdb

    con = duckdb.connect()
    src = os.path.join(d, "nation.parquet")
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') UNION ALL "
        f"SELECT * FROM read_parquet('{src}')) TO '{src}.new' (FORMAT PARQUET)"
    )
    os.replace(src + ".new", src)
    t1b = load_tables(spark, d, names=("nation",))["nation"]
    assert t1b is not t1 and t1b.count() == 2 * n1
    # the superseded handle was evicted, not pinned forever
    stale = [k for k in _TABLE_CACHE if k[2] == d and k[3] == "nation"]
    assert len(stale) <= 2  # one per live session, none for the old version


def test_information_schema_views(spark, sf_dir):
    """MySQL tools introspect information_schema.tables/columns; the
    dialect rewrites the qualified names to session-registered views
    (refreshed per query, so tables created mid-session appear)."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    rows = sess.execute(
        "SELECT table_name, engine FROM information_schema.tables "
        "WHERE table_name = 'region'"
    ).collect()
    assert rows and rows[0].engine == "InfiniDB"

    cols = sess.execute(
        "SELECT column_name, data_type, is_nullable "
        "FROM information_schema.columns WHERE table_name = 'nation' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols] == ["n_nationkey", "n_name", "n_regionkey"]
    assert cols[1].data_type == "text"

    sess.execute("CREATE TABLE is_new (id BIGINT, v DOUBLE)")
    n = sess.execute(
        "SELECT count(*) c FROM information_schema.columns "
        "WHERE table_name = 'is_new'"
    ).collect()[0].c
    assert n == 2


def test_show_tables_and_columns_mysql_shape(spark, sf_dir):
    """SHOW TABLES [LIKE] returns MySQL's single Tables_in_* column
    (LIKE understands %/_); SHOW COLUMNS / DESCRIBE return the
    six-column Field/Type/Null/Key/Default/Extra shape, with Extra
    carrying auto_increment and Key always empty (no indexes)."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    assert [r[0] for r in sess.execute("SHOW TABLES LIKE 'n%'").collect()] == ["nation"]
    assert [r[0] for r in sess.execute("SHOW TABLES LIKE '_ation'").collect()] == ["nation"]

    sess.execute(
        "CREATE TABLE show_t (id INT AUTO_INCREMENT, "
        "v DOUBLE DEFAULT 1.5, s VARCHAR(10) NOT NULL)"
    )
    rows = {r.Field: r for r in sess.execute("SHOW COLUMNS FROM show_t").collect()}
    assert rows["id"].Extra == "auto_increment"
    assert rows["v"].Default == "1.5"
    assert rows["s"].Null == "NO" and rows["s"].Key == ""
    # DESCRIBE is the same statement
    assert sess.execute("DESCRIBE show_t").columns == [
        "Field", "Type", "Null", "Key", "Default", "Extra"
    ]


def test_client_handshake_statements(spark, sf_dir):
    """The statement sequence every MySQL client sends on connect —
    SET NAMES, SET sql_mode, USE, SHOW DATABASES/VARIABLES/STATUS —
    must execute; variables are stored and echoed, USE renames the
    Tables_in_* header."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    assert sess.execute("SET NAMES utf8mb4") == 0
    assert sess.execute("SET SESSION sql_mode = 'STRICT_TRANS_TABLES'") == 0
    assert sess.execute("USE proddb") == 0
    assert sess.execute("SHOW TABLES").columns == ["Tables_in_proddb"]
    dbs = {r[0] for r in sess.execute("SHOW DATABASES").collect()}
    assert dbs == {"information_schema", "proddb"}
    v = {r[0]: r[1] for r in sess.execute("SHOW VARIABLES LIKE 'sql_mode'").collect()}
    assert v == {"sql_mode": "STRICT_TRANS_TABLES"}
    assert sess.execute("SHOW VARIABLES LIKE 'version%'").count() == 2
    assert sess.execute("SHOW GLOBAL STATUS LIKE 'Threads%'").count() == 1
    # autocommit tracks the real session flag
    sess.execute("SET autocommit = 0")
    v = [r[1] for r in sess.execute("SHOW VARIABLES LIKE 'autocommit'").collect()]
    assert v == ["OFF"]
    sess.execute("SET autocommit = 1")


def test_sysvar_at_at_forms(spark, sf_dir):
    """@@var reads come from the sysvar store (with session./global.
    prefixes); SET @@var = value writes it; @@autocommit keeps its real
    semantics."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    sess.execute("SET @@session.sql_mode = 'ANSI_QUOTES'")
    assert sess.execute("SELECT @@sql_mode AS m").collect()[0].m == "ANSI_QUOTES"
    assert (
        sess.execute("SELECT @@session.sql_mode AS m").collect()[0].m
        == "ANSI_QUOTES"
    )
    assert sess.execute("SELECT @@character_set_client AS c").collect()[0].c
    sess.execute("SET @@autocommit = 0")
    assert sess._autocommit is False
    sess.execute("SET @@autocommit = 1")
    assert sess._autocommit is True


def test_single_sysvar_assignment_shares_the_list_path(spark, sf_dir):
    """A one-item ``SET @@[scope.]var = value`` goes through the same
    segment parser as an assignment list: the value keeps its
    whitespace (it used to render from whitespace-stripped tokens,
    storing '(SELECT1)') and the ``local.`` scope is accepted like
    ``session.``."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    sess.execute("SET @@session.x_expr = (SELECT 1) ;")
    sess.execute("SET @@local.wait_timeout = 5")
    sess.execute("SET @@sql_mode = 'ANSI'")
    assert sess._sysvars["x_expr"] == "(SELECT 1)"
    assert sess._sysvars["wait_timeout"] == "5"
    assert sess._sysvars["sql_mode"] == "ANSI"
    sess.execute("SET @@global.autocommit = OFF")
    assert sess._autocommit is False
    sess.execute("SET @@autocommit = 1")
    assert sess._autocommit is True


def test_show_table_status(spark, sf_dir):
    """SHOW TABLE STATUS: Name/Engine/Rows with row counts from footer
    metadata (the manifest) — never a data scan."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    row = sess.execute("SHOW TABLE STATUS LIKE 'nation'").collect()[0]
    assert (row.Name, row.Engine, row.Rows) == ("nation", "InfiniDB", 25)
    sess.execute("CREATE TABLE sts_t AS SELECT * FROM region")
    row = sess.execute("SHOW TABLE STATUS LIKE 'sts_t'").collect()[0]
    assert row.Rows == 5


def test_autocommit_spellings_and_truncate_resets_ai(spark, tmp_path):
    """SET @@autocommit='OFF'/FALSE must disable autocommit (the quoted
    and boolean spellings previously left it ON, silently committing an
    open transaction); TRUNCATE resets the AUTO_INCREMENT counter."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark)
    sess.execute(
        "CREATE TABLE t_ai (id INT AUTO_INCREMENT, v INT)"
    )
    sess.execute("INSERT INTO t_ai (v) VALUES (10), (11)")
    assert {r.id for r in sess.execute("SELECT id FROM t_ai").collect()} == {1, 2}

    sess.execute("TRUNCATE TABLE t_ai")
    sess.execute("INSERT INTO t_ai (v) VALUES (12)")
    assert [r.id for r in sess.execute("SELECT id FROM t_ai").collect()] == [1]

    # quoted/boolean OFF spellings disable autocommit for real
    sess.execute("SET @@autocommit='OFF'")
    sess.execute("UPDATE t_ai SET v = 99 WHERE id = 1")
    sess.execute("ROLLBACK")
    assert sess.execute("SELECT v FROM t_ai").collect()[0].v == 12
    sess.execute("SET @@autocommit=1")


def test_found_rows_and_explain_take_dialect_path(spark, sf_dir):
    """SQL_CALC_FOUND_ROWS' count wrapper and EXPLAIN must take the
    same permissive-GROUP-BY translator path as the SELECT itself —
    raw Spark SQL threw MISSING_AGGREGATION on queries execute() ran
    fine."""
    from infinidb_spark.session import InfiniSession

    sess = InfiniSession(spark, sf_dir)
    sess.execute(
        "SELECT SQL_CALC_FOUND_ROWS c_nationkey, c_name FROM customer "
        "GROUP BY c_nationkey LIMIT 2"
    )
    n = sess.execute("SELECT FOUND_ROWS()").collect()[0][0]
    assert n == sess.execute(
        "SELECT COUNT(DISTINCT c_nationkey) FROM customer"
    ).collect()[0][0]
    plan = sess.execute(
        "EXPLAIN SELECT c_nationkey, c_name FROM customer GROUP BY c_nationkey"
    )
    assert "Aggregate" in str(plan) or "HashAggregate" in str(plan)
