"""Engine golden tests — replicas of the reference's end-to-end SQL test
corpus (FIXTURES.md F1-F8; reference tests/ directory, SURVEY §5)."""

from __future__ import annotations

import pytest

from incresql_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


def q(e: Engine, sql: str) -> list[str]:
    return e.execute_statement(sql).pipes()


# F2 — group-by fixture (tests/group/mod.rs:19-41)
def test_group_by_null_handling(engine):
    engine.execute_statement("CREATE TABLE test (c1 TEXT, c2 INT)")
    engine.execute_statement(
        "INSERT INTO test VALUES ('a',1),('a',2),('b',3),('b',NULL),('c',NULL)"
    )
    got = q(
        engine,
        "SELECT c1, count(*), count(c2), sum(c2) FROM test GROUP BY c1 ORDER BY c1",
    )
    assert got == ["|a|2|2|3|", "|b|2|1|3|", "|c|1|0|NULL|"]


def test_global_agg_zero_rows(engine):
    """tests/group/mod.rs:19-25: one row |0|NULL| on empty input."""
    engine.execute_statement("CREATE TABLE t0 (a INT)")
    got = q(engine, "SELECT count(*), sum(a) FROM t0 WHERE FALSE")
    assert got == ["|0|NULL|"]


# F3 — delete / multiset fixture (tests/delete/mod.rs:4-45)
def test_delete_and_freq_split_limit(engine):
    engine.execute_statement("CREATE TABLE t1 (a INT, b TEXT)")
    engine.execute_statement("INSERT INTO t1 VALUES (1,'abc')")
    engine.execute_statement("INSERT INTO t1 VALUES (1,'abc')")  # freq → 2
    engine.execute_statement("INSERT INTO t1 VALUES (2,'def'),(3,'ghi')")
    assert sorted(q(engine, "SELECT * FROM t1 ORDER BY a")) == [
        "|1|abc|",
        "|1|abc|",
        "|2|def|",
        "|3|ghi|",
    ]
    engine.execute_statement("DELETE FROM t1 WHERE t1.b = 'def'")
    assert sorted(q(engine, "SELECT * FROM t1")) == ["|1|abc|", "|1|abc|", "|3|ghi|"]
    # DELETE LIMIT 1 must split the freq-2 tuple, leaving ONE (1,'abc')
    engine.execute_statement("DELETE FROM t1 LIMIT 1")
    assert sorted(q(engine, "SELECT * FROM t1")) == ["|1|abc|", "|3|ghi|"]


# F1 — join fixture (tests/join/mod.rs:4-29): NULL keys never join
def test_joins_null_keys(engine):
    engine.execute_statement("CREATE TABLE t_left (l_id INT, l_text TEXT)")
    engine.execute_statement("CREATE TABLE t_right (r_id INT, r_text TEXT)")
    engine.execute_statement(
        "INSERT INTO t_left VALUES (1,'la'),(1,'lb'),(2,'lc'),(2,'ld'),"
        "(3,'le'),(3,'lf'),(NULL,'lg'),(NULL,'lh')"
    )
    engine.execute_statement(
        "INSERT INTO t_right VALUES (1,'ra'),(1,'rb'),(2,'rc'),(2,'rd'),"
        "(4,'re'),(4,'rf'),(NULL,'rg'),(NULL,'rh')"
    )
    inner = engine.execute_statement(
        "SELECT l_id, l_text, r_text FROM t_left JOIN t_right ON l_id = r_id "
        "ORDER BY l_id, l_text, r_text"
    )
    assert len(inner.rows) == 8  # 2×2 for key 1 + 2×2 for key 2; NULLs drop
    left = engine.execute_statement(
        "SELECT l_id, l_text, r_text FROM t_left LEFT JOIN t_right ON l_id = r_id "
        "ORDER BY l_text, r_text"
    )
    assert len(left.rows) == 12  # 8 matches + key-3 ×2 and NULL-keys ×2 padded
    padded = [r for r in left.rows if r[2] is None]
    assert len(padded) == 4


# F4 — casts / implicit widening (tests/casts/mod.rs:22-45)
def test_casts_widening(engine):
    engine.execute_statement("CREATE TABLE tc (i INTEGER, b BIGINT, d DECIMAL(10,2))")
    engine.execute_statement("INSERT INTO tc VALUES (1, 10, 2.50)")
    r = engine.execute_statement("SELECT i + b, i + d, b + d FROM tc")
    assert r.rows[0] == (11, pytest.approx(3.50), pytest.approx(12.50))
    r2 = engine.execute_statement('SELECT CAST("2010-10-23" AS DATE)')
    assert str(r2.rows[0][0]) == "2010-10-23"


# F5 — directory CSV source (tests/file_sources/mod.rs:4-14)
def test_directory_source(engine, tmp_path):
    csvdir = tmp_path / "csv"
    csvdir.mkdir()
    (csvdir / "simple.csv").write_text('123,abc,12.1\n"456","d,ef",13.2\n')
    r = engine.execute_statement(f'SELECT * FROM DIRECTORY "{csvdir}"')
    assert sorted(r.rows) == [
        ('["123","abc","12.1"]',),
        ('["456","d,ef","13.2"]',),
    ]
    # the TPC-H load shape: ->> field extraction + cast
    r2 = engine.execute_statement(
        f'SELECT CAST(data->>"$[0]" AS BIGINT), data->>"$[1]" FROM DIRECTORY "{csvdir}" '
        "ORDER BY 1"
    )
    assert r2.rows == [(123, "abc"), (456, "d,ef")]


# F6 — JSON quirks (tests/json/mod.rs:4-55)
def test_json_extract_quirks(engine):
    r = engine.execute_statement("""SELECT '[1,2,3,4]'->"$.1" """)
    assert r.rows[0][0] == "2"
    r = engine.execute_statement("""SELECT '[[1,2],[3,4],[5,6]]'->>"$.*.0" """)
    assert r.rows[0][0] == "[1,3,5]"
    r = engine.execute_statement("""SELECT '{"a": "txt"}'->"$.a" """)
    assert r.rows[0][0] == '"txt"'  # -> keeps quotes
    r = engine.execute_statement("""SELECT '{"a": "txt"}'->>"$.a" """)
    assert r.rows[0][0] == "txt"  # ->> unquotes
    r = engine.execute_statement("""SELECT '{"a": null}'->"$.a" """)
    assert r.rows[0][0] == "null"  # json null → text 'null'


# F7 — views fixture (tests/views/mod.rs:4-30): cross-db inlining
def test_views_cross_database(engine):
    engine.execute_statement("CREATE DATABASE other")
    engine.execute_statement("CREATE TABLE other.src (c TEXT)")
    engine.execute_statement("INSERT INTO other.src VALUES ('hello')")
    engine.execute_statement("USE other")
    engine.execute_statement("CREATE VIEW default.v AS SELECT c AS renamed FROM src")
    engine.execute_statement("USE default")
    r = engine.execute_statement("SELECT renamed FROM v")
    assert r.rows == [("hello",)]


# F8 — literals / constant folding (tests/optimize/constant_folding.rs)
def test_literal_folding(engine):
    assert q(engine, "SELECT 1 + 2 * 3 - 4") == ["|3|"]
    r = engine.execute_statement("SELECT 1.0 + 2.0 * 3.0 - 4.0")
    assert float(r.rows[0][0]) == 3.0


def test_show_and_catalog(engine):
    engine.execute_statement("CREATE TABLE t_show (a INT)")
    engine.execute_statement("CREATE VIEW v_show AS SELECT a FROM t_show")
    tables = dict(engine.execute_statement("SHOW TABLES").rows)
    assert tables["t_show"] == "table" and tables["v_show"] == "view"
    dbs = [r[0] for r in engine.execute_statement("SHOW DATABASES").rows]
    assert "default" in dbs


def test_compact_table(engine):
    engine.execute_statement("CREATE TABLE tcp (a INT)")
    for i in range(3):
        engine.execute_statement(f"INSERT INTO tcp VALUES ({i})")
    engine.execute_statement("DELETE FROM tcp WHERE a = 1")
    engine.execute_statement("COMPACT TABLE tcp")
    tbl = engine._table("default", "tcp")
    assert len(tbl._segments()) == 1
    assert sorted(q(engine, "SELECT * FROM tcp")) == ["|0|", "|2|"]


def test_insert_select(engine):
    engine.execute_statement("CREATE TABLE src2 (a INT)")
    engine.execute_statement("INSERT INTO src2 VALUES (1),(2),(3)")
    engine.execute_statement("CREATE TABLE dst2 (a INT)")
    engine.execute_statement("INSERT INTO dst2 SELECT a FROM src2 WHERE a > 1")
    assert sorted(q(engine, "SELECT * FROM dst2")) == ["|2|", "|3|"]


def test_statement_clears_job_group(spark, tmp_path):
    """execute_statement with a session_id must clear the thread-local job
    group when it returns (engine.py finally) — a stale group would let a
    late KILL cancel whatever this thread runs next."""
    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh_grp"))
    e.execute_statement("SELECT 1 + 1", session_id=99)
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.interruptOnCancel") is None
    # a KILL for that session after completion cancels nothing; the next
    # statement under the same session still runs
    e.execute_statement("KILL 99")
    r = e.execute_statement("SELECT sum(id) AS s FROM range(1000)", session_id=99)
    assert r.rows == [(499500,)]
    assert sc.getLocalProperty("spark.jobGroup.id") is None


# Round-14 (VERDICT r13 task 6): embedded collect fence
def test_embedded_collect_fence(engine, spark):
    """The embedded (non-streamed) path collects under a LIMIT fence:
    results past incresql.embedded.maxCollectRows raise
    EmbeddedResultTooLarge instead of materializing on the driver;
    stream=True and cap=0 both bypass; default cap leaves goldens
    untouched."""
    from incresql_spark.engine import (
        EMBEDDED_MAX_COLLECT_CONF,
        EmbeddedResultTooLarge,
    )

    engine.execute_statement("CREATE TABLE fence_t (a INT)")
    engine.execute_statement(
        "INSERT INTO fence_t VALUES " + ",".join(f"({i})" for i in range(10))
    )
    spark.conf.set(EMBEDDED_MAX_COLLECT_CONF, "5")
    try:
        with pytest.raises(EmbeddedResultTooLarge):
            engine.execute_statement("SELECT * FROM fence_t")
        # streaming is the documented escape hatch — O(partition) driver
        res = engine.execute_statement("SELECT * FROM fence_t", stream=True)
        assert sorted(v for (v,) in res.iter_rows()) == list(range(10))
        # 0 disables the fence for consumers that want full materialization
        spark.conf.set(EMBEDDED_MAX_COLLECT_CONF, "0")
        res = engine.execute_statement("SELECT * FROM fence_t")
        assert sorted(v for (v,) in res.rows) == list(range(10))
        # results at or under the cap are unaffected
        spark.conf.set(EMBEDDED_MAX_COLLECT_CONF, "10")
        res = engine.execute_statement("SELECT * FROM fence_t ORDER BY a")
        assert [v for (v,) in res.rows] == list(range(10))
    finally:
        spark.conf.unset(EMBEDDED_MAX_COLLECT_CONF)


# Lazy registration: a statement registers only the relations it names,
# and only when their registration predates the last mutation.  Each test
# below first registers a name, then mutates, then asserts the next
# SELECT through that name sees the new rows.
def rows(e: Engine, sql: str) -> list[tuple]:
    return sorted(e.execute_statement(sql).rows)


def test_stale_bare_table(engine):
    engine.execute_statement("CREATE TABLE lz (a INT)")
    engine.execute_statement("INSERT INTO lz VALUES (1)")
    assert rows(engine, "SELECT a FROM lz") == [(1,)]
    engine.execute_statement("INSERT INTO lz VALUES (2)")
    assert rows(engine, "SELECT a FROM lz") == [(1,), (2,)]


def test_stale_qualified_table(engine):
    engine.execute_statement("CREATE DATABASE lzdb")
    engine.execute_statement("CREATE TABLE lzdb.lq (a INT)")
    engine.execute_statement("INSERT INTO lzdb.lq VALUES (1)")
    assert rows(engine, "SELECT a FROM lzdb.lq") == [(1,)]
    engine.execute_statement("INSERT INTO lzdb.lq VALUES (2)")
    assert rows(engine, "SELECT a FROM lzdb.lq") == [(1,), (2,)]


def test_stale_view_over_table(engine):
    engine.execute_statement("CREATE TABLE lvt (a INT)")
    engine.execute_statement("INSERT INTO lvt VALUES (1)")
    engine.execute_statement("CREATE VIEW lv AS SELECT a * 10 AS b FROM lvt")
    assert rows(engine, "SELECT b FROM lv") == [(10,)]
    engine.execute_statement("INSERT INTO lvt VALUES (2)")
    assert rows(engine, "SELECT b FROM lv") == [(10,), (20,)]


def test_stale_view_in_other_context_db(engine):
    """The view's bare ``src`` resolves in its context db even though the
    session's db has its own ``src``, and the session's ``src`` is intact
    in the same statement afterwards."""
    engine.execute_statement("CREATE DATABASE ctx")
    engine.execute_statement("CREATE TABLE ctx.src (c TEXT)")
    engine.execute_statement("INSERT INTO ctx.src VALUES ('a')")
    engine.execute_statement("CREATE TABLE src (c TEXT)")
    engine.execute_statement("INSERT INTO src VALUES ('session')")
    engine.execute_statement("USE ctx")
    engine.execute_statement("CREATE VIEW default.cv AS SELECT c FROM src")
    engine.execute_statement("USE default")
    both = "SELECT c FROM cv UNION ALL SELECT c FROM src"
    assert rows(engine, both) == [("a",), ("session",)]
    engine.execute_statement("INSERT INTO ctx.src VALUES ('b')")
    # ``src`` is current when the view is rebuilt in the next statement
    assert rows(engine, "SELECT c FROM src") == [("session",)]
    assert rows(engine, both) == [("a",), ("b",), ("session",)]


def test_view_over_same_named_table(engine):
    """A view shadows the table it is named after; inside its own body the
    name falls through to that table instead of recursing."""
    engine.execute_statement("CREATE TABLE sh (a INT)")
    engine.execute_statement("INSERT INTO sh VALUES (1)")
    engine.execute_statement("CREATE VIEW sh AS SELECT a + 100 AS a FROM sh")
    assert rows(engine, "SELECT a FROM sh") == [(101,)]
    engine.execute_statement("INSERT INTO sh VALUES (2)")
    assert rows(engine, "SELECT a FROM sh") == [(101,), (102,)]


def test_stale_view_over_view(engine):
    engine.execute_statement("CREATE TABLE vvt (a INT)")
    engine.execute_statement("INSERT INTO vvt VALUES (1), (-1)")
    engine.execute_statement("CREATE VIEW vv1 AS SELECT a FROM vvt WHERE a > 0")
    engine.execute_statement("CREATE VIEW vv2 AS SELECT a + 1 AS b FROM vv1")
    assert rows(engine, "SELECT b FROM vv2") == [(2,)]
    engine.execute_statement("INSERT INTO vvt VALUES (5), (-5)")
    assert rows(engine, "SELECT b FROM vv2") == [(2,), (6,)]


def test_stale_mv_after_refresh(engine):
    engine.execute_statement("CREATE TABLE mvt (g TEXT, v INT)")
    engine.execute_statement("INSERT INTO mvt VALUES ('x', 1)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW lmv AS SELECT g, sum(v) AS s FROM mvt GROUP BY g"
    )
    assert rows(engine, "SELECT g, s FROM lmv") == [("x", 1)]
    engine.execute_statement("INSERT INTO mvt VALUES ('x', 2), ('y', 5)")
    engine.execute_statement("REFRESH MATERIALIZED VIEW lmv")
    assert rows(engine, "SELECT g, s FROM lmv") == [("x", 3), ("y", 5)]


def test_stale_system_tables_after_create(engine):
    q_tables = (
        "SELECT name FROM incresql.tables WHERE database_name = 'default'"
    )
    engine.execute_statement("CREATE TABLE st1 (a INT)")
    assert rows(engine, q_tables) == [("st1",)]
    engine.execute_statement("CREATE TABLE st2 (a INT)")
    assert rows(engine, q_tables) == [("st1",), ("st2",)]


def test_stale_insert_select_source(engine):
    engine.execute_statement("CREATE TABLE iss (a INT)")
    engine.execute_statement("CREATE TABLE isd (a INT)")
    engine.execute_statement("INSERT INTO iss VALUES (1)")
    assert rows(engine, "SELECT a FROM iss") == [(1,)]
    engine.execute_statement("INSERT INTO iss VALUES (2)")
    engine.execute_statement("INSERT INTO isd SELECT a FROM iss")
    assert rows(engine, "SELECT a FROM isd") == [(1,), (2,)]
    # the source registered mid-statement is stale once the insert lands
    engine.execute_statement("INSERT INTO isd SELECT a + 10 FROM isd")
    assert rows(engine, "SELECT a FROM isd") == [(1,), (2,), (11,), (12,)]


def test_stale_sketch_table_function(engine):
    """The table name sits inside a string literal until the sketch call
    expands, so only the expanded SQL can name it."""
    engine.execute_statement("CREATE TABLE lineitem (l_orderkey INT)")
    engine.execute_statement("INSERT INTO lineitem VALUES (1), (2), (3)")
    sketch = "SELECT occupied FROM hll_distinct('lineitem', 'l_orderkey')"
    assert rows(engine, sketch) == [(3,)]
    engine.execute_statement("INSERT INTO lineitem VALUES (4), (5), (6)")
    assert rows(engine, sketch) == [(6,)]


def test_stale_bare_name_after_use(engine):
    engine.execute_statement("CREATE DATABASE db2")
    engine.execute_statement("CREATE TABLE u (a INT)")
    engine.execute_statement("CREATE TABLE db2.u (a INT)")
    engine.execute_statement("INSERT INTO u VALUES (1)")
    engine.execute_statement("INSERT INTO db2.u VALUES (20)")
    assert rows(engine, "SELECT a FROM u") == [(1,)]
    engine.execute_statement("USE db2")
    assert rows(engine, "SELECT a FROM u") == [(20,)]
    engine.execute_statement("INSERT INTO u VALUES (21)")
    assert rows(engine, "SELECT a FROM u") == [(20,), (21,)]


def test_registration_reads_only_named_relations(engine, monkeypatch):
    """Counts, not timings: an INSERT ... VALUES registers nothing, a
    SELECT on one MV reads that MV and scans no base table, and a repeat
    SELECT with no mutation in between registers nothing at all."""
    from incresql_spark.frequency import FreqTable
    from incresql_spark.materialize import MaterializedView

    engine.execute_statement("CREATE TABLE ct (g TEXT, v INT)")
    engine.execute_statement("INSERT INTO ct VALUES ('x', 1)")
    for name in ("cm1", "cm2"):
        engine.execute_statement(
            f"CREATE MATERIALIZED VIEW {name} AS "
            "SELECT g, sum(v) AS s FROM ct GROUP BY g"
        )
    engine.execute_statement("SELECT * FROM cm1")
    engine.execute_statement("INSERT INTO ct VALUES ('y', 2)")

    calls: dict[str, list] = {"scan": [], "read": [], "register": []}
    real_scan, real_read = FreqTable.scan, MaterializedView.read
    real_register = Engine._register_all
    in_read = []

    # a MV read derives its state schema from a zero-row base scan plan;
    # that scan is the view's own, so only scans outside a read count
    def scan(self, *a, **k):
        if not in_read:
            calls["scan"].append(self.path)
        return real_scan(self, *a, **k)

    def read(self):
        calls["read"].append(self.name)
        in_read.append(self.name)
        try:
            return real_read(self)
        finally:
            in_read.pop()

    def register(self, names, *a, **k):
        calls["register"].append(sorted(names))
        return real_register(self, names, *a, **k)

    monkeypatch.setattr(FreqTable, "scan", scan)
    monkeypatch.setattr(MaterializedView, "read", read)
    monkeypatch.setattr(Engine, "_register_all", register)

    engine.execute_statement("INSERT INTO ct VALUES ('z', 3)")
    assert calls == {"scan": [], "read": [], "register": []}

    assert rows(engine, "SELECT * FROM cm1") == [("x", 1)]
    assert calls == {"scan": [], "read": ["cm1"], "register": [["cm1"]]}

    engine.execute_statement("SELECT g FROM cm1")
    assert calls == {"scan": [], "read": ["cm1"], "register": [["cm1"]]}
