"""Reference-parity facade tests — the reference's own demo and analyzer
fixtures (FIXTURES.md §1/§4/§5, src/database.rs:47-91) run through the
OxidSparkDatabase facade.
"""

from __future__ import annotations

import pytest

from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase


@pytest.fixture()
def db(spark):
    d = OxidSparkDatabase(spark)
    # the reference demo (database.rs:47-91): people/cars with NULL age +
    # unicode name
    d.query("CREATE TABLE people (id INT, name VARCHAR(255), age INT)")
    d.query("CREATE TABLE cars (id INT, model VARCHAR(255), owner_id INT)")
    d.query("INSERT INTO people VALUES (1, 'Elon', 20)")
    d.query("INSERT INTO people VALUES (2, 'Dr. Emmett L. „Doc“ Brown', 30)")
    d.query("INSERT INTO people VALUES (3, 'Marty McFly', NULL)")
    d.query("INSERT INTO cars VALUES (1, 'Tesla Model 3', 1)")
    d.query("INSERT INTO cars VALUES (2, 'DeLorean DMC-12', 2)")
    return d


def test_demo_select_star(db):
    rows = db.query("SELECT * FROM people").collect()
    assert len(rows) == 3
    assert {r.name for r in rows} == {"Elon", "Dr. Emmett L. „Doc“ Brown", "Marty McFly"}


def test_demo_filter(db):
    rows = db.query("SELECT name FROM people WHERE age >= 21").collect()
    assert [r.name for r in rows] == ["Dr. Emmett L. „Doc“ Brown"]


def test_demo_join(db):
    """The reference's flagship demo query (database.rs:84-90)."""
    rows = db.query(
        "SELECT p.name, c.model FROM people p, cars c "
        "WHERE p.id = c.owner_id AND p.age >= 18"
    ).collect()
    assert sorted((r.name, r.model) for r in rows) == [
        ("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12"),
        ("Elon", "Tesla Model 3"),
    ]


def test_null_standard_semantics(db):
    """Deliberate divergence from the reference (volcano_style.rs:76-84
    treats NULL=NULL as true): standard SQL — NULL compares to nothing."""
    assert db.query("SELECT * FROM people WHERE age = NULL").count() == 0
    assert db.query("SELECT name FROM people WHERE age IS NULL").collect()[0].name == "Marty McFly"


def test_join_duplicates_kept(db, spark):
    """Guards against the reference's first-match-only hash-join bug
    (volcano_style.rs:222-229) — FIXTURES.md §5 dupjoin."""
    d = OxidSparkDatabase(spark)
    d.query("CREATE TABLE dupl (k INT, lv VARCHAR(10))")
    d.query("CREATE TABLE dupr (k INT, rv VARCHAR(10))")
    for v in ["(1, 'a1')", "(1, 'a2')", "(2, 'b1')", "(NULL, 'n1')"]:
        d.query(f"INSERT INTO dupl VALUES {v}")
    for v in ["(1, 'x1')", "(1, 'x2')", "(3, 'y1')", "(NULL, 'n2')"]:
        d.query(f"INSERT INTO dupr VALUES {v}")
    rows = d.query(
        "SELECT lv, rv FROM dupl, dupr WHERE dupl.k = dupr.k"
    ).collect()
    # full cross-match set, and NULL keys never join (the reference panics)
    assert sorted((r.lv, r.rv) for r in rows) == [
        ("a1", "x1"), ("a1", "x2"), ("a2", "x1"), ("a2", "x2")
    ]


def test_insert_arity_error(db):
    with pytest.raises(AnalyzerError, match="2 values"):
        db.query("INSERT INTO people VALUES (4, 'x')")


def test_varchar_length_enforced(db):
    db.query("CREATE TABLE tiny (v VARCHAR(3))")
    db.query("INSERT INTO tiny VALUES ('abc')")
    with pytest.raises(AnalyzerError, match="exceeds VARCHAR"):
        db.query("INSERT INTO tiny VALUES ('abcd')")


def test_int_overflow_checked(db):
    """Standard checked casts — NOT the reference's checked_abs bug
    (types.rs:171-178)."""
    db.query("CREATE TABLE t_small (s SMALLINT)")
    db.query("INSERT INTO t_small VALUES (32767)")
    db.query("INSERT INTO t_small VALUES (-32768)")  # negatives allowed
    with pytest.raises(AnalyzerError, match="out of range"):
        db.query("INSERT INTO t_small VALUES (32768)")


def test_cross_width_compare(db):
    """typestest fixture (FIXTURES.md §4): int widths compare
    interchangeably (types.rs:206-246)."""
    db.query("CREATE TABLE typestest (b BIGINT, i INT, s SMALLINT, v VARCHAR(10))")
    db.query("INSERT INTO typestest VALUES (10, 10, 10, 'hello')")
    db.query("INSERT INTO typestest VALUES (9223372036854775807, 2147483647, 32767, '')")
    db.query("INSERT INTO typestest VALUES (NULL, NULL, NULL, NULL)")
    assert db.query("SELECT * FROM typestest WHERE s = 10").count() == 1
    assert db.query("SELECT * FROM typestest WHERE b = 10 AND i = 10").count() == 1


def test_duplicate_table_error(db):
    with pytest.raises(AnalyzerError, match="already exists"):
        db.query("CREATE TABLE people (id INT)")


def test_insert_select_and_catalog_cmds(spark):
    from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    try:
        db.query("CREATE TABLE src_t (i INT, s VARCHAR(10))")
        db.query("INSERT INTO src_t VALUES (1, 'a')")
        db.query("INSERT INTO src_t VALUES (2, 'bb')")
        db.query("CREATE TABLE dst_t (i INT, s VARCHAR(10))")
        db.query("INSERT INTO dst_t SELECT i + 10, s FROM src_t WHERE i >= 2")
        got = sorted((r.i, r.s) for r in db.query("SELECT i, s FROM dst_t").collect())
        assert got == [(12, "bb")]

        # catalog commands
        tables = {r.table_name for r in db.query("SHOW TABLES").collect()}
        assert {"src_t", "dst_t"} <= tables
        desc = {r.col_name: r.data_type for r in db.query("DESCRIBE dst_t").collect()}
        assert desc == {"i": "INT", "s": "VARCHAR(10)"}

        # arity + varchar cap contracts carry over to the set-oriented path
        import pytest

        with pytest.raises(AnalyzerError):
            db.query("INSERT INTO dst_t SELECT i FROM src_t")
        db.query("CREATE TABLE tiny_t (s VARCHAR(1))")
        with pytest.raises(AnalyzerError):
            db.query("INSERT INTO tiny_t SELECT s FROM src_t WHERE i = 2")
    finally:
        for t in ("src_t", "dst_t", "tiny_t"):
            try:
                db.query(f"DROP TABLE {t}")
            except Exception:
                pass


def test_durable_storage_survives_reopen(spark, tmp_path):
    """storage_dir-backed facade: tables persist across database
    instances (the reference's disk persistence, rebuilt as versioned
    snapshots), and DML goes through durable commits."""
    from oxidsql_spark.database import OxidSparkDatabase

    store = str(tmp_path / "db_store")
    db1 = OxidSparkDatabase(spark, storage_dir=store)
    db1.query("CREATE TABLE people (id INT, name VARCHAR(40), age SMALLINT)")
    db1.query("INSERT INTO people VALUES (1, 'Elster Glanz', 50)")
    db1.query("INSERT INTO people VALUES (2, 'Xenia Xenon', NULL)")
    db1.query("UPDATE people SET age = 51 WHERE id = 1")

    # a brand-new facade over the same directory sees everything
    db2 = OxidSparkDatabase(spark, storage_dir=store)
    assert {r.table_name for r in db2.query("SHOW TABLES").collect()} == {"people"}
    rows = sorted((r.id, r.name, r.age) for r in db2.query("SELECT * FROM people").collect())
    assert rows == [(1, "Elster Glanz", 51), (2, "Xenia Xenon", None)]

    # time travel through the versioned backend: v2 = after first insert
    v2 = db2._vt("people").read(2)
    assert [(r.id, r.age) for r in v2.collect()] == [(1, 50)]

    db2.query("DELETE FROM people WHERE id = 2")
    db3 = OxidSparkDatabase(spark, storage_dir=store)
    assert db3.query("SELECT count(*) AS n FROM people").collect()[0].n == 1
    db3.query("DROP TABLE people")
    assert OxidSparkDatabase(spark, storage_dir=store)._tables == {}


def test_explain_statement(db):
    """EXPLAIN <select> returns a plan-quality relation: join strategy,
    exchange count, and the formatted physical plan."""
    rows = {r.item: r.detail for r in db.query(
        "EXPLAIN SELECT p.name, c.model FROM people p, cars c "
        "WHERE p.id = c.owner_id AND p.age >= 18"
    ).collect()}
    assert "Join" in rows["joins"]
    assert rows["python_evals"] == "0"
    assert "physical_plan" in rows and len(rows["physical_plan"]) > 100
    assert rows["exchanges"].isdigit()


def test_insert_plan_depth_constant(spark):
    """N single-row inserts must produce a 2-node view (base ∪ one
    local batch), not an N-deep union chain — the interactive facade's
    plan-depth guarantee."""
    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_depth (id INT)")
    for i in range(30):
        db.query(f"INSERT INTO t_depth VALUES ({i})")
    plan = spark.table("t_depth")._jdf.queryExecution().analyzed().toString()
    assert plan.count("Union") <= 1
    assert spark.table("t_depth").count() == 30
    assert {r.id for r in db.query("SELECT id FROM t_depth WHERE id < 3").collect()} == {0, 1, 2}


def test_ctas_and_truncate(spark, tmp_path):
    """CREATE TABLE AS SELECT infers the schema from the result
    (reference types + passthrough for doubles etc.); TRUNCATE empties
    but keeps the table. Durable path round-trips through reopen."""
    d = str(tmp_path / "ctas_db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE src (id INT, v INT)")
    db.query("INSERT INTO src SELECT id, id * 2 FROM range(10)")
    db.query("CREATE TABLE derived AS SELECT id, v / 2.0E0 AS score FROM src WHERE id >= 5")
    assert db.query("SELECT count(*) AS n FROM derived").collect()[0].n == 5
    cols = {r.col_name: r.data_type for r in db.query("DESCRIBE derived").collect()}
    assert cols["score"] == "DOUBLE" and cols["id"] == "INT"
    assert db.stats("derived").rowcount == 5

    # survives reopen (schema + rows + stats)
    db2 = OxidSparkDatabase(spark, storage_dir=d)
    assert db2.query("SELECT count(*) AS n FROM derived").collect()[0].n == 5
    assert db2.stats("derived").rowcount == 5

    db2.query("TRUNCATE TABLE derived")
    assert db2.query("SELECT count(*) AS n FROM derived").collect()[0].n == 0
    assert db2.stats("derived").rowcount == 0
    db2.query("INSERT INTO src VALUES (99, 1)")  # other tables unaffected
    assert db2.query("SELECT count(*) AS n FROM src").collect()[0].n == 11


def test_create_view_tracks_base_table(spark):
    """A view is a lazy plan over the base table's name — it reflects
    rows inserted AFTER the view was defined."""
    import pytest as _pytest

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE base_v (id INT, v INT)")
    db.query("INSERT INTO base_v VALUES (1, 10)")
    db.query("CREATE VIEW big_v AS SELECT id, v FROM base_v WHERE v >= 10")
    assert db.query("SELECT count(*) AS n FROM big_v").collect()[0].n == 1
    db.query("INSERT INTO base_v VALUES (2, 20)")
    db.query("INSERT INTO base_v VALUES (3, 5)")
    assert db.query("SELECT count(*) AS n FROM big_v").collect()[0].n == 2
    with _pytest.raises(AnalyzerError):
        db.query("CREATE VIEW base_v AS SELECT 1")  # name collision
    assert [r.view_name for r in db.query("SHOW VIEWS").collect()] == ["big_v"]
    db.query("DROP VIEW big_v")
    assert db.query("SHOW VIEWS").collect() == []
    with _pytest.raises(AnalyzerError):
        db.query("DROP VIEW big_v")


def test_create_table_rejects_view_name(spark):
    """Mirror of the view-side 'is a table' check: a table named like an
    existing view would be silently shadowed at query time by the
    per-query view re-resolution."""
    import pytest as _pytest

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE base_tv (id INT)")
    db.query("INSERT INTO base_tv VALUES (1)")
    db.query("CREATE VIEW v_tv AS SELECT id FROM base_tv")
    with _pytest.raises(AnalyzerError):
        db.query("CREATE TABLE v_tv (x INT)")
    with _pytest.raises(AnalyzerError):
        db.query("CREATE TABLE v_tv AS SELECT 1 AS x")
    # the view still resolves to its definition
    assert db.query("SELECT id FROM v_tv").collect()[0].id == 1


def test_alter_table_add_column(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: existing rows read NULL, inserts carry the
    new arity, the durable backend records a schema-evolved snapshot."""
    d = str(tmp_path / "alter_db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE t_alter (id INT)")
    db.query("INSERT INTO t_alter VALUES (1)")
    db.query("ALTER TABLE t_alter ADD COLUMN note VARCHAR(20)")
    rows = db.query("SELECT id, note FROM t_alter").collect()
    assert [(r.id, r.note) for r in rows] == [(1, None)]
    db.query("INSERT INTO t_alter VALUES (2, 'new')")
    got = sorted((r.id, r.note) for r in db.query("SELECT * FROM t_alter").collect())
    assert got == [(1, None), (2, "new")]
    with pytest.raises(AnalyzerError, match="already exists"):
        db.query("ALTER TABLE t_alter ADD COLUMN note INT")
    # reopen sees the evolved schema
    db2 = OxidSparkDatabase(spark, storage_dir=d)
    desc = {r.col_name: r.data_type for r in db2.query("DESCRIBE t_alter").collect()}
    assert desc == {"id": "INT", "note": "VARCHAR(20)"}


def test_sql_udf_create_use_drop(db):
    """SQL-defined functions (CREATE FUNCTION ... RETURN expr) — the
    reference's scalar-function TODO (README.md:51), declaratively:
    Catalyst inlines the body, scalar and table-valued forms both work,
    and the facade tracks the registry for SHOW/DROP."""
    db.query("CREATE TABLE fx (a INTEGER, b INTEGER)")
    for a, b in [(1, 10), (2, 20), (3, 30)]:
        db.query(f"INSERT INTO fx VALUES ({a}, {b})")
    db.query("CREATE FUNCTION add_pct(x INTEGER, pct INTEGER) RETURNS DOUBLE "
             "RETURN x * (1.0 + pct / 100.0)")
    rows = db.query("SELECT a, add_pct(b, 50) AS boosted FROM fx ORDER BY a").collect()
    assert [(r.a, r.boosted) for r in rows] == [(1, 15.0), (2, 30.0), (3, 45.0)]

    # OR REPLACE redefines in place
    db.query("CREATE OR REPLACE FUNCTION add_pct(x INTEGER, pct INTEGER) "
             "RETURNS DOUBLE RETURN x * (pct / 100.0)")
    rows = db.query("SELECT add_pct(b, 50) AS v FROM fx ORDER BY a").collect()
    assert [r.v for r in rows] == [5.0, 10.0, 15.0]

    # table-valued SQL UDF
    db.query("CREATE FUNCTION fx_big(thresh INTEGER) RETURNS TABLE (a INTEGER) "
             "RETURN SELECT a FROM fx WHERE b > thresh")
    assert [r.a for r in db.query("SELECT * FROM fx_big(15) ORDER BY a").collect()] == [2, 3]

    shown = {r.function_name for r in db.query("SHOW FUNCTIONS").collect()}
    assert {"add_pct", "fx_big"} <= shown
    db.query("DROP FUNCTION add_pct")
    assert "add_pct" not in {
        r.function_name for r in db.query("SHOW FUNCTIONS").collect()
    }
    with pytest.raises(AnalyzerError):
        db.query("DROP FUNCTION add_pct")


def test_sql_time_travel_version_as_of(spark, tmp_path):
    """`SELECT ... FROM t VERSION AS OF n` (Delta/Iceberg syntax) reads
    the durable snapshot n; SHOW VERSIONS lists them; unknown versions
    and non-durable tables raise."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE tt (id INTEGER, v VARCHAR(10))")
    db.query("INSERT INTO tt VALUES (1, 'one')")
    db.query("INSERT INTO tt VALUES (2, 'two')")
    db.query("UPDATE tt SET v = 'TWO' WHERE id = 2")

    versions = [r.version for r in db.query("SHOW VERSIONS tt").collect()]
    assert len(versions) >= 3 and versions == sorted(versions)
    # versions[0] is the CREATE commit (empty); [1] holds the first row
    v_first, v_last = versions[1], versions[-1]

    first = db.query(f"SELECT id, v FROM tt VERSION AS OF {v_first} ORDER BY id").collect()
    assert [(r.id, r.v) for r in first] == [(1, "one")]
    last = db.query(f"SELECT id, v FROM tt VERSION AS OF {v_last} ORDER BY id").collect()
    assert [(r.id, r.v) for r in last] == [(1, "one"), (2, "TWO")]
    # current state equals the newest snapshot
    cur = db.query("SELECT id, v FROM tt ORDER BY id").collect()
    assert [tuple(r) for r in cur] == [tuple(r) for r in last]
    # two versions joined in ONE statement (audit-diff shape)
    diff = db.query(
        f"SELECT a.id FROM tt VERSION AS OF {v_last} a "
        f"LEFT ANTI JOIN tt VERSION AS OF {v_first} b ON a.id = b.id"
    ).collect()
    assert [r.id for r in diff] == [2]

    with pytest.raises(AnalyzerError):
        db.query("SELECT * FROM tt VERSION AS OF 99")
    db2 = OxidSparkDatabase(spark)  # in-memory: no durable versions
    db2.query("CREATE TABLE m (id INTEGER)")
    with pytest.raises(AnalyzerError):
        db2.query("SELECT * FROM m VERSION AS OF 0")


def test_sql_udf_name_collision_guard(db):
    """A SQL UDF may not shadow an existing table or view."""
    with pytest.raises(AnalyzerError, match="table or view"):
        db.query("CREATE FUNCTION people(x INTEGER) RETURNS INTEGER RETURN x")


def test_time_travel_views_reserved_and_dropped(spark, tmp_path):
    """Snapshot views use a reserved prefix, never clobber a user view
    named like `t__v1`, and are dropped once the statement is analyzed;
    the phrase VERSION AS OF inside a string literal is data, not
    syntax."""
    import pytest

    from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE tt (id INTEGER)")
    db.query("INSERT INTO tt VALUES (7)")
    ver = [r.version for r in db.query("SHOW VERSIONS tt").collect()][-1]

    # a user view whose name matches the OLD snapshot-view naming scheme
    db.query(f"CREATE VIEW tt__v{ver} AS SELECT 42 AS marker")
    got = db.query(f"SELECT id FROM tt VERSION AS OF {ver}").collect()
    assert [r.id for r in got] == [7]
    # the user view is untouched by the time-travel rewrite
    assert [r.marker for r in db.query(f"SELECT * FROM tt__v{ver}").collect()] == [42]
    # no reserved-prefix snapshot views linger after the statement
    lingering = [
        v.name for v in spark.catalog.listTables() if v.name.startswith("__oxid_tt_")
    ]
    assert lingering == []

    # literal containing the phrase is untouched (previously raised)
    row = db.query("SELECT 'read tt VERSION AS OF 99 later' AS s").collect()
    assert row[0].s == "read tt VERSION AS OF 99 later"
    # ... while real out-of-range references still raise
    with pytest.raises(AnalyzerError):
        db.query("SELECT * FROM tt VERSION AS OF 99")


def test_create_table_view_cannot_shadow_function(db):
    """Reverse collision guard: CREATE TABLE / CTAS / CREATE VIEW reject
    a name already bound to a SQL UDF."""
    import pytest

    from oxidsql_spark.database import AnalyzerError

    db.query("CREATE FUNCTION twice(x INTEGER) RETURNS INTEGER RETURN x * 2")
    with pytest.raises(AnalyzerError, match="function"):
        db.query("CREATE TABLE twice (id INTEGER)")
    with pytest.raises(AnalyzerError, match="function"):
        db.query("CREATE TABLE twice AS SELECT 1 AS a")
    with pytest.raises(AnalyzerError, match="function"):
        db.query("CREATE VIEW twice AS SELECT 1 AS a")
    db.query("DROP FUNCTION twice")


def test_explain_surfaces_estimator_beside_catalyst(db):
    """EXPLAIN on a filtered single-table SELECT shows BOTH cardinality
    views: the facade's online sample-based estimate (the reference's
    planner input, bottomup.rs:111-168) and Catalyst's optimized-plan
    statistics."""
    db.query("CREATE TABLE ex_est (id INTEGER, grp INTEGER)")
    for i in range(40):
        db.query(f"INSERT INTO ex_est VALUES ({i}, {i % 4})")
    rows = {r.item: r.detail for r in db.query("EXPLAIN SELECT id FROM ex_est WHERE grp = 0").collect()}
    assert "estimated_rows" in rows and "catalyst_rows" in rows
    # 40 rows fit entirely in the sample: estimate is exact (10 match)
    assert int(rows["estimated_rows"]) == 10
    # joins/subqueries still get the Catalyst row, no single-table row
    rows2 = {
        r.item: r.detail
        for r in db.query(
            "EXPLAIN SELECT a.id FROM ex_est a JOIN ex_est b ON a.id = b.id"
        ).collect()
    }
    assert "catalyst_rows" in rows2 and "estimated_rows" not in rows2
    db.query("DROP TABLE ex_est")


def test_explain_analyze_runs_and_reports(db):
    """EXPLAIN ANALYZE executes the statement and reports actuals: row
    count, wall time, and the post-AQE final plan (isFinalPlan) that a
    static EXPLAIN cannot show."""
    db.query("CREATE TABLE ea (id INTEGER, g INTEGER)")
    for i in range(30):
        db.query(f"INSERT INTO ea VALUES ({i}, {i % 3})")
    rows = {
        r.item: r.detail
        for r in db.query("EXPLAIN ANALYZE SELECT g FROM ea WHERE g = 1").collect()
    }
    assert int(rows["actual_rows"]) == 10
    assert int(rows["wall_ms"]) >= 0
    assert "final_plan" in rows and len(rows["final_plan"]) > 50
    db.query("DROP TABLE ea")


def test_explain_analyze_evaluates_projected_columns(db):
    """EXPLAIN ANALYZE runs the statement's real plan: a projected column
    that a row count would prune is evaluated (here it raises, as the
    SELECT does), and the reported plan is the one that ran."""
    db.query("CREATE TABLE eap (id INTEGER, g INTEGER)")
    for i in range(6):
        db.query(f"INSERT INTO eap VALUES ({i}, {i % 3})")
    with pytest.raises(Exception, match="g must not be 1"):
        db.query("EXPLAIN ANALYZE SELECT id, assert_true(g <> 1, 'g must not be 1') FROM eap")
    rows = {
        r.item: r.detail
        for r in db.query("EXPLAIN ANALYZE SELECT id, g * 2 AS g2 FROM eap WHERE g > 0").collect()
    }
    assert int(rows["actual_rows"]) == 4
    assert "g2" in rows["final_plan"]
    db.query("DROP TABLE eap")


def test_explain_analyze_reports_the_executed_join_strategy(db, spark):
    """EXPLAIN ANALYZE's joins/exchanges rows describe the plan that ran.
    With static broadcasting off, the planner picks a sort-merge join;
    at runtime AQE sees the selective side's few shuffled rows and
    demotes it to a broadcast hash join."""
    from oxidsql_spark.plans import explain_summary

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    db.query("CREATE TABLE ea_big (id INTEGER, g INTEGER)")
    db.query("CREATE TABLE ea_small (id INTEGER, g INTEGER)")
    for i in range(20):
        db.query(f"INSERT INTO ea_big VALUES ({i}, {i % 3})")
        db.query(f"INSERT INTO ea_small VALUES ({i}, {i % 3})")
    sql = "SELECT b.id FROM ea_big b JOIN ea_small s ON b.id = s.id WHERE s.g = 1"
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert explain_summary(db.sql(sql)).joins == ["SortMergeJoin"]
        rows = {r.item: r.detail for r in db.query("EXPLAIN ANALYZE " + sql).collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        db.query("DROP TABLE ea_big")
        db.query("DROP TABLE ea_small")
    assert int(rows["actual_rows"]) == 7
    assert "BroadcastHashJoin" in rows["final_plan"]
    assert rows["joins"] == "BroadcastHashJoin"


def test_describe_history_versions(spark, tmp_path):
    """DESCRIBE HISTORY lists every committed version with file count,
    bytes, and the commit (manifest) timestamp — the audit surface for
    the versioned model."""
    d = str(tmp_path / "hist_db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE h (id INTEGER)")
    db.query("INSERT INTO h VALUES (1)")
    db.query("INSERT INTO h VALUES (2)")
    hist = db.query("DESCRIBE HISTORY h").collect()
    versions = [r.version for r in hist]
    assert versions == sorted(versions) and len(versions) >= 2
    for r in hist:
        if r.version == 1:  # CREATE TABLE commits zero rows: no file
            assert (r.n_files, r.n_bytes) == (0, 0)
        else:
            assert r.n_files >= 1 and r.n_bytes > 0
        assert r.committed_at and "T" in r.committed_at
    # non-durable / unknown tables refuse
    import pytest

    from oxidsql_spark.database import AnalyzerError

    with pytest.raises(AnalyzerError, match="durable"):
        db.query("DESCRIBE HISTORY nope")


def test_explain_join_cardinality_estimate(db):
    """EXPLAIN on a FILTERED two-table equi-join surfaces the
    reference's join-cardinality form (bottomup.rs:101-107): each
    relation's sample estimate with its own WHERE conjuncts applied,
    join rows = max(left, right) under the uniqueness assumption, and
    selectivity = result / cross — shown beside Catalyst's number."""
    db.query("CREATE TABLE je_ord (oid INTEGER, cid INTEGER, status VARCHAR(1))")
    db.query("CREATE TABLE je_cust (cid INTEGER, seg INTEGER)")
    for i in range(60):
        db.query(f"INSERT INTO je_ord VALUES ({i}, {i % 20}, '{'AB'[i % 2]}')")
    for c in range(20):
        db.query(f"INSERT INTO je_cust VALUES ({c}, {c % 4})")
    rows = {
        r.item: r.detail
        for r in db.query(
            "EXPLAIN SELECT o.oid FROM je_ord o JOIN je_cust c ON o.cid = c.cid "
            "WHERE o.status = 'A' AND c.seg = 0"
        ).collect()
    }
    # both tables fit in the sample entirely: per-table estimates exact
    assert int(rows["estimated_rows_o"]) == 30  # status 'A' half of 60
    assert int(rows["estimated_rows_c"]) == 5  # seg 0 quarter of 20
    assert int(rows["estimated_join_rows"]) == 30  # max(30, 5)
    assert abs(float(rows["estimated_join_selectivity"]) - 30 / 150) < 1e-9
    assert "catalyst_rows" in rows

    # floor rule: a predicate matching nothing still estimates >= 1
    rows_none = {
        r.item: r.detail
        for r in db.query(
            "EXPLAIN SELECT o.oid FROM je_ord o JOIN je_cust c ON o.cid = c.cid "
            "WHERE o.status = 'Z'"
        ).collect()
    }
    assert int(rows_none["estimated_rows_o"]) >= 1  # bottomup.rs:159-161 floor
    assert int(rows_none["estimated_join_rows"]) >= int(
        rows_none["estimated_rows_c"]
    )

    # the comma-join form (the reference's demo shape) estimates too,
    # with the equi conjunct recognized as the join predicate
    rows_cj = {
        r.item: r.detail
        for r in db.query(
            "EXPLAIN SELECT o.oid FROM je_ord o, je_cust c "
            "WHERE o.cid = c.cid AND o.status = 'A' AND c.seg = 0"
        ).collect()
    }
    assert int(rows_cj["estimated_join_rows"]) == 30
    assert int(rows_cj["estimated_rows_c"]) == 5

    # a conjunct that can't be attributed to one side withholds the
    # estimate instead of mis-scoping it
    rows_bad = {
        r.item: r.detail
        for r in db.query(
            "EXPLAIN SELECT o.oid FROM je_ord o JOIN je_cust c ON o.cid = c.cid "
            "WHERE status = 'A'"
        ).collect()
    }
    assert "estimated_join_rows" not in rows_bad and "catalyst_rows" in rows_bad
    db.query("DROP TABLE je_ord")
    db.query("DROP TABLE je_cust")


def test_insert_multi_row_and_column_list(db):
    """Standard-SQL INSERT surface beyond the reference's positional
    single-row grammar: multi-row VALUES commit as one batch, a column
    list backfills unnamed columns with NULL, and the reference's
    per-row arity / unknown-column analyzer errors still fire."""
    import pytest

    from oxidsql_spark.database import AnalyzerError

    db.query("CREATE TABLE ins (id INTEGER, name VARCHAR(10), score BIGINT)")
    db.query("INSERT INTO ins VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    assert [tuple(r) for r in db.query("SELECT * FROM ins ORDER BY id").collect()] == [
        (1, "a", 10),
        (2, "b", 20),
        (3, "c", 30),
    ]
    db.query("INSERT INTO ins (score, id) VALUES (99, 4), (100, 5)")
    got = [tuple(r) for r in db.query("SELECT * FROM ins ORDER BY id").collect()]
    assert got[3] == (4, None, 99) and got[4] == (5, None, 100)

    with pytest.raises(AnalyzerError, match="arity|values but"):
        db.query("INSERT INTO ins VALUES (1, 'x', 2), (3, 'y')")
    with pytest.raises(AnalyzerError, match="unknown column"):
        db.query("INSERT INTO ins (id, nope) VALUES (9, 9)")
    with pytest.raises(AnalyzerError, match="duplicate column"):
        db.query("INSERT INTO ins (id, id) VALUES (9, 9)")
    # VARCHAR cap still enforced through the column-list path
    with pytest.raises(AnalyzerError, match="VARCHAR"):
        db.query("INSERT INTO ins (id, name) VALUES (9, 'way-too-long-name')")
    # stats tracked all five committed rows
    assert db.stats("ins").rowcount == 5
    db.query("DROP TABLE ins")


def test_insert_select_with_column_list(db):
    """INSERT INTO t (cols) SELECT — the set-oriented twin of the
    column-list VALUES form: source columns map positionally onto the
    target list, unnamed columns backfill NULL, target-list arity is
    checked."""
    import pytest

    from oxidsql_spark.database import AnalyzerError

    db.query("CREATE TABLE isel (id INTEGER, name VARCHAR(10), score BIGINT)")
    db.query("INSERT INTO isel (score, id) SELECT 7 AS a, 70 AS b UNION ALL SELECT 8, 80")
    got = sorted(tuple(r) for r in db.query("SELECT * FROM isel").collect())
    assert got == [(70, None, 7), (80, None, 8)]
    with pytest.raises(AnalyzerError, match="target"):
        db.query("INSERT INTO isel (id) SELECT 1 AS a, 2 AS b")
    with pytest.raises(AnalyzerError, match="unknown column"):
        db.query("INSERT INTO isel (nope) SELECT 1")
    db.query("DROP TABLE isel")


def test_insert_values_with_quoted_delimiters(db):
    """String literals containing commas/parens must survive the VALUES
    splitter (quote-aware top-level split)."""
    db.query("CREATE TABLE q (id INTEGER, s VARCHAR(30))")
    db.query("INSERT INTO q VALUES (1, 'a, b (c)'), (2, 'x''y, (z')")
    got = {r.id: r.s for r in db.query("SELECT * FROM q").collect()}
    assert got == {1: "a, b (c)", 2: "x'y, (z"}
    db.query("DROP TABLE q")


def test_optimize_and_vacuum_sql(spark, tmp_path):
    """OPTIMIZE [ZORDER BY] + VACUUM as facade statements over the
    versioned backend: content identical after the rewrite, layout
    committed as a NEW version (old versions still time-travelable
    until VACUUM drops them), metrics rows returned."""
    d = str(tmp_path / "opt_db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE m (a INT, b INT)")
    db.query("INSERT INTO m SELECT id, id * 3 FROM range(2000)")
    before = sorted(
        (r.a, r.b) for r in db.query("SELECT a, b FROM m").collect()
    )
    n_vers = len(db.query("SHOW VERSIONS m").collect())

    res = db.query("OPTIMIZE m ZORDER BY (a, b)").collect()[0]
    assert res.version == n_vers + 1 and res.zorder_by == "a,b"
    after = sorted((r.a, r.b) for r in db.query("SELECT a, b FROM m").collect())
    assert after == before
    # compacted to the metrics row's file count
    assert len(db._vt("m").files(res.version)) == res.n_files

    # plain OPTIMIZE (no zorder) also commits a version
    res2 = db.query("OPTIMIZE m").collect()[0]
    assert res2.version == res.version + 1 and res2.zorder_by == ""
    assert sorted((r.a, r.b) for r in db.query("SELECT a, b FROM m").collect()) == before

    # the pre-OPTIMIZE snapshot is still time-travelable, then VACUUM drops it
    assert (
        db.query(f"SELECT count(*) AS n FROM m VERSION AS OF {n_vers}").collect()[0].n
        == 2000
    )
    removed = sorted(r.removed_version for r in db.query("VACUUM m RETAIN 1 VERSIONS").collect())
    assert removed and removed[-1] == res.version
    import pytest as _pytest

    with _pytest.raises(Exception):
        db.query(f"SELECT count(*) AS n FROM m VERSION AS OF {n_vers}").collect()
    # the retained newest version still serves
    assert db.query("SELECT count(*) AS n FROM m").collect()[0].n == 2000
    # guards: non-durable / unknown table
    with _pytest.raises(Exception):
        OxidSparkDatabase(spark).query("OPTIMIZE nosuch")


def test_copy_to_and_from(spark, tmp_path):
    """COPY (export) / COPY FROM (bulk load): round trip through parquet
    and csv, subquery export, metrics rows, stats maintained on load,
    unknown-format and unknown-table guards."""
    import pytest as _pytest

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE src (id INT, name VARCHAR(20))")
    db.query("INSERT INTO src VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    p1 = str(tmp_path / "export_pq")
    r = db.query(f"COPY src TO '{p1}'").collect()[0]
    assert (r.rows_copied, r.format) == (3, "parquet")

    # subquery export as csv
    p2 = str(tmp_path / "export_csv")
    r2 = db.query(f"COPY (SELECT id FROM src WHERE id > 1) TO '{p2}' (FORMAT CSV)").collect()[0]
    assert (r2.rows_copied, r2.format) == (2, "csv")

    # bulk load back into a second table; stats track the append
    db.query("CREATE TABLE dst (id INT, name VARCHAR(20))")
    r3 = db.query(f"COPY dst FROM '{p1}'").collect()[0]
    assert r3.rows_loaded == 3
    assert db.query("SELECT count(*) AS n FROM dst").collect()[0].n == 3
    assert db.stats("dst").rowcount == 3
    # csv load uses the TABLE schema (no inference pass)
    db.query("CREATE TABLE ids (id INT)")
    db.query(f"COPY ids FROM '{p2}' (FORMAT CSV)")
    assert {x.id for x in db.query("SELECT id FROM ids").collect()} == {2, 3}

    with _pytest.raises(Exception):
        db.query(f"COPY src TO '{p1}' (FORMAT avro)")
    with _pytest.raises(Exception):
        db.query(f"COPY nosuch FROM '{p1}'")


def test_create_refresh_materialized_view(spark, tmp_path):
    """CREATE MATERIALIZED VIEW → query by name → append to the base →
    REFRESH WITH (delta) folds only the delta and equals a recompute;
    plain REFRESH rebuilds; SHOW VERSIONS + time travel span refreshes."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE sales (region VARCHAR(16), amount INT)")
    db.query("INSERT INTO sales VALUES ('eu', 10), ('eu', 30), ('us', 5)")
    db.query(
        "CREATE MATERIALIZED VIEW sales_mv AS "
        "SELECT region, count(*) AS n, sum(amount) AS total, avg(amount) AS avg_amt "
        "FROM sales GROUP BY region"
    )
    got = {r.region: (r.n, r.total) for r in db.query("SELECT * FROM sales_mv").collect()}
    assert got == {"eu": (2, 40), "us": (1, 5)}

    # the view is a materialization: base appends don't show until REFRESH
    db.query("INSERT INTO sales VALUES ('eu', 2), ('ap', 7)")
    stale = {r.region: (r.n, r.total) for r in db.query("SELECT * FROM sales_mv").collect()}
    assert stale == got

    res = db.query(
        "REFRESH MATERIALIZED VIEW sales_mv WITH "
        "(SELECT 'eu' AS region, 2 AS amount UNION ALL SELECT 'ap', 7)"
    ).collect()[0]
    assert res.mode == "incremental" and res.version == 2
    fresh = {
        r.region: (r.n, r.total, float(r.avg_amt))
        for r in db.query("SELECT * FROM sales_mv").collect()
    }
    assert fresh == {"eu": (3, 42, 14.0), "us": (1, 5, 5.0), "ap": (1, 7, 7.0)}

    # incremental refresh == recompute from base
    res2 = db.query("REFRESH MATERIALIZED VIEW sales_mv").collect()[0]
    assert res2.mode == "rebuild"
    rebuilt = {
        r.region: (r.n, r.total, float(r.avg_amt))
        for r in db.query("SELECT * FROM sales_mv").collect()
    }
    assert rebuilt == fresh

    # versioned history: v1 create, v2 incremental, v3 rebuild
    vs = [r.version for r in db.query("SHOW VERSIONS sales_mv").collect()]
    assert vs == [1, 2, 3]
    old = {
        r.region: (r.n, r.total)
        for r in db.query("SELECT * FROM sales_mv VERSION AS OF 1").collect()
    }
    assert old == {"eu": (2, 40), "us": (1, 5)}


def test_materialized_view_where_and_restart(spark, tmp_path):
    """A matview with a WHERE predicate applies it to deltas too, and a
    new facade on the same storage re-attaches the view by name."""
    store = str(tmp_path / "store")
    db = OxidSparkDatabase(spark, storage_dir=store)
    db.query("CREATE TABLE ev (kind VARCHAR(8), v INT)")
    db.query("INSERT INTO ev VALUES ('a', 1), ('b', 2), ('a', 3)")
    db.query(
        "CREATE MATERIALIZED VIEW a_stats AS "
        "SELECT kind, count(*) AS n, max(v) AS mx FROM ev WHERE kind = 'a' GROUP BY kind"
    )
    # delta contains a filtered-out row; the view's predicate drops it
    db.query(
        "REFRESH MATERIALIZED VIEW a_stats WITH "
        "(SELECT 'b' AS kind, 9 AS v UNION ALL SELECT 'a', 8)"
    )
    got = [(r.kind, r.n, r.mx) for r in db.query("SELECT * FROM a_stats").collect()]
    assert got == [("a", 3, 8)]

    db2 = OxidSparkDatabase(spark, storage_dir=store)
    again = [(r.kind, r.n, r.mx) for r in db2.query("SELECT * FROM a_stats").collect()]
    assert again == [("a", 3, 8)]
    db2.query("DROP MATERIALIZED VIEW a_stats")
    with pytest.raises(AnalyzerError):
        db2.query("REFRESH MATERIALIZED VIEW a_stats")


def test_materialized_view_rejects_bad_shapes(db):
    with pytest.raises(AnalyzerError):
        db.query("CREATE MATERIALIZED VIEW m1 AS SELECT name FROM people")
    with pytest.raises(AnalyzerError):  # non-key bare column
        db.query(
            "CREATE MATERIALIZED VIEW m2 AS SELECT name, count(*) AS n "
            "FROM people GROUP BY age"
        )
    with pytest.raises(AnalyzerError):  # COUNT(expr) unsupported
        db.query(
            "CREATE MATERIALIZED VIEW m3 AS SELECT age, count(name) AS n "
            "FROM people GROUP BY age"
        )
    with pytest.raises(AnalyzerError):  # name collision with a table
        db.query(
            "CREATE MATERIALIZED VIEW people AS SELECT age, count(*) AS n "
            "FROM people GROUP BY age"
        )


def test_contract_gated_copy_from(spark, tmp_path):
    """A violating COPY FROM leaves the table unchanged and returns the
    violations relation; a clean load commits normally."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE dim (id INT, code VARCHAR(8))")
    db.query("CREATE TABLE fact (id INT, dim_id INT, amount INT)")
    db.query("INSERT INTO dim VALUES (1, 'a'), (2, 'b')")
    db.query("INSERT INTO fact VALUES (1, 1, 10)")
    db.query(
        "CREATE CONTRACT ON fact ("
        "CONSTRAINT amount_positive CHECK (amount > 0), "
        "NOT NULL (dim_id), "
        "UNIQUE (id), "
        "FOREIGN KEY (dim_id) REFERENCES dim (id))"
    )
    defs = {r.contract for r in db.query("SHOW CONTRACTS fact").collect()}
    assert defs == {"amount_positive", "not_null(dim_id)", "unique(id)", "fk_dim_id_dim"}

    # violating batch: bad amount, orphan FK, and an id colliding with
    # an EXISTING row (uniqueness must check combined, not just batch)
    bad = spark.createDataFrame(
        [(1, 1, 5), (3, 99, -2)], "id int, dim_id int, amount int"
    )
    bad_path = str(tmp_path / "bad.parquet")
    bad.write.parquet(bad_path)
    rep = db.query(f"COPY fact FROM '{bad_path}'")
    viol = {r["check"]: r.violations for r in rep.collect()}
    assert viol == {"amount_positive": 1, "fk(fk_dim_id_dim)": 1, "unique(unique(id))": 1}
    assert db.query("SELECT count(*) AS n FROM fact").collect()[0].n == 1  # untouched

    good = spark.createDataFrame([(2, 2, 7)], "id int, dim_id int, amount int")
    good_path = str(tmp_path / "good.parquet")
    good.write.parquet(good_path)
    res = db.query(f"COPY fact FROM '{good_path}'").collect()[0]
    assert res.rows_loaded == 1
    assert db.query("SELECT count(*) AS n FROM fact").collect()[0].n == 2


def test_contract_gated_insert_select(spark, tmp_path):
    """INSERT…SELECT through a contract: refused (table unchanged,
    violations returned) on dirty rows, committed when clean; contracts
    survive a facade restart via the persisted spec."""
    store = str(tmp_path / "store")
    db = OxidSparkDatabase(spark, storage_dir=store)
    db.query("CREATE TABLE src (id INT, v INT)")
    db.query("CREATE TABLE tgt (id INT, v INT)")
    db.query("INSERT INTO src VALUES (1, 5), (2, -1)")
    db.query("CREATE CONTRACT ON tgt (CONSTRAINT v_pos CHECK (v > 0))")

    rep = db.query("INSERT INTO tgt SELECT * FROM src")
    assert [(r["check"], r.violations) for r in rep.collect()] == [("v_pos", 1)]
    assert db.query("SELECT count(*) AS n FROM tgt").collect()[0].n == 0

    db2 = OxidSparkDatabase(spark, storage_dir=store)  # contract reloaded
    rep2 = db2.query("INSERT INTO tgt SELECT * FROM src WHERE v > 0")
    assert rep2 is None
    assert db2.query("SELECT count(*) AS n FROM tgt").collect()[0].n == 1
    db2.query("DROP CONTRACT ON tgt")
    assert db2.query("INSERT INTO tgt SELECT * FROM src") is None  # gate removed


def test_matview_vacuum_and_history(spark, tmp_path):
    """Maintenance verbs work on materialized views: DESCRIBE HISTORY
    lists one row per refresh snapshot, VACUUM retires old ones (time
    travel horizon shrinks accordingly)."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "s"))
    db.query("CREATE TABLE m (g VARCHAR(4), v INT)")
    db.query("INSERT INTO m VALUES ('a', 1)")
    db.query(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n, sum(v) AS s "
        "FROM m GROUP BY g"
    )
    db.query("REFRESH MATERIALIZED VIEW mv WITH (SELECT 'a' AS g, 2 AS v)")
    db.query("REFRESH MATERIALIZED VIEW mv WITH (SELECT 'b' AS g, 3 AS v)")
    hist = db.query("DESCRIBE HISTORY mv").collect()
    assert [r.version for r in hist] == [1, 2, 3]
    removed = [r.removed_version for r in db.query("VACUUM mv RETAIN 2 VERSIONS").collect()]
    assert removed == [1]
    with pytest.raises(AnalyzerError):
        db.query("SELECT * FROM mv VERSION AS OF 1")
    assert {(r.g, r.n, r.s) for r in db.query("SELECT * FROM mv").collect()} == {
        ("a", 2, 3), ("b", 1, 3)
    }


def test_create_table_view_cannot_clobber_matview(spark, tmp_path):
    """Name-collision symmetry: _create_matview already rejects names
    held by tables/views/functions — the reverse direction must hold
    too, or CREATE TABLE <matview-name> silently steals the matview's
    temp-view registration and a later DROP MATERIALIZED VIEW tears the
    table down."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE base (k INT, v INT)")
    db.query("INSERT INTO base VALUES (1, 10), (1, 20), (2, 5)")
    db.query(
        "CREATE MATERIALIZED VIEW mv1 AS "
        "SELECT k, sum(v) AS total FROM base GROUP BY k"
    )
    with pytest.raises(AnalyzerError, match="materialized view"):
        db.query("CREATE TABLE mv1 (x INT)")
    with pytest.raises(AnalyzerError, match="materialized view"):
        db.query("CREATE TABLE mv1 AS SELECT 1 AS x")
    with pytest.raises(AnalyzerError, match="materialized view"):
        db.query("CREATE VIEW mv1 AS SELECT 1 AS x")
    # the matview still answers
    got = {(r.k, int(r.total)) for r in db.query("SELECT k, total FROM mv1").collect()}
    assert got == {(1, 30), (2, 5)}


def test_merge_without_when_clause_is_refused(spark):
    """MERGE with neither WHEN MATCHED nor WHEN NOT MATCHED (including
    a typo'd clause the optional regex groups silently skip) would
    execute as a no-op that drops all unmatched source rows — it must
    raise instead."""
    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t (k INT, v INT)")
    db.query("CREATE TABLE s (k INT, v INT)")
    with pytest.raises(AnalyzerError, match="WHEN MATCHED"):
        db.query("MERGE INTO t USING s ON tgt.k = src.k")
    with pytest.raises(AnalyzerError, match="WHEN MATCHED"):
        # typo: UPDAT — the optional group fails to capture, same refusal
        db.query("MERGE INTO t USING s ON tgt.k = src.k "
                 "WHEN MATCHED THEN UPDAT SET v = src.v")


def test_contract_unique_ignores_preexisting_duplicates(spark, tmp_path):
    """Declaring a UNIQUE contract on a table that ALREADY holds
    duplicate keys must not poison every later load: a clean batch
    (fresh keys) commits, while a batch touching any duplicated or
    existing key is still refused."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE ft (id INT, v INT)")
    db.query("INSERT INTO ft VALUES (1, 10), (1, 11), (2, 20)")  # dup id=1 pre-dates
    db.query("CREATE CONTRACT ON ft (UNIQUE (id))")

    clean = spark.createDataFrame([(3, 30), (4, 40)], "id int, v int")
    p1 = str(tmp_path / "clean.parquet")
    clean.write.parquet(p1)
    res = db.query(f"COPY ft FROM '{p1}'").collect()[0]
    assert res.rows_loaded == 2  # NOT refused for the table's old sins
    assert db.query("SELECT count(*) AS n FROM ft").collect()[0].n == 5

    colliding = spark.createDataFrame([(2, 99)], "id int, v int")
    p2 = str(tmp_path / "coll.parquet")
    colliding.write.parquet(p2)
    rep = {r["check"]: r.violations for r in db.query(f"COPY ft FROM '{p2}'").collect()}
    assert "unique(unique(id))" in rep  # batch-touched key still refused
    assert db.query("SELECT count(*) AS n FROM ft").collect()[0].n == 5  # untouched


def test_contract_unique_null_keys_refused(spark, tmp_path):
    """Uniqueness gating is NULL-SAFE: a batch holding duplicate
    NULL-key rows (or colliding with an existing NULL key) is refused —
    a plain semi join on the key would never match NULL and silently
    exempt those rows from the check."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE nt (id INT, v INT)")
    db.query("INSERT INTO nt VALUES (1, 10)")
    db.query("CREATE CONTRACT ON nt (UNIQUE (id))")

    dup_null = spark.createDataFrame([(None, 1), (None, 2)], "id int, v int")
    p = str(tmp_path / "dupnull.parquet")
    dup_null.write.parquet(p)
    rep = {r["check"]: r.violations for r in db.query(f"COPY nt FROM '{p}'").collect()}
    assert rep.get("unique(unique(id))") == 1  # 2 rows in the NULL group -> 1 extra
    assert db.query("SELECT count(*) AS n FROM nt").collect()[0].n == 1  # untouched

    # one NULL key in the batch colliding with an EXISTING NULL key
    db.query("DROP CONTRACT ON nt")
    db.query("INSERT INTO nt VALUES (NULL, 3)")
    db.query("CREATE CONTRACT ON nt (UNIQUE (id))")
    one_null = spark.createDataFrame([(None, 4)], "id int, v int")
    p2 = str(tmp_path / "onenull.parquet")
    one_null.write.parquet(p2)
    rep2 = {r["check"]: r.violations for r in db.query(f"COPY nt FROM '{p2}'").collect()}
    assert rep2.get("unique(unique(id))") == 1
    assert db.query("SELECT count(*) AS n FROM nt").collect()[0].n == 2


def test_copy_from_on_violation_dead_letter(spark, tmp_path):
    """The batch face of the streaming dead-letter gate: the SAME red
    batch is refused whole by default, but with ON VIOLATION DEAD
    LETTER the violating rows are routed (tagged with the checks they
    fail) while clean rows commit."""
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "store"))
    db.query("CREATE TABLE dim (id INT)")
    db.query("INSERT INTO dim VALUES (1), (2)")
    db.query("CREATE TABLE fact (id INT, dim_id INT, amount INT)")
    db.query("INSERT INTO fact VALUES (1, 1, 10)")
    db.query(
        "CREATE CONTRACT ON fact ("
        "CONSTRAINT amount_positive CHECK (amount > 0), "
        "NOT NULL (dim_id), "
        "UNIQUE (id), "
        "FOREIGN KEY (dim_id) REFERENCES dim (id))"
    )
    red = spark.createDataFrame(
        [
            (2, 2, 7),      # clean
            (3, 99, 5),     # fk orphan
            (4, None, 5),   # null dim_id
            (5, 1, -1),     # bad amount
            (1, 2, 8),      # unique collision with the existing id=1
        ],
        "id int, dim_id int, amount int",
    )
    p = str(tmp_path / "red.parquet")
    red.write.parquet(p)

    # refuse mode (unchanged default): whole batch refused
    rep = {r["check"]: r.violations for r in db.query(f"COPY fact FROM '{p}'").collect()}
    assert set(rep) == {
        "amount_positive", "not_null(dim_id)",
        "fk(fk_dim_id_dim)", "unique(unique(id))",
    }
    assert db.query("SELECT count(*) AS n FROM fact").collect()[0].n == 1

    # dead-letter mode on the SAME batch: clean row commits, the rest route
    dl = str(tmp_path / "dead")
    res = db.query(
        f"COPY fact FROM '{p}' ON VIOLATION DEAD LETTER '{dl}'"
    ).collect()[0]
    assert (res.rows_loaded, res.rows_dead) == (1, 4)
    assert db.query("SELECT count(*) AS n FROM fact").collect()[0].n == 2
    got = {(r.id, r.dim_id) for r in db.query("SELECT id, dim_id FROM fact").collect()}
    assert (2, 2) in got
    dead = {r.id: r._violations for r in spark.read.parquet(dl).collect()}
    assert dead[3] == "fk(fk_dim_id_dim)"
    assert "not_null(dim_id)" in dead[4]
    assert dead[5] == "amount_positive"
    assert dead[1] == "unique(unique(id))"

    # contract persistence unchanged: refuse mode still gates afterwards
    rep2 = db.query(f"COPY fact FROM '{p}'")
    assert rep2.collect()  # still a violations relation, not a load
