"""SQL over catalog tables: `io.sql("select * from ns.table")` — the
reference's pyspark client flow (examples/pyspark_example.py) without the
Iceberg runtime jar. Resolution is parser-driven: the names a statement uses
are looked up one by one, never by listing the catalog; time travel and view
representations resolve through the same read path as read_table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.sources import SparkCatalogIO, delete_where_dv
from denali_spark.sources import expressions as E
from denali_spark.sources.manifests import read_manifest_list


@pytest.fixture(scope="module")
def io(spark, tmp_path_factory):
    server = CatalogServer(
        make_state(str(tmp_path_factory.mktemp("wh")))
    ).start()
    io = SparkCatalogIO(spark, server.uri)
    io.write_table(
        spark.range(0, 100).select("id", (F.col("id") % 7).alias("k")),
        ["westeros"], "my_table", mode="overwrite",
    )
    io.write_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        ),
        ["westeros", "north"], "dim", mode="overwrite",
    )
    yield io
    server.stop()


def test_sql_plain_select(spark, io):
    assert io.sql("SELECT COUNT(*) AS n FROM westeros.my_table").collect()[0]["n"] == 100


def test_sql_join_across_nested_namespaces(spark, io):
    out = io.sql(
        """
        SELECT d.w, COUNT(*) AS n
        FROM westeros.my_table t
        JOIN westeros.north.dim d ON t.k = d.k
        GROUP BY d.w ORDER BY d.w
        """
    ).collect()
    assert len(out) == 7
    assert out[0]["w"] == 0 and out[0]["n"] == 15  # k=0: ids 0,7,...,98


def test_sql_version_and_timestamp_travel(spark, io):
    io.write_table(
        spark.range(1000, 1020).select("id", (F.col("id") % 7).alias("k")),
        ["tt"], "t", mode="overwrite",
    )
    md = io.client.load_table(["tt"], "t")["metadata"]
    v1 = md["refs"]["main"]["snapshot-id"]
    io.write_table(
        spark.range(1020, 1030).select("id", (F.col("id") % 7).alias("k")),
        ["tt"], "t", mode="append",
    )
    md = io.client.load_table(["tt"], "t")["metadata"]
    ts1 = next(
        e for e in md["snapshot-log"] if e["snapshot-id"] == v1
    )["timestamp-ms"]
    assert io.sql("SELECT COUNT(*) AS n FROM tt.t").collect()[0]["n"] == 30
    assert (
        io.sql(f"SELECT COUNT(*) AS n FROM tt.t FOR VERSION AS OF {v1}")
        .collect()[0]["n"] == 20
    )
    import datetime

    iso = datetime.datetime.fromtimestamp(
        ts1 / 1000, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
    assert (
        io.sql(f"SELECT COUNT(*) AS n FROM tt.t FOR TIMESTAMP AS OF '{iso}'")
        .collect()[0]["n"] == 20
    )


def test_sql_sees_mor_deletes(spark, io):
    io.write_table(
        spark.range(0, 50).select("id", (F.col("id") % 3).alias("k")),
        ["sqlmor"], "t", mode="overwrite",
    )
    delete_where_dv(io, ["sqlmor"], "t", E.lt("id", 10))
    assert io.sql("SELECT COUNT(*) AS n FROM sqlmor.t").collect()[0]["n"] == 40


def test_sql_view_resolution_and_nesting(spark, io):
    """View bodies resolve via their default-namespace, recursively
    (view on view), through the stored SQL representation."""
    io.client.create_view(
        ["westeros"], "evens", "SELECT id, k FROM my_table WHERE id % 2 = 0"
    )
    io.client.create_view(
        ["westeros"], "small_evens", "SELECT * FROM evens WHERE id < 20"
    )
    assert io.sql("SELECT COUNT(*) AS n FROM westeros.evens").collect()[0]["n"] == 50
    assert (
        io.sql("SELECT COUNT(*) AS n FROM westeros.small_evens").collect()[0]["n"]
        == 10
    )


def test_sql_view_time_travel_unknown_version_rejected(spark, io):
    with pytest.raises(ValueError, match="no version 424242"):
        io.sql("SELECT * FROM westeros.evens FOR VERSION AS OF 424242")


def test_sql_name_boundaries(spark, io):
    """`westeros.my_table` must not match inside `westeros.my_table2` or a
    backticked identifier."""
    io.write_table(
        spark.range(0, 5).select("id", (F.col("id") % 7).alias("k")),
        ["westeros"], "my_table2", mode="overwrite",
    )
    assert io.sql("SELECT COUNT(*) AS n FROM westeros.my_table2").collect()[0]["n"] == 5
    # both tables in one query resolve independently
    out = io.sql(
        "SELECT (SELECT COUNT(*) FROM westeros.my_table) AS a, "
        "(SELECT COUNT(*) FROM westeros.my_table2) AS b"
    ).collect()[0]
    assert (out["a"], out["b"]) == (100, 5)


def test_view_column_name_collision_with_table(spark, io):
    """A COLUMN whose name equals a sibling table's must not be qualified
    inside a view body (only FROM/JOIN position is rewritten)."""
    io.write_table(
        spark.range(0, 6).select(F.col("id"), F.col("id").alias("orders")),
        ["coll"], "users", mode="overwrite",
    )
    io.write_table(
        spark.range(0, 3).select(F.col("id")), ["coll"], "orders", mode="overwrite"
    )
    io.client.create_view(["coll"], "v", "SELECT orders FROM users WHERE id < 4")
    out = io.sql("SELECT COUNT(*) AS n, SUM(orders) AS s FROM coll.v").collect()[0]
    assert (out["n"], out["s"]) == (4, 6)


def test_view_body_case_insensitive_table_names(spark, io):
    io.client.create_view(
        ["westeros"], "upper_ref", "SELECT COUNT(*) AS n FROM MY_TABLE"
    )
    assert io.sql("SELECT n FROM westeros.upper_ref").collect()[0]["n"] == 100


def test_sql_insert_into_and_ctas(spark, io):
    res = io.sql(
        "CREATE TABLE wsql.derived AS "
        "SELECT k, COUNT(*) AS n FROM westeros.my_table GROUP BY k"
    ).collect()[0]
    assert res["operation"] == "overwrite" and res["rows"] == 7
    assert io.sql("SELECT SUM(n) AS s FROM wsql.derived").collect()[0]["s"] == 100

    io.sql("INSERT INTO wsql.derived SELECT 99 AS k, 1 AS n")
    assert io.sql("SELECT COUNT(*) AS c FROM wsql.derived").collect()[0]["c"] == 8
    # positional mapping: unaliased literals land in the right columns with
    # real values (regression: name-based mapping read back as all-NULL)
    io.sql("INSERT INTO wsql.derived SELECT 123, 45")
    row = io.sql("SELECT * FROM wsql.derived WHERE k = 123").collect()
    assert len(row) == 1 and row[0]["n"] == 45
    with pytest.raises(ValueError, match="columns"):
        io.sql("INSERT INTO wsql.derived SELECT 1, 2, 3")

    with pytest.raises(ValueError, match="already exists"):
        io.sql("CREATE TABLE wsql.derived AS SELECT 1 AS x")
    io.sql("CREATE OR REPLACE TABLE wsql.derived AS SELECT 1 AS one")
    assert io.sql("SELECT * FROM wsql.derived").collect()[0]["one"] == 1
    # OR REPLACE re-registers the NEW schema (regression: plain overwrite
    # kept the old registered schema against new files)
    md = io.client.load_table(["wsql"], "derived")["metadata"]
    cur = next(s for s in md["schemas"]
               if s["schema-id"] == md["current-schema-id"])
    assert [f["name"] for f in cur["fields"]] == ["one"]
    with pytest.raises(ValueError, match="unknown table"):
        io.sql("INSERT INTO wsql.nope SELECT 1 AS x")


def test_sql_version_as_of_branch_or_tag(spark, io):
    io.write_table(
        spark.range(0, 10).select("id"), ["br"], "t", mode="overwrite"
    )
    io.create_tag(["br"], "t", "v1")
    io.write_table(spark.range(10, 25).select("id"), ["br"], "t", mode="append")
    assert io.sql("SELECT COUNT(*) AS n FROM br.t").collect()[0]["n"] == 25
    assert (
        io.sql("SELECT COUNT(*) AS n FROM br.t FOR VERSION AS OF 'v1'")
        .collect()[0]["n"] == 10
    )


def test_create_or_replace_failing_select_leaves_table_intact(spark, io):
    """CREATE OR REPLACE is a single-CAS replace commit: the replacement's
    files are written BEFORE the commit, so a select that fails at RUNTIME
    (lazy — it only executes inside the file write) leaves the original
    table fully registered, readable, and with its history — no temp
    table, no drop/rename window."""
    io.sql("CREATE TABLE cor.t AS SELECT 1 AS a UNION ALL SELECT 2 AS a")
    md_before = io.client.load_table(["cor"], "t")["metadata"]
    with pytest.raises(Exception, match="boom"):
        io.sql(
            "CREATE OR REPLACE TABLE cor.t AS "
            "SELECT CAST(raise_error('boom') AS INT) AS a FROM cor.t"
        )
    # original intact: same current snapshot, same rows
    md_after = io.client.load_table(["cor"], "t")["metadata"]
    assert (
        md_after["refs"]["main"]["snapshot-id"]
        == md_before["refs"]["main"]["snapshot-id"]
    )
    assert sorted(r["a"] for r in io.sql("SELECT a FROM cor.t").collect()) == [1, 2]
    # no __replace__ temp table left behind
    leftovers = [
        t for t in io.client.list_tables(["cor"]) if "__replace__" in str(t)
    ]
    assert leftovers == []
    # and a SUCCESSFUL replace still swaps schema + data
    io.sql("CREATE OR REPLACE TABLE cor.t AS SELECT 'x' AS s")
    out = io.sql("SELECT * FROM cor.t").collect()
    assert len(out) == 1 and out[0]["s"] == "x"


def test_string_literal_containing_table_name_not_rewritten(spark, io):
    """The documented hazard, now fixed: a string literal containing
    `ns.table` must flow through as a literal, never be rewritten into a
    temp-view name."""
    out = io.sql(
        "SELECT 'westeros.my_table' AS lit, COUNT(*) AS n FROM westeros.my_table"
    ).collect()
    assert out[0]["lit"] == "westeros.my_table" and out[0]["n"] == 100
    # escaped-quote form survives too
    out2 = io.sql("SELECT 'it''s westeros.my_table' AS lit").collect()
    assert out2[0]["lit"] == "it's westeros.my_table"


def test_view_body_comma_join_qualifies_both_tables(spark, io):
    """`FROM a, b` in a view body: BOTH tables resolve against the view's
    default-namespace, not just the one behind the FROM keyword."""
    io.write_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        ),
        ["westeros"], "dim2", mode="overwrite",
    )
    io.client.create_view(
        ["westeros"], "cj",
        "SELECT t.k AS k, d.w AS w FROM my_table t, dim2 d "
        "WHERE t.k = d.k AND t.id < 10",
    )
    out = io.sql("SELECT COUNT(*) AS n FROM westeros.cj").collect()
    assert out[0]["n"] == 10


def test_view_version_travel(spark, io):
    """FOR VERSION AS OF <id> / FOR TIMESTAMP AS OF on a VIEW resolves
    through the view's version list / version-log (Iceberg view metadata
    is versioned — reference view/metadata.go Versions + VersionLog)."""
    import time

    io.client.create_namespace(["vv"])
    io.client.create_view(["vv"], "v", "SELECT 1 AS a")
    md1 = io.client.load_view(["vv"], "v")["metadata"]
    v1 = md1["current-version-id"]
    t_between = int(time.time() * 1000)
    time.sleep(0.01)
    md_v = io.client.load_view(["vv"], "v")["metadata"]
    io.client.replace_view(
        ["vv"], "v",
        requirements=[{"type": "assert-view-uuid", "uuid": md_v["view-uuid"]}],
        updates=[
            {"action": "add-view-version", "view-version": {
                "version-id": v1 + 1, "timestamp-ms": int(time.time() * 1000),
                "schema-id": 0, "summary": {"operation": "replace"},
                "representations": [{"type": "sql",
                                     "sql": "SELECT 2 AS a, 3 AS b",
                                     "dialect": "spark"}],
                "default-namespace": ["vv"],
            }},
            {"action": "set-current-view-version", "view-version-id": v1 + 1},
        ],
    )
    md2 = io.client.load_view(["vv"], "v")["metadata"]
    v2 = md2["current-version-id"]
    assert v2 != v1

    cur = io.sql("SELECT * FROM vv.v").collect()
    assert cur[0]["a"] == 2 and cur[0]["b"] == 3
    old = io.sql(f"SELECT * FROM vv.v FOR VERSION AS OF {v1}").collect()
    assert old[0].asDict() == {"a": 1}
    ts = io.sql(
        "SELECT * FROM vv.v FOR TIMESTAMP AS OF "
        f"'{__import__('datetime').datetime.fromtimestamp(t_between / 1000, __import__('datetime').timezone.utc).isoformat()}'"
    ).collect()
    assert ts[0].asDict() == {"a": 1}
    with pytest.raises(ValueError, match="no version 99999"):
        io.sql("SELECT * FROM vv.v FOR VERSION AS OF 99999").collect()
    with pytest.raises(ValueError, match="branches/tags"):
        io.sql("SELECT * FROM vv.v FOR VERSION AS OF 'main'").collect()


def test_sql_delete_update_copy_on_write(spark, io):
    io.sql("CREATE TABLE dml.t AS SELECT id, id * 2 AS v FROM westeros.my_table")
    out = io.sql("DELETE FROM dml.t WHERE id >= 90").collect()[0]
    assert out["operation"] == "delete" and out["mode"] == "copy-on-write"
    assert io.sql("SELECT COUNT(*) AS n FROM dml.t").collect()[0]["n"] == 90
    io.sql("UPDATE dml.t SET v = v + 1000 WHERE id BETWEEN 0 AND 4")
    got = io.sql(
        "SELECT SUM(v) AS s FROM dml.t WHERE id < 5"
    ).collect()[0]["s"]
    assert got == sum(i * 2 + 1000 for i in range(5))


def test_sql_dml_merge_on_read_via_table_property(spark, io):
    io.sql("CREATE TABLE dmlm.t AS SELECT id, id * 2 AS v FROM westeros.my_table")
    md = io.client.load_table(["dmlm"], "t")["metadata"]
    io.client.commit_table(
        ["dmlm"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-properties", "updates": {
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        }}],
    )
    out = io.sql("DELETE FROM dmlm.t WHERE id IN (1, 3, 5)").collect()[0]
    assert out["mode"] == "merge-on-read"
    # deletion vectors, not rewrites: data entries untouched, DV present
    md2 = io.client.load_table(["dmlm"], "t")["metadata"]
    snap = io._resolve_snapshot(md2)
    entries = read_manifest_list(snap["manifest-list"])
    assert any(
        e.get("content") == "position-deletes"
        and e.get("file-format") == "puffin"
        for e in entries
    )
    assert io.sql("SELECT COUNT(*) AS n FROM dmlm.t").collect()[0]["n"] == 97
    io.sql("UPDATE dmlm.t SET v = 0 WHERE id = 2")
    assert io.sql(
        "SELECT v FROM dmlm.t WHERE id = 2"
    ).collect()[0]["v"] == 0


def test_sql_merge_statement(spark, io):
    io.sql("CREATE TABLE dmg.t AS SELECT id AS k, id * 2 AS v "
           "FROM westeros.my_table WHERE id < 10")
    out = io.sql(
        "MERGE INTO dmg.t USING (SELECT 5 AS k, 500 AS v "
        "UNION ALL SELECT 100 AS k, 1 AS v) s "
        "ON (k) "
        "WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT"
    ).collect()[0]
    assert out["operation"] == "merge"
    rows = {r["k"]: r["v"] for r in io.sql("SELECT * FROM dmg.t").collect()}
    assert rows[5] == 500 and rows[100] == 1 and len(rows) == 11
    # equality-chain ON form + DELETE action
    io.sql(
        "MERGE INTO dmg.t USING (SELECT 100 AS k, 0 AS v) s "
        "ON t.k = s.k WHEN MATCHED THEN DELETE"
    )
    assert io.sql("SELECT COUNT(*) AS n FROM dmg.t").collect()[0]["n"] == 10
    with pytest.raises(ValueError, match="insert-only"):
        io.sql(
            "MERGE INTO dmg.t USING (SELECT 1 AS k, 1 AS v) s ON (k) "
            "WHEN NOT MATCHED THEN INSERT"
        )


def test_sql_metadata_table_addressing(spark, io):
    """Iceberg SQL's `db.t.snapshots` family resolves through
    metadata_table, composing with ordinary SQL and snapshot-scoped
    time travel."""
    io.sql("CREATE TABLE meta.t AS SELECT 1 AS a")
    io.sql("INSERT INTO meta.t SELECT 2")
    snaps = io.sql(
        "SELECT COUNT(*) AS n FROM meta.t.snapshots"
    ).collect()[0]["n"]
    assert snaps == 2
    hist = io.sql(
        "SELECT COUNT(*) AS n FROM meta.t.history WHERE is_current_ancestor"
    ).collect()[0]["n"]
    assert hist == 2
    # joinable with the data table in one statement
    out = io.sql(
        "SELECT (SELECT COUNT(*) FROM meta.t.files) AS files, "
        "(SELECT COUNT(*) FROM meta.t) AS rows"
    ).collect()[0]
    assert out["files"] >= 1 and out["rows"] == 2
    # snapshot-scoped travel on a metadata relation
    first = io.sql(
        "SELECT snapshot_id FROM meta.t.snapshots ORDER BY committed_at LIMIT 1"
    ).collect()[0]["snapshot_id"]
    files_then = io.sql(
        f"SELECT COUNT(*) AS n FROM meta.t.files FOR VERSION AS OF {first}"
    ).collect()[0]["n"]
    assert files_then >= 1
    with pytest.raises(ValueError, match="FOR TIMESTAMP AS OF is not supported"):
        io.sql(
            "SELECT * FROM meta.t.files FOR TIMESTAMP AS OF '2024-01-01T00:00:00'"
        )


def test_dml_clause_splitting_is_literal_and_paren_safe(spark, io):
    """Review regressions: a USING subquery containing JOIN ... ON must
    not truncate the MERGE source, and literals containing clause
    keywords must not fool the DELETE/UPDATE splitters."""
    io.sql("CREATE TABLE dsafe.t AS SELECT id AS k, 'x' AS tag, id AS v "
           "FROM westeros.my_table WHERE id < 6")
    io.sql("CREATE TABLE dsafe.dim AS SELECT id AS k, id * 100 AS w "
           "FROM westeros.my_table WHERE id < 6")
    # JOIN ... ON inside the USING subquery
    io.sql(
        "MERGE INTO dsafe.t USING "
        "(SELECT a.k AS k, 'y' AS tag, b.w AS v FROM dsafe.t a "
        " JOIN dsafe.dim b ON a.k = b.k WHERE a.k < 3) s "
        "ON (k) WHEN MATCHED THEN UPDATE"
    )
    rows = {r["k"]: (r["tag"], r["v"])
            for r in io.sql("SELECT * FROM dsafe.t").collect()}
    assert rows[0] == ("y", 0) and rows[2] == ("y", 200) and rows[5] == ("x", 5)
    # literal containing ' where ' in an UPDATE SET expression
    io.sql("UPDATE dsafe.t SET tag = 'a where b' WHERE k = 4")
    assert io.sql(
        "SELECT tag FROM dsafe.t WHERE k = 4"
    ).collect()[0]["tag"] == "a where b"
    # literal containing ' where ' in a DELETE predicate
    io.sql("DELETE FROM dsafe.t WHERE tag = 'a where b'")
    assert io.sql("SELECT COUNT(*) AS n FROM dsafe.t").collect()[0]["n"] == 5


def test_call_system_procedures(spark, io):
    """Iceberg Spark's CALL catalog.system.<proc>() surface routes to the
    engine's maintenance/branch functions."""
    io.sql("CREATE TABLE proc.t AS SELECT id FROM westeros.my_table WHERE id < 30")
    io.sql("INSERT INTO proc.t SELECT 100")
    io.sql("INSERT INTO proc.t SELECT 101")

    anc = io.sql("CALL system.ancestors_of(table => 'proc.t')").collect()
    assert len(anc) == 3
    first_id = anc[-1]["snapshot_id"]

    out = io.sql(
        "CALL system.rewrite_data_files(table => 'proc.t', "
        "target_file_size_bytes => 134217728)"
    ).collect()[0]
    assert out["procedure"] == "rewrite_data_files"

    stats = io.sql("CALL system.compute_table_stats('proc.t')").collect()[0]
    assert stats["row_count"] == 32

    rb = io.sql(
        f"CALL system.rollback_to_snapshot(table => 'proc.t', "
        f"snapshot_id => {first_id})"
    ).collect()[0]
    assert rb["snapshot_id"] == first_id
    assert io.sql("SELECT COUNT(*) AS n FROM proc.t").collect()[0]["n"] == 30

    exp = io.sql(
        "CALL system.expire_snapshots(table => 'proc.t', retain_last => 1)"
    ).collect()[0]
    assert exp["procedure"] == "expire_snapshots"

    with pytest.raises(ValueError, match="unknown procedure"):
        io.sql("CALL system.migrate(table => 'proc.t')")
    with pytest.raises(ValueError, match="does not take argument"):
        io.sql("CALL system.expire_snapshots(table => 'proc.t', nope => 1)")


def test_sql_merge_update_set_and_insert_values(spark, io):
    """Standard MERGE spellings — `UPDATE SET c = expr` assignments and
    `INSERT (cols) VALUES (exprs)` — are parsed and APPLIED (the round-7
    parser matched them as substrings and silently replaced matched rows
    wholesale, the ADVICE medium finding)."""
    io.sql(
        "CREATE TABLE dms.t AS SELECT id AS k, id * 2 AS v, 'old' AS tag "
        "FROM westeros.my_table WHERE id < 5"
    )
    io.sql(
        "MERGE INTO dms.t USING (SELECT 3 AS k, 7 AS v UNION ALL "
        "SELECT 50 AS k, 9 AS v) s ON (k) "
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.v, tag = 'upd' "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v * 10)"
    )
    rows = {
        r["k"]: (r["v"], r["tag"])
        for r in io.sql("SELECT * FROM dms.t").collect()
    }
    assert rows[3] == (7 + 6, "upd")        # SET applied, not wholesale
    assert rows[50] == (90, None)           # mapped insert, unlisted -> NULL
    assert rows[0] == (0, "old")            # untouched rows keep pre-image
    # table-name / user-alias qualifiers rewrite onto the t/s binding
    io.sql(
        "MERGE INTO dms.t AS tgt USING (SELECT 0 AS k, 5 AS v) src ON (k) "
        "WHEN MATCHED THEN UPDATE SET v = tgt.v + src.v"
    )
    assert io.sql(
        "SELECT v FROM dms.t WHERE k = 0"
    ).collect()[0]["v"] == 5
    # positional INSERT VALUES (no column list)
    io.sql(
        "MERGE INTO dms.t USING (SELECT 60 AS k, 1 AS v) s ON (k) "
        "WHEN MATCHED THEN UPDATE "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, 'new')"
    )
    assert io.sql(
        "SELECT v, tag FROM dms.t WHERE k = 60"
    ).collect()[0].asDict() == {"v": 1, "tag": "new"}
    # malformed / unsupported actions error instead of silently discarding
    with pytest.raises(ValueError, match="unsupported WHEN MATCHED"):
        io.sql(
            "MERGE INTO dms.t USING (SELECT 1 AS k, 1 AS v) s ON (k) "
            "WHEN MATCHED THEN UPDATE EVERYTHING"
        )
    with pytest.raises(ValueError, match="unknown columns"):
        io.sql(
            "MERGE INTO dms.t USING (SELECT 1 AS k, 1 AS v) s ON (k) "
            "WHEN MATCHED THEN UPDATE SET nope = 1"
        )
    with pytest.raises(ValueError, match="unsupported INSERT form"):
        io.sql(
            "MERGE INTO dms.t USING (SELECT 1 AS k, 1 AS v) s ON (k) "
            "WHEN MATCHED THEN UPDATE "
            "WHEN NOT MATCHED THEN INSERT SELECT 1"
        )


def test_sql_merge_set_clauses_merge_on_read(spark, io):
    """UPDATE SET / INSERT VALUES through the merge-on-read twin: matched
    rows become DVs, replacements carry the SET expressions."""
    io.sql(
        "CREATE TABLE dmsm.t AS SELECT id AS k, id * 2 AS v, 'old' AS tag "
        "FROM westeros.my_table WHERE id < 5"
    )
    md = io.client.load_table(["dmsm"], "t")["metadata"]
    io.client.commit_table(
        ["dmsm"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-properties", "updates": {
            "write.merge.mode": "merge-on-read",
        }}],
    )
    out = io.sql(
        "MERGE INTO dmsm.t USING (SELECT 2 AS k, 100 AS v UNION ALL "
        "SELECT 9 AS k, 3 AS v) s ON (k) "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, -s.v)"
    ).collect()[0]
    assert out["mode"] == "merge-on-read"
    rows = {
        r["k"]: (r["v"], r["tag"])
        for r in io.sql("SELECT * FROM dmsm.t").collect()
    }
    assert rows[2] == (104, "old") and rows[9] == (-3, None) and len(rows) == 6


def test_sql_dml_raw_predicate_fallback(spark, io):
    """A WHERE the prunable scan grammar can't express (modulo, function,
    arithmetic) falls back to an opaque raw-SQL predicate: exact
    row-level semantics at full-candidate cost, on both the CoW and MoR
    paths — and EXPLAIN on the same shape emits the read plan without
    committing."""
    io.sql("CREATE TABLE dmlr.t AS SELECT id, id * 2 AS v "
           "FROM westeros.my_table")
    out = io.sql("DELETE FROM dmlr.t WHERE id % 10 = 0").collect()[0]
    assert out["operation"] == "delete" and out["mode"] == "copy-on-write"
    assert io.sql("SELECT COUNT(*) AS n FROM dmlr.t").collect()[0]["n"] == 90
    io.sql("UPDATE dmlr.t SET v = -1 WHERE pmod(id, 9) = 1 AND id < 20")
    got = sorted(r["id"] for r in
                 io.sql("SELECT id FROM dmlr.t WHERE v = -1").collect())
    assert got == [1, 19]  # 10 was deleted above

    # MoR twin: raw predicate must produce deletion vectors too
    md = io.client.load_table(["dmlr"], "t")["metadata"]
    io.client.commit_table(
        ["dmlr"], "t",
        requirements=[{"type": "assert-table-uuid", "uuid": md["table-uuid"]}],
        updates=[{"action": "set-properties", "updates": {
            "write.delete.mode": "merge-on-read",
        }}],
    )
    out = io.sql("DELETE FROM dmlr.t WHERE id % 10 = 5").collect()[0]
    assert out["mode"] == "merge-on-read"
    assert io.sql("SELECT COUNT(*) AS n FROM dmlr.t").collect()[0]["n"] == 80

    # EXPLAIN with a raw predicate: read plan, zero commits
    snaps = len(io.client.load_table(["dmlr"], "t")["metadata"]["snapshots"])
    plan = io.sql("EXPLAIN DELETE FROM dmlr.t WHERE id % 3 = 0") \
        .collect()[0].plan
    assert "id % 3 = 0" in plan
    assert len(io.client.load_table(["dmlr"], "t")["metadata"]["snapshots"]) \
        == snaps

    # garbage WHERE: both diagnostics, no commit
    with pytest.raises(ValueError, match="neither a prunable"):
        io.sql("DELETE FROM dmlr.t WHERE id %% === 2")


def test_sql_delete_without_where_errors_clearly(spark, io):
    """`DELETE FROM ns.t` (no WHERE) must hit the explicit requires-WHERE
    error, not fall through to the SELECT rewriter (ADVICE low)."""
    io.sql("CREATE TABLE dnw.t AS SELECT 1 AS a")
    with pytest.raises(ValueError, match="requires a WHERE clause"):
        io.sql("DELETE FROM dnw.t")
    with pytest.raises(ValueError, match="requires a WHERE clause"):
        io.sql("DELETE FROM dnw.t;")


def test_create_or_replace_single_commit_preserves_identity(spark, io):
    """REPLACE is one CAS commit on the SAME table: uuid and snapshot
    history survive, time travel reaches pre-replace data, the new schema
    takes fresh field ids past the old last-column-id, and the whole swap
    adds exactly one metadata-log entry (one catalog round-trip)."""
    from denali_spark.sources.schema_evolution import current_schema

    io.sql("CREATE TABLE corh.t AS SELECT 1 AS a UNION ALL SELECT 2 AS a")
    md0 = io.client.load_table(["corh"], "t")["metadata"]
    snap0 = md0["refs"]["main"]["snapshot-id"]
    io.sql("CREATE OR REPLACE TABLE corh.t AS SELECT 'x' AS s, 7 AS b")
    md1 = io.client.load_table(["corh"], "t")["metadata"]
    assert md1["table-uuid"] == md0["table-uuid"]
    assert any(s["snapshot-id"] == snap0 for s in md1["snapshots"])
    assert len(md1["metadata-log"]) == len(md0["metadata-log"]) + 1
    new_fields = current_schema(md1)["fields"]
    assert min(f["id"] for f in new_fields) > md0["last-column-id"]
    assert io.sql("SELECT * FROM corh.t").collect()[0].asDict() == {
        "s": "x", "b": 7,
    }
    old = io.sql(
        f"SELECT * FROM corh.t FOR VERSION AS OF {snap0}"
    ).collect()
    assert sorted(r["a"] for r in old) == [1, 2]


def test_sql_alter_table_add_column_then_dml(spark, io):
    """ALTER TABLE ADD COLUMN routes to schema evolution; the new column is
    immediately writable/readable through SQL (old files backfill NULL)."""
    io.sql("CREATE TABLE ddl.t AS SELECT 1 AS a UNION ALL SELECT 2 AS a")
    out = io.sql(
        "ALTER TABLE ddl.t ADD COLUMN note string COMMENT 'freeform'"
    ).collect()[0]
    assert out["operation"] == "add-columns" and out["detail"] == "note"
    io.sql("INSERT INTO ddl.t SELECT 3, 'three'")
    rows = {r["a"]: r["note"] for r in io.sql("SELECT * FROM ddl.t").collect()}
    assert rows == {1: None, 2: None, 3: "three"}
    # multi-column form + typed columns
    io.sql("ALTER TABLE ddl.t ADD COLUMNS (w bigint, score double)")
    md = io.client.load_table(["ddl"], "t")["metadata"]
    from denali_spark.sources.schema_evolution import current_schema

    names = {f["name"]: f["type"] for f in current_schema(md)["fields"]}
    assert names["w"] == "long" and names["score"] == "double"
    # rename + drop
    io.sql("ALTER TABLE ddl.t RENAME COLUMN score TO quality")
    io.sql("ALTER TABLE ddl.t DROP COLUMN w")
    md = io.client.load_table(["ddl"], "t")["metadata"]
    names = [f["name"] for f in current_schema(md)["fields"]]
    assert "quality" in names and "w" not in names and "score" not in names
    with pytest.raises(ValueError, match="already exists"):
        io.sql("ALTER TABLE ddl.t ADD COLUMN a int")
    with pytest.raises(ValueError, match="unsupported ALTER TABLE"):
        io.sql("ALTER TABLE ddl.t FROBNICATE")


def test_sql_alter_table_partition_field_changes_layout(spark, io):
    """ADD PARTITION FIELD evolves the default spec; files written AFTER
    the evolution carry the new partition values while old files keep
    theirs (spec evolution never rewrites)."""
    io.sql(
        "CREATE TABLE ddlp.t AS "
        "SELECT id, id % 3 AS bucket_key FROM westeros.my_table WHERE id < 30"
    )
    out = io.sql(
        "ALTER TABLE ddlp.t ADD PARTITION FIELD bucket_key"
    ).collect()[0]
    assert out["operation"] == "add-partition-field"
    io.sql(
        "INSERT INTO ddlp.t "
        "SELECT id, id % 3 FROM westeros.my_table WHERE id >= 30 AND id < 60"
    )
    md = io.client.load_table(["ddlp"], "t")["metadata"]
    assert md["default-spec-id"] > 0
    snap = io._resolve_snapshot(md)
    entries = read_manifest_list(snap["manifest-list"])
    parted = [e for e in entries if e.get("partition")]
    unparted = [e for e in entries if not e.get("partition")]
    assert parted and unparted  # both layouts coexist post-evolution
    assert {str(e["partition"].get("bucket_key")) for e in parted} == {"0", "1", "2"}
    assert io.sql("SELECT COUNT(*) AS n FROM ddlp.t").collect()[0]["n"] == 60
    # DROP PARTITION FIELD returns to unpartitioned for new writes
    io.sql("ALTER TABLE ddlp.t DROP PARTITION FIELD bucket_key")
    with pytest.raises(ValueError, match="not in the default spec"):
        io.sql("ALTER TABLE ddlp.t DROP PARTITION FIELD bucket_key")


def test_sql_alter_table_properties_and_order(spark, io):
    io.sql("CREATE TABLE ddlq.t AS SELECT 1 AS a, 2 AS b")
    io.sql(
        "ALTER TABLE ddlq.t SET TBLPROPERTIES "
        "('write.delete.mode' = 'merge-on-read', 'owner' = 'denali')"
    )
    props = io.client.load_table(["ddlq"], "t")["metadata"]["properties"]
    assert props["write.delete.mode"] == "merge-on-read"
    assert props["owner"] == "denali"
    io.sql("ALTER TABLE ddlq.t UNSET TBLPROPERTIES ('owner')")
    props = io.client.load_table(["ddlq"], "t")["metadata"]["properties"]
    assert "owner" not in props
    io.sql("ALTER TABLE ddlq.t WRITE ORDERED BY b, a")
    md = io.client.load_table(["ddlq"], "t")["metadata"]
    assert md["default-sort-order-id"] > 0
    # rename table through DDL
    io.sql("ALTER TABLE ddlq.t RENAME TO ddlq.t2")
    assert io.sql("SELECT COUNT(*) AS n FROM ddlq.t2").collect()[0]["n"] == 1

def test_sql_alter_column_promotion_comment_nullability(spark, io):
    """ALTER COLUMN routes to update_column: Iceberg-legal type promotion
    (int->long) is pure metadata — files written before the promotion are
    cast at read time, never rewritten — while illegal promotions and
    SET NOT NULL are rejected."""
    from denali_spark.sources.schema_evolution import current_schema

    io.sql("CREATE TABLE ddla.t AS SELECT 1 AS a, CAST(1.5 AS FLOAT) AS f")
    out = io.sql("ALTER TABLE ddla.t ALTER COLUMN a TYPE bigint").collect()[0]
    assert out["operation"] == "alter-column-type" and out["detail"] == "a:long"
    io.sql("ALTER TABLE ddla.t ALTER COLUMN f TYPE double")
    # post-promotion insert writes native longs/doubles; pre-promotion
    # files cast on read — one unioned relation, one schema
    io.sql("INSERT INTO ddla.t SELECT 4000000000, 2.5")
    df = io.sql("SELECT * FROM ddla.t")
    assert dict(df.dtypes) == {"a": "bigint", "f": "double"}
    assert sorted(r["a"] for r in df.collect()) == [1, 4000000000]
    md = io.client.load_table(["ddla"], "t")["metadata"]
    types = {f["name"]: f["type"] for f in current_schema(md)["fields"]}
    assert types == {"a": "long", "f": "double"}
    # field ids survive the promotion (identity, not drop+add)
    with pytest.raises(ValueError, match="illegal type promotion"):
        io.sql("ALTER TABLE ddla.t ALTER COLUMN a TYPE int")
    with pytest.raises(ValueError, match="illegal type promotion"):
        io.sql("ALTER TABLE ddla.t ALTER COLUMN f TYPE string")
    io.sql("ALTER TABLE ddla.t ALTER COLUMN a COMMENT 'widened id'")
    md = io.client.load_table(["ddla"], "t")["metadata"]
    docs = {f["name"]: f.get("doc") for f in current_schema(md)["fields"]}
    assert docs["a"] == "widened id"
    io.sql("ALTER TABLE ddla.t ALTER COLUMN a DROP NOT NULL")
    with pytest.raises(ValueError, match="SET NOT NULL is not allowed"):
        io.sql("ALTER TABLE ddla.t ALTER COLUMN a SET NOT NULL")


def test_sql_replace_partition_field(spark, io):
    """REPLACE PARTITION FIELD swaps one spec field for another in a single
    evolution commit; files written after carry the new layout."""
    io.sql(
        "CREATE TABLE ddlr.t AS "
        "SELECT id, id % 3 AS k3, id % 5 AS k5 FROM westeros.my_table WHERE id < 30"
    )
    io.sql("ALTER TABLE ddlr.t ADD PARTITION FIELD k3")
    out = io.sql(
        "ALTER TABLE ddlr.t REPLACE PARTITION FIELD k3 WITH bucket(4, k5)"
    ).collect()[0]
    assert out["operation"] == "replace-partition-field"
    assert out["detail"] == "identity(k3)->bucket[4](k5)"
    io.sql(
        "INSERT INTO ddlr.t "
        "SELECT id, id % 3, id % 5 FROM westeros.my_table "
        "WHERE id >= 30 AND id < 60"
    )
    md = io.client.load_table(["ddlr"], "t")["metadata"]
    spec = next(s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"])
    assert [f["transform"] for f in spec["fields"]] == ["bucket[4]"]
    assert io.sql("SELECT COUNT(*) AS n FROM ddlr.t").collect()[0]["n"] == 60
    with pytest.raises(ValueError, match="not in the default spec"):
        io.sql("ALTER TABLE ddlr.t REPLACE PARTITION FIELD k3 WITH k5")


def test_sql_branch_tag_ddl(spark, io):
    """CREATE/DROP BRANCH|TAG DDL routes to the ref APIs; AS OF VERSION
    pins the ref to a named snapshot; branch reads travel through SQL."""
    io.sql("CREATE TABLE ddlb.t AS SELECT 1 AS a")
    md = io.client.load_table(["ddlb"], "t")["metadata"]
    snap0 = md["current-snapshot-id"]
    io.sql("INSERT INTO ddlb.t SELECT 2")
    out = io.sql("ALTER TABLE ddlb.t CREATE BRANCH audit").collect()[0]
    assert out["operation"] == "create-branch" and out["detail"] == "audit"
    io.sql(f"ALTER TABLE ddlb.t CREATE TAG v0 AS OF VERSION {snap0}")
    md = io.client.load_table(["ddlb"], "t")["metadata"]
    assert md["refs"]["audit"]["type"] == "branch"
    assert md["refs"]["v0"] == {"snapshot-id": snap0, "type": "tag"}
    # idempotent create
    out = io.sql("ALTER TABLE ddlb.t CREATE BRANCH IF NOT EXISTS audit").collect()[0]
    assert out["detail"] == "audit (exists)"
    # tag travel sees only the first snapshot's row
    rows = io.sql("SELECT * FROM ddlb.t FOR VERSION AS OF 'v0'").collect()
    assert [r["a"] for r in rows] == [1]
    io.sql("ALTER TABLE ddlb.t DROP TAG v0")
    io.sql("ALTER TABLE ddlb.t DROP BRANCH audit")
    md = io.client.load_table(["ddlb"], "t")["metadata"]
    assert "v0" not in md.get("refs", {}) and "audit" not in md.get("refs", {})

def test_sql_add_column_with_v3_default(spark, io):
    """ADD COLUMN ... DEFAULT lit stamps the V3 initial-default/
    write-default on the new field: rows written BEFORE the column
    existed read the default (no rewrite), rows written after carry
    their own values."""
    from denali_spark.sources.schema_evolution import current_schema

    io.sql("CREATE TABLE ddld.t AS SELECT 1 AS a UNION ALL SELECT 2 AS a")
    io.sql(
        "ALTER TABLE ddld.t ADD COLUMN tier string DEFAULT 'bronze' "
        "COMMENT 'loyalty tier'"
    )
    io.sql("ALTER TABLE ddld.t ADD COLUMN score bigint DEFAULT 100")
    md = io.client.load_table(["ddld"], "t")["metadata"]
    fields = {f["name"]: f for f in current_schema(md)["fields"]}
    assert fields["tier"]["initial-default"] == "bronze"
    assert fields["tier"]["write-default"] == "bronze"
    assert fields["tier"]["doc"] == "loyalty tier"
    assert fields["score"]["initial-default"] == 100
    io.sql("INSERT INTO ddld.t SELECT 3, 'gold', 900")
    rows = {
        r["a"]: (r["tier"], r["score"])
        for r in io.sql("SELECT * FROM ddld.t").collect()
    }
    assert rows == {
        1: ("bronze", 100), 2: ("bronze", 100), 3: ("gold", 900),
    }
    # plain ADD COLUMN (no DEFAULT) still backfills NULL
    io.sql("ALTER TABLE ddld.t ADD COLUMN note string")
    vals = {r["a"]: r["note"] for r in io.sql("SELECT * FROM ddld.t").collect()}
    assert vals == {1: None, 2: None, 3: None}

def test_sql_show_and_describe(spark, io):
    """SHOW NAMESPACES/TABLES/VIEWS/TBLPROPERTIES/PARTITIONS/CREATE TABLE
    and DESCRIBE [EXTENDED] — the Spark catalog-inspection surface over
    the REST listing endpoints."""
    io.sql("CREATE TABLE showns.t AS SELECT 1 AS a, 'x' AS s")
    io.sql("ALTER TABLE showns.t ADD COLUMN score bigint COMMENT 'points'")
    io.sql("ALTER TABLE showns.t ADD PARTITION FIELD bucket(4, a)")
    io.sql("ALTER TABLE showns.t SET TBLPROPERTIES ('owner' = 'data-eng')")

    ns = {r["namespace"] for r in io.sql("SHOW NAMESPACES").collect()}
    assert "showns" in ns
    tables = {
        (r["namespace"], r["tableName"])
        for r in io.sql("SHOW TABLES IN showns").collect()
    }
    assert ("showns", "t") in tables
    # unscoped form walks every namespace
    all_tables = {
        (r["namespace"], r["tableName"])
        for r in io.sql("SHOW TABLES").collect()
    }
    assert ("showns", "t") in all_tables

    props = {
        r["key"]: r["value"]
        for r in io.sql("SHOW TBLPROPERTIES showns.t").collect()
    }
    assert props["owner"] == "data-eng"

    desc = {r["col_name"]: (r["data_type"], r["comment"])
            for r in io.sql("DESCRIBE showns.t").collect()}
    assert desc["a"][0] == "int" and desc["s"][0] == "string"
    assert desc["score"] == ("long", "points")  # Spark DDL bigint alias
    assert desc["Part 0"][0] == "bucket(4, a)"
    ext = {r["col_name"]: r["data_type"]
           for r in io.sql("DESCRIBE EXTENDED showns.t").collect()}
    assert ext["Provider"] == "iceberg" and ext["Name"] == "showns.t"

    stmt = io.sql("SHOW CREATE TABLE showns.t").collect()[0]["createtab_stmt"]
    assert "CREATE TABLE showns.t (" in stmt
    assert "score long COMMENT 'points'" in stmt
    assert "PARTITIONED BY (bucket(4, a))" in stmt
    assert "'owner' = 'data-eng'" in stmt

    # views: SHOW VIEWS lists them; DESCRIBE resolves the view's SQL
    io.client.create_view(["showns"], "v", "SELECT a, s FROM showns.t")
    views = {
        (r["namespace"], r["viewName"])
        for r in io.sql("SHOW VIEWS IN showns").collect()
    }
    assert ("showns", "v") in views
    vdesc = {r["col_name"]: r["data_type"]
             for r in io.sql("DESCRIBE showns.v").collect()}
    assert vdesc == {"a": "int", "s": "string"}


# --- round 9: full SQL DDL lifecycle --------------------------------------


def test_sql_ddl_lifecycle_reference_example(spark, io):
    """The reference client example's day-1 flow (examples/
    pyspark_example.py:30-36) end-to-end through io.sql() alone:
    CREATE NAMESPACE, CREATE TABLE with an explicit schema, INSERT,
    SELECT, then DROP everything."""
    io.sql("CREATE NAMESPACE dorne")
    assert io.client.namespace_exists(["dorne"])
    io.sql("CREATE NAMESPACE IF NOT EXISTS dorne")  # noop, no raise
    with pytest.raises(ValueError, match="already exists"):
        io.sql("CREATE NAMESPACE dorne")

    io.sql(
        """
        CREATE TABLE dorne.people (
          id bigint NOT NULL COMMENT 'pk',
          name string,
          what_they_know double DEFAULT 0.0
        ) USING iceberg TBLPROPERTIES ('owner' = 'martell')
        """
    )
    md = io.client.load_table(["dorne"], "people")["metadata"]
    fields = {
        f["name"]: f
        for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
        for f in s["fields"]
    }
    assert fields["id"]["required"] and fields["id"]["doc"] == "pk"
    assert fields["what_they_know"]["write-default"] == 0.0
    assert md["properties"]["owner"] == "martell"
    with pytest.raises(ValueError, match="already exists"):
        io.sql("CREATE TABLE dorne.people (x int)")
    io.sql("CREATE TABLE IF NOT EXISTS dorne.people (x int)")  # noop

    io.sql("INSERT INTO dorne.people SELECT 1, 'jon_snow', 0.0")
    rows = io.sql("SELECT * FROM dorne.people").collect()
    assert rows[0]["name"] == "jon_snow"

    spaces = {r["namespace"] for r in io.sql("SHOW NAMESPACES").collect()}
    assert "dorne" in spaces

    io.sql("CREATE VIEW dorne.v AS SELECT name FROM dorne.people")
    assert io.sql("SELECT * FROM dorne.v").collect()[0]["name"] == "jon_snow"
    with pytest.raises(ValueError, match="already exists"):
        io.sql("CREATE VIEW dorne.v AS SELECT 1 AS one")
    io.sql(
        "CREATE OR REPLACE VIEW dorne.v AS SELECT id, name FROM dorne.people"
    )
    assert io.sql("SELECT * FROM dorne.v").columns == ["id", "name"]

    io.sql("DROP VIEW dorne.v")
    assert not io.client.view_exists(["dorne"], "v")
    io.sql("DROP VIEW IF EXISTS dorne.v")  # noop
    with pytest.raises(ValueError, match="does not exist"):
        io.sql("DROP VIEW dorne.v")
    io.sql("DROP TABLE dorne.people PURGE")
    assert not io.client.table_exists(["dorne"], "people")
    io.sql("DROP TABLE IF EXISTS dorne.people")  # noop
    io.sql("DROP NAMESPACE dorne")
    assert not io.client.namespace_exists(["dorne"])
    io.sql("DROP NAMESPACE IF EXISTS dorne")  # noop


def test_show_create_table_round_trips(spark, io):
    """SHOW CREATE TABLE output re-parses through the CREATE TABLE path:
    quoted property values, escaped column comments, plural temporal
    transform spelling, NOT NULL, and DEFAULT all survive."""
    io.sql(
        """
        CREATE TABLE rt.src (
          id bigint NOT NULL,
          ts timestamp_ntz,
          grade double DEFAULT 1.5,
          note string COMMENT 'it''s noted'
        ) PARTITIONED BY (months(ts), bucket(4, id))
        TBLPROPERTIES ('comment' = 'it''s quoted', 'owner' = 'rt')
        """
    )
    stmt = io.sql("SHOW CREATE TABLE rt.src").collect()[0]["createtab_stmt"]
    assert "months(ts)" in stmt  # Spark DDL plural, not metadata singular
    assert "'it''s quoted'" in stmt  # quote-escaped property value
    assert "COMMENT 'it''s noted'" in stmt
    assert "DEFAULT 1.5" in stmt

    io.sql(stmt.replace("rt.src", "rt.dst", 1))
    md_s = io.client.load_table(["rt"], "src")["metadata"]
    md_d = io.client.load_table(["rt"], "dst")["metadata"]

    def cur_fields(md):
        return next(
            s for s in md["schemas"]
            if s["schema-id"] == md["current-schema-id"]
        )["fields"]

    assert cur_fields(md_s) == cur_fields(md_d)
    def spec(md):
        sid = md["default-spec-id"]
        s = next(p for p in md["partition-specs"] if p["spec-id"] == sid)
        return [(f["transform"], f["source-id"]) for f in s["fields"]]
    assert spec(md_s) == spec(md_d)
    assert md_s["properties"] == md_d["properties"]


def test_add_columns_is_one_commit(spark, io):
    """Multi-column ADD COLUMNS commits ONE new schema (one CAS round,
    one metadata file); a malformed trailing column leaves the schema
    untouched."""
    io.write_table(spark.range(3).select("id"), ["ac"], "t", mode="overwrite")
    md0 = io.client.load_table(["ac"], "t")["metadata"]

    io.sql("ALTER TABLE ac.t ADD COLUMNS (a int, b string COMMENT 'x')")
    md1 = io.client.load_table(["ac"], "t")["metadata"]
    assert len(md1["schemas"]) == len(md0["schemas"]) + 1
    assert len(md1.get("metadata-log", [])) == len(md0.get("metadata-log", [])) + 1
    names = [
        f["name"] for s in md1["schemas"]
        if s["schema-id"] == md1["current-schema-id"] for f in s["fields"]
    ]
    assert names == ["id", "a", "b"]

    with pytest.raises(ValueError, match="malformed|already exists"):
        io.sql("ALTER TABLE ac.t ADD COLUMNS (c int, 1bad ???)")
    md2 = io.client.load_table(["ac"], "t")["metadata"]
    assert md2["schemas"] == md1["schemas"]  # nothing committed
    assert md2["current-schema-id"] == md1["current-schema-id"]


def test_describe_view_uses_stored_schema(spark, io, monkeypatch):
    """DESCRIBE on a view answers from the schema stored at CREATE VIEW —
    zero manifest loads even for a view over a view."""
    io.write_table(
        spark.range(5).select("id", (F.col("id") * 2).alias("dbl")),
        ["dsv"], "base", mode="overwrite",
    )
    io.sql("CREATE VIEW dsv.v1 AS SELECT id, dbl FROM dsv.base")
    io.sql("CREATE VIEW dsv.v2 AS SELECT id FROM dsv.v1")

    def boom(*a, **k):
        raise AssertionError("DESCRIBE on a view must not load manifests")

    monkeypatch.setattr(io, "read_table", boom)
    rows = io.sql("DESCRIBE dsv.v2").collect()
    assert [(r["col_name"], r["data_type"]) for r in rows] == [("id", "long")]
    rows1 = io.sql("DESCRIBE dsv.v1").collect()
    assert [r["col_name"] for r in rows1] == ["id", "dbl"]


def test_insert_overwrite_truncate_show_columns(spark, io):
    """INSERT OVERWRITE replaces data but keeps schema/history; TRUNCATE
    commits an empty overwrite snapshot (time travel still reaches the
    old data); SHOW COLUMNS lists the current schema's names."""
    io.sql("CREATE TABLE iot.t (id bigint, v string)")
    io.sql("INSERT INTO iot.t SELECT 1, 'a'")
    md1 = io.client.load_table(["iot"], "t")["metadata"]
    v1 = md1["refs"]["main"]["snapshot-id"]

    io.sql("INSERT OVERWRITE iot.t SELECT 2, 'b'")
    rows = io.sql("SELECT * FROM iot.t").collect()
    assert [(r["id"], r["v"]) for r in rows] == [(2, "b")]
    # history kept: the pre-overwrite snapshot still reads
    old = io.sql(f"SELECT * FROM iot.t FOR VERSION AS OF {v1}").collect()
    assert [(r["id"], r["v"]) for r in old] == [(1, "a")]
    with pytest.raises(ValueError, match="unknown table"):
        io.sql("INSERT OVERWRITE iot.missing SELECT 1, 'x'")

    md2 = io.client.load_table(["iot"], "t")["metadata"]
    v2 = md2["refs"]["main"]["snapshot-id"]
    io.sql("TRUNCATE TABLE iot.t")
    assert io.sql("SELECT COUNT(*) AS n FROM iot.t").collect()[0]["n"] == 0
    # schema intact, old snapshot still addressable
    cols = [r["col_name"] for r in io.sql("SHOW COLUMNS IN iot.t").collect()]
    assert cols == ["id", "v"]
    kept = io.sql(f"SELECT * FROM iot.t FOR VERSION AS OF {v2}").collect()
    assert [(r["id"], r["v"]) for r in kept] == [(2, "b")]


def test_alter_view_and_show_create_view(spark, io):
    """ALTER VIEW SET/UNSET TBLPROPERTIES and AS <select>; SHOW CREATE
    TABLE on a view renders the CREATE VIEW statement, which re-parses
    through the CREATE VIEW path."""
    io.write_table(spark.range(4).select("id"), ["av"], "base", mode="overwrite")
    io.sql("CREATE VIEW av.v AS SELECT id FROM av.base")

    io.sql("ALTER VIEW av.v SET TBLPROPERTIES ('team' = 'data', 'tier' = 'gold')")
    props = io.client.load_view(["av"], "v")["metadata"]["properties"]
    assert props == {"team": "data", "tier": "gold"}
    io.sql("ALTER VIEW av.v UNSET TBLPROPERTIES ('tier')")
    props = io.client.load_view(["av"], "v")["metadata"]["properties"]
    assert props == {"team": "data"}

    io.sql("ALTER VIEW av.v AS SELECT id, id * 2 AS dbl FROM av.base")
    assert io.sql("SELECT * FROM av.v").columns == ["id", "dbl"]
    with pytest.raises(ValueError, match="does not exist"):
        io.sql("ALTER VIEW av.missing AS SELECT 1 AS one")

    stmt = io.sql("SHOW CREATE TABLE av.v").collect()[0]["createtab_stmt"]
    assert stmt.startswith("CREATE VIEW av.v AS")
    assert "'team' = 'data'" in stmt
    # round-trip a property-less view through the CREATE VIEW path
    io.sql("CREATE VIEW av.plain AS SELECT id FROM av.base")
    stmt2 = io.sql("SHOW CREATE TABLE av.plain").collect()[0]["createtab_stmt"]
    io.sql(stmt2.replace("av.plain", "av.plain2", 1))
    assert io.sql("SELECT * FROM av.plain2").columns == ["id"]


def test_ctas_with_partition_and_properties(spark, io):
    """CREATE TABLE ... USING iceberg PARTITIONED BY (...) TBLPROPERTIES
    (...) AS SELECT — the full Spark CTAS shape: the select's schema,
    a real partition spec (files land in transform directories), and
    properties, all from one statement."""
    io.sql(
        """
        CREATE TABLE ctas.sales USING iceberg
        PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('owner' = 'ctas')
        AS SELECT id, CAST(id % 10 AS BIGINT) AS k FROM range(100)
        """
    )
    md = io.client.load_table(["ctas"], "sales")["metadata"]
    spec = next(
        s for s in md["partition-specs"]
        if s["spec-id"] == md["default-spec-id"]
    )
    assert [f["transform"] for f in spec["fields"]] == ["bucket[4]"]
    assert md["properties"]["owner"] == "ctas"
    assert io.sql("SELECT COUNT(*) AS n FROM ctas.sales").collect()[0]["n"] == 100

    with pytest.raises(ValueError, match="plain"):
        io.sql(
            "CREATE OR REPLACE TABLE ctas.sales PARTITIONED BY (k) "
            "AS SELECT 1 AS id, CAST(1 AS BIGINT) AS k"
        )
    # plain CTAS (no clauses) still works through the same path
    io.sql("CREATE TABLE ctas.plain AS SELECT 1 AS one")
    assert io.sql("SELECT * FROM ctas.plain").collect()[0]["one"] == 1


def test_explain_resolves_catalog_names(spark, io):
    """EXPLAIN rides the SELECT fallback: catalog table names rewrite to
    their underlying file relations, so users can inspect the physical
    plan of a catalog query (pushed filters included) without the
    Iceberg jar."""
    io.sql("CREATE NAMESPACE IF NOT EXISTS expl")
    io.sql("CREATE TABLE expl.t AS SELECT CAST(id AS BIGINT) AS id FROM range(50)")
    rows = io.sql("EXPLAIN SELECT id FROM expl.t WHERE id > 3").collect()
    plan = rows[0][0]
    assert "Physical Plan" in plan
    assert "FileScan parquet" in plan  # resolved to the table's data files
    assert "id" in plan and ">" in plan  # the filter made it into the plan


def test_show_materialized_views_lists_and_freshness(spark, io):
    io.sql("CREATE NAMESPACE IF NOT EXISTS mvshow")
    io.write_table(
        spark.range(0, 40).select("id", (F.col("id") % 4).alias("g")),
        ["mvshow"], "base", mode="overwrite",
    )
    io.sql("CREATE MATERIALIZED VIEW mvshow.mv1 AS "
           "SELECT g, COUNT(*) AS n_rows FROM mvshow.base GROUP BY g")
    rows = {(r.namespace, r.mviewName, r.sources, r.fresh)
            for r in io.sql("SHOW MATERIALIZED VIEWS IN mvshow").collect()}
    assert rows == {("mvshow", "mv1", "mvshow.base", True)}
    # a source commit makes it stale; REFRESH restores freshness
    io.write_table(
        spark.range(40, 60).select("id", (F.col("id") % 4).alias("g")),
        ["mvshow"], "base", mode="append",
    )
    [r] = io.sql("SHOW MATERIALIZED VIEWS IN mvshow").collect()
    assert r.fresh is False
    io.sql("REFRESH MATERIALIZED VIEW mvshow.mv1")
    [r] = io.sql("SHOW MATERIALIZED VIEWS IN mvshow").collect()
    assert r.fresh is True
    # unscoped listing includes it too; plain tables never show up
    all_rows = {(r.namespace, r.mviewName)
                for r in io.sql("SHOW MATERIALIZED VIEWS").collect()}
    assert ("mvshow", "mv1") in all_rows
    assert not any(n == "base" for _, n in all_rows)


def test_describe_marks_materialized_views(spark, io):
    io.sql("CREATE NAMESPACE IF NOT EXISTS mvdesc")
    io.write_table(
        spark.range(0, 20).select("id", (F.col("id") % 2).alias("g")),
        ["mvdesc"], "base", mode="overwrite",
    )
    io.sql("CREATE MATERIALIZED VIEW mvdesc.mv AS "
           "SELECT g, COUNT(*) AS n_rows FROM mvdesc.base GROUP BY g")
    rows = {r.col_name: r.data_type
            for r in io.sql("DESCRIBE mvdesc.mv").collect()}
    assert "# Materialized View" in rows
    assert rows["Sources"] == "mvdesc.base"
    assert rows["Fresh"] == "true"
    src = io.client.load_table(["mvdesc"], "base")["metadata"]
    assert rows["ivm.source-snapshot-id"] == str(src["current-snapshot-id"])
    # a plain table carries no MV section
    plain = {r.col_name for r in io.sql("DESCRIBE mvdesc.base").collect()}
    assert "# Materialized View" not in plain


def test_append_aligns_atomic_types_to_table_schema(spark, io):
    """An append whose column type drifted (decimal(18,2) rows into a
    wider decimal column) must cast to the TABLE schema — a physically
    mismatched parquet file would poison every later scan — and a df
    naming an unknown column must fail loudly."""
    from decimal import Decimal

    wide = spark.range(0, 10).select(
        "id", (F.col("id").cast("decimal(18,2)") / 4).alias("amount")
    )
    io.write_table(wide.coalesce(1), ["align"], "t", mode="overwrite")
    narrow = spark.createDataFrame(
        [(100, Decimal("-9.50"))], "id long, amount decimal(18,2)"
    )
    io.write_table(narrow, ["align"], "t", mode="append")
    got = io.read_table(["align"], "t")
    assert got.count() == 11  # every file readable
    assert dict(got.dtypes)["amount"] == dict(wide.dtypes)["amount"]
    assert got.filter(F.col("id") == 100).collect()[0].amount is not None

    rogue = spark.createDataFrame([(1, 2)], "id long, nope long")
    with pytest.raises(ValueError, match="ADD COLUMN first"):
        io.write_table(rogue, ["align"], "t", mode="append")


# --- r16: EXPLAIN for DML reads (plan only, zero snapshots) -----------------


def _snapshots(io, ns, name):
    return len(io.client.load_table(ns, name)["metadata"].get("snapshots", []))


def test_explain_delete_emits_read_plan_without_commit(spark, io):
    io.sql("CREATE NAMESPACE IF NOT EXISTS expdml")
    io.sql("CREATE TABLE expdml.t AS "
           "SELECT CAST(id AS BIGINT) AS id, CAST(id % 3 AS INT) AS g "
           "FROM range(60)")
    before = _snapshots(io, ["expdml"], "t")
    [r] = io.sql("EXPLAIN DELETE FROM expdml.t WHERE id > 40").collect()
    plan = r["plan"]
    assert "DML Read Plan" in plan and '"operation": "delete"' in plan
    assert '"strategy": "copy-on-write"' in plan
    assert "no snapshot was created" in plan
    assert "FileScan parquet" in plan
    assert _snapshots(io, ["expdml"], "t") == before
    # the rows are all still there
    assert io.sql("SELECT COUNT(*) AS n FROM expdml.t").collect()[0]["n"] == 60


def test_explain_update_reports_mor_strategy(spark, io):
    io.sql("CREATE NAMESPACE IF NOT EXISTS expdml2")
    io.sql("CREATE TABLE expdml2.t AS "
           "SELECT CAST(id AS BIGINT) AS id FROM range(30)")
    io.sql("ALTER TABLE expdml2.t "
           "SET TBLPROPERTIES ('write.update.mode' = 'merge-on-read')")
    before = _snapshots(io, ["expdml2"], "t")
    [r] = io.sql(
        "EXPLAIN UPDATE expdml2.t SET id = id + 1 WHERE id < 5"
    ).collect()
    plan = r["plan"]
    assert '"operation": "update"' in plan
    assert '"strategy": "merge-on-read"' in plan
    assert "write.update.mode=merge-on-read" in plan
    assert _snapshots(io, ["expdml2"], "t") == before


def test_explain_merge_shows_match_keys(spark, io):
    io.sql("CREATE NAMESPACE IF NOT EXISTS expdml3")
    io.sql("CREATE TABLE expdml3.t AS "
           "SELECT CAST(id AS BIGINT) AS id, CAST(id AS DOUBLE) AS v "
           "FROM range(20)")
    before = _snapshots(io, ["expdml3"], "t")
    [r] = io.sql(
        "EXPLAIN MERGE INTO expdml3.t USING (SELECT 1 AS id, 2.0 AS v) s "
        "ON (id) WHEN MATCHED THEN UPDATE"
    ).collect()
    plan = r["plan"]
    assert '"operation": "merge"' in plan
    assert '"match": "ON (id)"' in plan
    assert _snapshots(io, ["expdml3"], "t") == before


def test_explain_ddl_still_fails_loudly(spark, io):
    with pytest.raises(ValueError, match="EXPLAIN supports"):
        io.sql("EXPLAIN DROP TABLE westeros.my_table")


# --- r16: SET surface for the session rewrite knobs -------------------------


def test_set_mv_rewrite_policy(spark, io):
    [r] = io.sql("SET mv_rewrite = 'topup'").collect()
    assert (r["key"], r["value"]) == ("mv_rewrite", "topup")
    assert io.mv_rewrite == "topup"
    # read-back shape (no value)
    [r] = io.sql("SET mv_rewrite").collect()
    assert r["value"] == "topup"
    io.sql("SET mv_rewrite = fresh-only")
    assert io.mv_rewrite == "fresh-only"
    with pytest.raises(ValueError, match="must be one of"):
        io.sql("SET mv_rewrite = bogus")


def test_set_staleness_bound(spark, io):
    io.sql("SET mv_rewrite_max_staleness_ms = 5000")
    assert io.mv_rewrite_max_staleness_ms == 5000
    io.sql("SET mv_rewrite_max_staleness_ms = NONE")
    assert io.mv_rewrite_max_staleness_ms is None
    with pytest.raises(ValueError, match="integer millisecond"):
        io.sql("SET mv_rewrite_max_staleness_ms = soon")


def test_explain_update_where_split_is_literal_aware(spark, io):
    # a SET value containing the text 'WHERE' must not truncate the
    # predicate — clause splitting is top-level-scan based
    io.sql("CREATE NAMESPACE IF NOT EXISTS expdml4")
    io.sql("CREATE TABLE expdml4.t AS "
           "SELECT CAST(id AS BIGINT) AS id, CAST('x' AS STRING) AS s "
           "FROM range(10)")
    [r] = io.sql(
        "EXPLAIN UPDATE expdml4.t SET s = 'WHERE id' WHERE id < 3"
    ).collect()
    plan = r["plan"]
    assert '"match": "id < 3"' in plan
    assert _snapshots(io, ["expdml4"], "t") == 1


# --- parser-driven resolution --------------------------------------------


@pytest.fixture(scope="module")
def orders(spark, io):
    io.write_table(spark.range(0, 100).select("id"), ["cte"], "orders", mode="overwrite")


def test_view_body_cte_shadows_table_name(spark, io, orders):
    """Inside its own definition a CTE named like a table reads the table;
    after it, the name is the CTE — never re-qualified to the table."""
    io.client.create_view(
        ["cte"], "first3",
        "WITH orders AS (SELECT id FROM orders WHERE id < 3) "
        "SELECT COUNT(*) AS n FROM orders",
    )
    assert io.sql("SELECT n FROM cte.first3").collect()[0]["n"] == 3


def test_backticked_table_name_resolves(spark, io, orders):
    out = io.sql("SELECT COUNT(*) AS n FROM `cte`.`orders`").collect()
    assert out[0]["n"] == 100


def test_tablesample_keeps_the_correlation_name(spark, io, orders):
    """An unaliased table under TABLESAMPLE is still addressable by its
    bare name: the alias goes after the sample clause, not before it."""
    rows = io.sql(
        "SELECT orders.id FROM cte.orders TABLESAMPLE (100 PERCENT)"
    ).collect()
    assert sorted(r["id"] for r in rows) == list(range(100))
    [r] = io.sql(
        "SELECT COUNT(orders.id) AS n FROM cte.orders TABLESAMPLE (5 ROWS)"
    ).collect()
    assert r["n"] == 5
    [r] = io.sql(
        "SELECT COUNT(*) AS n FROM cte.orders TABLESAMPLE (100 PERCENT) "
        "JOIN westeros.my_table ON orders.id = my_table.id"
    ).collect()
    assert r["n"] == 100


def test_table_query_with_limit_or_order_by(spark, io, orders):
    """The operand of a TABLE query takes no correlation name, whatever
    clause follows it."""
    assert io.sql("TABLE cte.orders LIMIT 2").count() == 2
    ordered = io.sql("TABLE cte.orders ORDER BY id DESC").collect()
    assert [r["id"] for r in ordered] == list(range(99, -1, -1))
    [r] = io.sql(
        "SELECT COUNT(*) AS n FROM (TABLE /* c */ cte.orders OFFSET 90) tail"
    ).collect()
    assert r["n"] == 10
    [r] = io.sql("WITH c AS (TABLE cte.orders) SELECT COUNT(*) AS n FROM c").collect()
    assert r["n"] == 100


def test_statement_requests_do_not_grow_with_catalog(spark, io, orders):
    """A SELECT looks up the names it uses, not the catalog: its request
    count is the same after 20 unrelated namespaces appear."""
    stmt = "SELECT COUNT(*) AS n FROM cte.orders"
    io.sql(stmt).collect()  # warm-up; MVs are found through the source
    calls = []
    request_h = io.client._request_h

    def counting(*args, **kwargs):
        calls.append(args[:2])
        return request_h(*args, **kwargs)

    io.client._request_h = counting
    try:
        io.sql(stmt).collect()
        before = list(calls)
        for i in range(20):
            io.client.create_namespace([f"unrelated{i:02d}"])
        calls.clear()
        io.sql(stmt).collect()
    finally:
        del io.client._request_h
    assert calls == before


# --- one front end: each statement parsed once, dispatched on its plan ------


@pytest.fixture(scope="module")
def probe(spark, io):
    """A fresh five-row table per call: probe.t<n>(id, k)."""
    made = []

    def make():
        name = f"t{len(made)}"
        io.write_table(
            spark.range(0, 5).select("id", (F.col("id") % 2).alias("k")),
            ["probe"], name, mode="overwrite",
        )
        made.append(name)
        return name

    return make


def _ids(io, name):
    return sorted(r["id"] for r in io.sql(f"SELECT id FROM probe.{name}").collect())


@pytest.mark.parametrize("stmt, added", [
    ("INSERT INTO `probe`.`{t}` SELECT id + 10, k FROM probe.{t} WHERE id < 2", [10, 11]),
    ("INSERT INTO probe.{t} (id, k) VALUES (20, 0), (21, 1)", [20, 21]),
    ("INSERT INTO probe.{t} (k, id) VALUES (1, 22)", [22]),
    ("/* c */ INSERT INTO probe.{t} VALUES (23, 1)", [23]),
    ("WITH x AS (SELECT 24 AS id, 0 AS k) INSERT INTO probe.{t} SELECT * FROM x", [24]),
    ("INSERT INTO PROBE.{T} VALUES (25, 1)", [25]),
])
def test_insert_forms_spark_parses(spark, io, probe, stmt, added):
    """Backticks, column lists, comments, WITH and case are Spark's to read:
    every form appends to the catalog table."""
    t = probe()
    out = io.sql(stmt.format(t=t, T=t.upper())).collect()[0]
    assert out["rows"] == len(added)
    assert _ids(io, t) == [0, 1, 2, 3, 4, *added]


def test_insert_column_list_fills_the_rest_with_null(spark, io, probe):
    t = probe()
    io.sql(f"INSERT INTO probe.{t} (id) VALUES (30)")
    [r] = io.sql(f"SELECT k FROM probe.{t} WHERE id = 30").collect()
    assert r["k"] is None


@pytest.mark.parametrize("stmt, check", [
    ("DELETE FROM `probe`.{t} WHERE id > 2",
     lambda io, t: _ids(io, t) == [0, 1, 2]),
    ("UPDATE `probe`.`{t}` SET k = 7 WHERE id = 0",
     lambda io, t: io.sql(f"SELECT k FROM probe.{t} WHERE id = 0").collect()[0]["k"] == 7),
    ("DROP TABLE `probe`.`{t}`",
     lambda io, t: not io.client.table_exists(["probe"], t)),
    ("ALTER TABLE `probe`.`{t}` SET TBLPROPERTIES ('x.y' = 'z')",
     lambda io, t: io.client.load_table(["probe"], t)["metadata"]["properties"]["x.y"] == "z"),
])
def test_backticked_targets(spark, io, probe, stmt, check):
    t = probe()
    io.sql(stmt.format(t=t)).collect()
    assert check(io, t)


def test_backticked_targets_describe_and_show_properties(spark, io, probe):
    t = probe()
    cols = [r["col_name"] for r in io.sql(f"DESCRIBE `probe`.`{t}`").collect()]
    assert cols == ["id", "k"]
    props = {r["key"] for r in io.sql(f"SHOW TBLPROPERTIES `probe`.`{t}`").collect()}
    assert "write.format.default" in props


@pytest.mark.parametrize("stmt", [
    "REFRESH MATERIALIZED VIEW a.mv",
    "DROP MATERIALIZED VIEW a.mv",
    "SHOW MATERIALIZED VIEWS",
    "ALTER TABLE a.t ADD PARTITION FIELD bucket(4, id)",
    "ALTER TABLE a.t DROP PARTITION FIELD k",
    "ALTER TABLE a.t REPLACE PARTITION FIELD k WITH id",
    "ALTER TABLE a.t CREATE BRANCH b",
    "ALTER TABLE a.t DROP TAG v1",
    "ALTER TABLE a.t WRITE ORDERED BY id",
    "MERGE INTO a.t USING a.s ON (k) WHEN MATCHED THEN UPDATE",
    "MERGE INTO a.t USING a.s ON (k) WHEN MATCHED THEN DELETE "
    "WHEN NOT MATCHED THEN INSERT",
    "CREATE TABLE a.t (id int) TBLPROPERTIES ('owner' = 'x')",
    "CREATE TABLE a.t TBLPROPERTIES ('location' = 'x') AS SELECT 1 AS id",
    "ALTER TABLE a.t SET TBLPROPERTIES ('provider' = 'x')",
])
def test_keyword_matched_forms_are_ones_spark_refuses(spark, stmt):
    """Every keyword-matched family in the SQL front end exists because
    Spark's parser refuses the form. When an upgrade starts parsing one,
    this fails: route that form by its plan and drop its keyword match."""
    from pyspark.errors import ParseException

    from denali_spark.sources.sql_frontend import parse_plan

    with pytest.raises(ParseException):
        parse_plan(spark, stmt)


@pytest.mark.parametrize("stmt", [
    "SELECT k, COUNT(*) AS n FROM probe.{t} GROUP BY k",
    "INSERT INTO probe.{t} VALUES (40, 0), (41, 1)",
    "EXPLAIN DELETE FROM probe.{t} WHERE id = 1",
])
def test_each_statement_is_parsed_once(spark, io, probe, monkeypatch, stmt):
    """The front end parses a statement once; the only other parse is the
    final spark.sql."""
    from denali_spark.sources import sql_frontend

    t = probe()
    calls = []
    parse = sql_frontend.parse_plan
    monkeypatch.setattr(
        sql_frontend, "parse_plan", lambda s, text: calls.append(text) or parse(s, text)
    )
    io.sql(stmt.format(t=t)).collect()
    assert len(calls) == 1


def _requests(io, fn):
    calls = []
    request_h = io.client._request_h

    def counting(*args, **kwargs):
        calls.append(args[:2])
        return request_h(*args, **kwargs)

    io.client._request_h = counting
    try:
        fn()
    finally:
        del io.client._request_h
    return calls


def test_rollup_select_loads_its_source_once(spark, io, probe):
    """The MV-rewrite pass hands the source metadata it loaded to the
    resolver: a rollup-shaped SELECT over a table with no MVs costs one
    loadTable."""
    t = probe()
    calls = _requests(
        io, lambda: io.sql(f"SELECT k, COUNT(*) AS n FROM probe.{t} GROUP BY k").collect()
    )
    assert calls == [("GET", f"/v1/namespaces/probe/tables/{t}")]


def test_insert_values_sends_two_catalog_requests(spark, io, probe):
    """One load of the target (a 404 is the unknown-table error), whose
    metadata write_table reuses, then the commit; the summary comes from
    the commit's metadata."""
    t = probe()
    calls = _requests(io, lambda: io.sql(f"INSERT INTO probe.{t} VALUES (50, 0)").collect())
    assert [m for m, _path in calls] == ["GET", "POST"]
    with pytest.raises(ValueError, match="unknown table"):
        io.sql("INSERT INTO probe.nope VALUES (1, 1)")
