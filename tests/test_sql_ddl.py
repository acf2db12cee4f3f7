"""SQL DDL surface (sql_ddl.execute_ddl): CREATE TABLE / CTAS /
ALTER TABLE / DROP TABLE / SHOW / DESCRIBE statement strings over an
explicit {name: Table} catalog.

Pins the parser contract (clause order freedom, required structural
TBLPROPERTIES, IF NOT EXISTS semantics, structural-property immutability),
the metadata-only ADD COLUMNS evolution (old files null-surface, time
travel predates the column), and the catalog mutations (CREATE adds,
DROP removes — PURGE deletes files, RENAME rekeys)."""

from __future__ import annotations

import os

import pytest

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
    execute_ddl,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_dml import (
    execute,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
)

PROPS = "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver')"


@pytest.fixture
def cat():
    return {}


def _create(spark, cat, base, name="t", extra="", props=PROPS):
    return execute_ddl(
        spark,
        f"CREATE TABLE {name} (id bigint, ver bigint, amt double) "
        f"USING engine {extra} {props} LOCATION '{base}/{name}'",
        cat,
    )


def _rows(spark, n=5, ver=1, amt0=0.0):
    return spark.createDataFrame(
        [(i, ver, amt0 + i) for i in range(n)],
        "id long, ver long, amt double",
    )


# -- CREATE TABLE --------------------------------------------------------


def test_create_and_insert(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    assert cat["t"] is t
    assert (t.key, t.precombine, t.table_type) == ("id", "ver", "cow")
    # positional INSERT maps onto the DECLARED schema (no commits yet)
    execute(spark, "INSERT INTO t VALUES (1, 1, 10.0), (2, 1, 20.0)", cat)
    assert t.snapshot().count() == 2


def test_create_requires_structural_props(spark, cat, tmp_path):
    with pytest.raises(ValueError, match="primaryKey"):
        execute_ddl(
            spark,
            f"CREATE TABLE t (id bigint) USING engine LOCATION '{tmp_path}/t'",
            cat,
        )
    with pytest.raises(ValueError, match="USING"):
        execute_ddl(
            spark, f"CREATE TABLE t (id bigint) LOCATION '{tmp_path}/t'", cat
        )
    # declared columns must include the structural columns
    with pytest.raises(ValueError, match="structural"):
        execute_ddl(
            spark,
            f"CREATE TABLE t (a bigint) USING engine {PROPS} "
            f"LOCATION '{tmp_path}/t'",
            cat,
        )
    assert not cat and not os.path.exists(tmp_path / "t")


def test_create_duplicate_and_if_not_exists(spark, cat, tmp_path):
    _create(spark, cat, tmp_path)
    with pytest.raises(ValueError, match="already exists"):
        _create(spark, cat, tmp_path)
    again = execute_ddl(
        spark,
        f"CREATE TABLE IF NOT EXISTS t (id bigint, ver bigint, amt double) "
        f"USING engine {PROPS} LOCATION '{tmp_path}/t'",
        cat,
    )
    assert again is cat["t"]


def test_create_if_not_exists_attaches_preexisting_files(
    spark, cat, tmp_path
):
    old = Table.create(
        spark, str(tmp_path / "t"), key="id", precombine="ver",
        table_name="t",
    )
    old.bulk_insert(_rows(spark, 3))
    # CTAS under IF NOT EXISTS must NOT re-run the query — it attaches
    t = execute_ddl(
        spark,
        f"CREATE TABLE IF NOT EXISTS t USING engine {PROPS} "
        f"LOCATION '{tmp_path}/t' AS SELECT * FROM range(100)",
        cat,
    )
    assert t.snapshot().count() == 3


def test_create_mor_and_properties(spark, cat, tmp_path):
    t = _create(
        spark, cat, tmp_path,
        props="TBLPROPERTIES (primaryKey='id', preCombineField='ver', "
        "type='mor', maxRecordsPerFile=2, owner='data-eng')",
    )
    assert t.table_type == "mor"
    assert t.meta["max_records_per_file"] == 2
    assert t.meta["tblproperties"] == {"owner": "data-eng"}
    # survives a fresh load
    assert Table.load(spark, t.path).meta["tblproperties"] == {
        "owner": "data-eng"
    }


def test_create_partitioned_any_clause_order(spark, cat, tmp_path):
    t = execute_ddl(
        spark,
        f"CREATE TABLE t (id bigint, ver bigint, region string) "
        f"USING engine LOCATION '{tmp_path}/t' {PROPS} "
        f"PARTITIONED BY (region)",
        cat,
    )
    assert t.meta["partition_fields"] == ["region"]
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "eu"), (2, 1, "us")], "id long, ver long, region string"
        )
    )
    files = [e["path"] for e in t.current_files()]
    assert any("region=eu" in p for p in files)


def test_ctas(spark, cat, tmp_path):
    spark.range(10).selectExpr(
        "id", "1 as ver", "cast(id * 1.5 as double) as amt"
    ).createOrReplaceTempView("ctas_src")
    t = execute_ddl(
        spark,
        f"CREATE TABLE t USING engine {PROPS} LOCATION '{tmp_path}/t' "
        "AS SELECT * FROM ctas_src WHERE id < 7",
        cat,
    )
    assert t.snapshot().count() == 7
    with pytest.raises(ValueError, match="drop the.*column list"):
        execute_ddl(
            spark,
            f"CREATE TABLE u (id bigint) USING engine {PROPS} "
            f"LOCATION '{tmp_path}/u' AS SELECT * FROM ctas_src",
            cat,
        )
    with pytest.raises(ValueError, match="structural column"):
        execute_ddl(
            spark,
            f"CREATE TABLE u USING engine {PROPS} LOCATION '{tmp_path}/u' "
            "AS SELECT id FROM ctas_src",
            cat,
        )


def test_create_no_location_needs_base_dir(spark, cat, tmp_path):
    with pytest.raises(ValueError, match="LOCATION"):
        execute_ddl(
            spark,
            f"CREATE TABLE t (id bigint, ver bigint) USING engine {PROPS}",
            cat,
        )
    t = execute_ddl(
        spark,
        f"CREATE TABLE t (id bigint, ver bigint) USING engine {PROPS}",
        cat,
        base_dir=str(tmp_path),
    )
    assert t.path == str(tmp_path / "t")


# -- ALTER TABLE ---------------------------------------------------------


def test_add_columns_metadata_only(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 3))
    before = [e["path"] for e in t.current_files()]
    c = execute_ddl(
        spark, "ALTER TABLE t ADD COLUMNS (flag string, score double)", cat
    )
    assert isinstance(c, str)
    # no data rewritten; old rows null-surface the new columns
    assert [e["path"] for e in t.current_files()] == before
    snap = t.snapshot()
    assert {"flag", "score"} <= set(snap.columns)
    assert snap.where("flag IS NULL AND score IS NULL").count() == 3
    # time travel to before the ALTER doesn't see the columns
    assert "flag" not in t.snapshot(as_of="00000000000000000001").columns
    # a later write fills them
    t.upsert(
        spark.createDataFrame(
            [(0, 2, 9.9, "hot", 0.5)],
            "id long, ver long, amt double, flag string, score double",
        )
    )
    assert t.snapshot().where("flag = 'hot'").count() == 1


def test_add_columns_rejects_duplicates_and_empty(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    with pytest.raises(ValueError, match="no commits"):
        execute_ddl(spark, "ALTER TABLE t ADD COLUMNS (x int)", cat)
    t.bulk_insert(_rows(spark, 1))
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, "ALTER TABLE t ADD COLUMNS (amt double)", cat)
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, "ALTER TABLE t ADD COLUMNS (x int, x int)", cat)
    with pytest.raises(ValueError, match="cannot parse column type"):
        execute_ddl(spark, "ALTER TABLE t ADD COLUMNS (x nosuchtype)", cat)


def test_drop_column_route(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 2))
    execute_ddl(spark, "ALTER TABLE t DROP COLUMN amt", cat)
    assert "amt" not in t.snapshot().columns


def test_set_tblproperties(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    assert (
        execute_ddl(
            spark,
            "ALTER TABLE t SET TBLPROPERTIES (maxRecordsPerFile = 7, "
            "owner = 'x')",
            cat,
        )
        is None
    )
    assert t.meta["max_records_per_file"] == 7
    assert Table.load(spark, t.path).meta["tblproperties"] == {"owner": "x"}
    for k in ("primaryKey", "preCombineField", "type"):
        with pytest.raises(ValueError, match="structural"):
            execute_ddl(
                spark, f"ALTER TABLE t SET TBLPROPERTIES ({k} = 'z')", cat
            )


def test_rename(spark, cat, tmp_path):
    _create(spark, cat, tmp_path)
    execute_ddl(spark, "ALTER TABLE t RENAME TO t2", cat)
    assert sorted(cat) == ["t2"]
    assert cat["t2"].meta["table_name"] == "t2"
    _create(spark, cat, tmp_path, name="t3")
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, "ALTER TABLE t3 RENAME TO t2", cat)


# -- DROP TABLE ----------------------------------------------------------


def test_drop_table(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 2))
    execute_ddl(spark, "DROP TABLE t", cat)
    assert not cat
    # files untouched without PURGE — reattachable
    assert Table.load(spark, t.path).snapshot().count() == 2
    with pytest.raises(ValueError, match="unknown table"):
        execute_ddl(spark, "DROP TABLE t", cat)
    assert execute_ddl(spark, "DROP TABLE IF EXISTS t", cat) is None


def test_drop_table_purge(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 2))
    execute_ddl(spark, "DROP TABLE t PURGE", cat)
    remaining = [
        os.path.join(r, f) for r, _d, fs in os.walk(t.path) for f in fs
    ]
    assert remaining == []


# -- SHOW / DESCRIBE -----------------------------------------------------


def test_show_tables_and_describe(spark, cat, tmp_path):
    assert execute_ddl(spark, "SHOW TABLES", cat).count() == 0
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 1))
    rows = execute_ddl(spark, "SHOW TABLES", cat).collect()
    assert [(r.tableName, r.type) for r in rows] == [("t", "cow")]
    d = execute_ddl(spark, "DESC t", cat).collect()
    assert [(r.col_name, r.data_type) for r in d[:3]] == [
        ("id", "bigint"), ("ver", "bigint"), ("amt", "double"),
    ]
    ext = execute_ddl(spark, "DESCRIBE EXTENDED t", cat).collect()
    info = {r.col_name: r.data_type for r in ext}
    assert info["Primary Key"] == "id"
    assert info["Location"] == t.path


def test_show_create_table_round_trips(spark, cat, tmp_path):
    t = _create(
        spark, cat, tmp_path,
        props="TBLPROPERTIES (primaryKey='id', preCombineField='ver', "
        "type='mor', owner='data-eng')",
    )
    t.bulk_insert(_rows(spark, 2))
    stmt = execute_ddl(spark, "SHOW CREATE TABLE t", cat).collect()[0][0]
    # re-executing the emitted DDL at a fresh location reproduces the
    # table shape
    stmt2 = stmt.replace(t.path, str(tmp_path / "copy")).replace(
        "`t`", "t_copy"
    )
    t2 = execute_ddl(spark, stmt2, cat)
    assert (t2.key, t2.precombine, t2.table_type) == ("id", "ver", "mor")
    assert t2.meta["tblproperties"] == {"owner": "data-eng"}
    d1 = [r for r in execute_ddl(spark, "DESC t", cat).collect()]
    d2 = [r for r in execute_ddl(spark, "DESC t_copy", cat).collect()]
    # declared schema of the copy matches the live schema of the source
    assert [tuple(r) for r in d1] == [tuple(r) for r in d2]


def test_describe_empty_table_uses_declared_schema(spark, cat, tmp_path):
    _create(spark, cat, tmp_path)
    d = execute_ddl(spark, "DESCRIBE t", cat).collect()
    assert [r.col_name for r in d] == ["id", "ver", "amt"]


def test_truncate_table(spark, cat, tmp_path):
    t = _create(spark, cat, tmp_path)
    t.bulk_insert(_rows(spark, 4))
    c = execute_ddl(spark, "TRUNCATE TABLE t", cat)
    assert isinstance(c, str)
    assert t.snapshot().count() == 0
    assert t.snapshot().columns  # schema survives the truncate
    # manifest-only: pre-truncate commits still time-travel
    assert t.snapshot(as_of="00000000000000000001").count() == 4
    # and the table accepts new writes
    t.upsert(_rows(spark, 2, ver=2))
    assert t.snapshot().count() == 2


def test_unknown_statements_raise(spark, cat, tmp_path):
    _create(spark, cat, tmp_path)
    with pytest.raises(ValueError, match="unsupported ALTER"):
        execute_ddl(spark, "ALTER TABLE t ZORDER BY id", cat)
    with pytest.raises(ValueError, match="unsupported DDL"):
        execute_ddl(spark, "ANALYZE TABLE t COMPUTE STATISTICS", cat)
    with pytest.raises(ValueError, match="unknown table"):
        execute_ddl(spark, "DESCRIBE missing", cat)


def test_show_partitions(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
    )

    t = Table.create(
        spark, str(tmp_path / "sp"), key="k", precombine="v",
        partition_fields=["p"], table_name="sp",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, None)], "k int, v int, p string"
        )
    )
    cat = {"sp": t}
    got = sorted(
        r.partition
        for r in execute_ddl(spark, "SHOW PARTITIONS sp", cat).collect()
    )
    # null partition value renders as the hive default sentinel
    assert got == ["p=__HIVE_DEFAULT_PARTITION__", "p=a", "p=b"]
    # a partition emptied by overwrite drops out (manifest-only read)
    t.insert_overwrite(
        spark.createDataFrame([(9, 2, "a", )], "k int, v int, p string"),
        dynamic=False,
    )
    got = sorted(
        r.partition
        for r in execute_ddl(spark, "SHOW PARTITIONS sp", cat).collect()
    )
    assert got == ["p=a"]
    # unpartitioned table raises
    u = Table.create(
        spark, str(tmp_path / "up"), key="k", precombine="v", table_name="up"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not partitioned"):
        execute_ddl(spark, "SHOW PARTITIONS up", {"up": u})


def test_create_index_statements(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
    )
    from pyspark.sql import functions as F

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    t = Table.create(
        spark, str(tmp_path / "ci"), key="o_orderkey",
        precombine="o_orderdate", table_name="ci", max_records_per_file=300,
    )
    t.bulk_insert(orders.repartitionByRange(4, F.col("o_orderdate")))
    cat = {"ci": t}
    # all three kinds build and return the as-of commit (record and
    # secondary indexes carry canonical names — see the raise tests)
    c1 = execute_ddl(
        spark, "CREATE INDEX record_index ON ci USING record_index()", cat
    )
    c2 = execute_ddl(
        spark,
        "CREATE INDEX o_orderstatus ON TABLE ci "
        "USING secondary_index(o_orderstatus)",
        cat,
    )
    c3 = execute_ddl(
        spark,
        "CREATE INDEX oy ON ci USING expression_index(year(o_orderdate))",
        cat,
    )
    assert c1 == c2 == c3 == t.latest_commit()
    # the expression index registered under the DECLARED name and prunes
    assert any(
        m["name"] == "oy" for m in t._file_indexes("expression")
    )
    pruned = t.read_where("year(o_orderdate) = 1996")
    assert pruned.count() == t.snapshot().where(
        "year(o_orderdate) = 1996"
    ).count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown index kind"):
        execute_ddl(spark, "CREATE INDEX x ON ci USING bloom(o_orderkey)", cat)
    with _pytest.raises(ValueError, match="no arguments"):
        execute_ddl(spark, "CREATE INDEX x ON ci USING record_index(k)", cat)
    with _pytest.raises(ValueError, match="one column name"):
        execute_ddl(
            spark, "CREATE INDEX x ON ci USING secondary_index(a+b)", cat
        )
    # canonical-name enforcement: a divergent declared name would make
    # the symmetric DROP INDEX <name> unresolvable
    with _pytest.raises(ValueError, match="named by its column"):
        execute_ddl(
            spark, "CREATE INDEX st ON ci USING secondary_index(o_orderstatus)", cat
        )
    with _pytest.raises(ValueError, match="name is canonical"):
        execute_ddl(spark, "CREATE INDEX ri ON ci USING record_index()", cat)


def test_drop_index_statement(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
    )
    import pytest as _pytest

    t = Table.create(
        spark, str(tmp_path / "di"), key="k", precombine="v", table_name="di"
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "k int, v int, s string"))
    cat = {"di": t}
    execute_ddl(spark, "CREATE INDEX s ON di USING secondary_index(s)", cat)
    execute_ddl(
        spark, "CREATE INDEX ky ON di USING expression_index(upper(s))", cat
    )
    assert execute_ddl(spark, "DROP INDEX ky ON di", cat) is None
    assert t._file_indexes("expression") == []
    # secondary index drops by its COLUMN name
    assert execute_ddl(spark, "DROP INDEX s ON di", cat) is None
    with _pytest.raises(ValueError, match="no index"):
        execute_ddl(spark, "DROP INDEX nope ON di", cat)


def test_drop_index_crash_leaves_no_index(spark, tmp_path, monkeypatch):
    """DROP INDEX removes the meta before the payload: a crash after the
    first delete leaves no index, never a meta over a partial payload
    (which pruned away files holding keys, so an upsert duplicated
    them). The vacuum then reclaims the meta-less payload."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = Table.create(spark, str(tmp_path / "rt"), key="id", precombine="ver")
    # hash-partitioned like the index payload: each of the 8 data files
    # holds the keys of one payload file
    t.bulk_insert(
        spark.range(0, 4000).repartition(8, "id")
        .selectExpr("id", "1L AS ver", "'v' AS s")
    )
    assert len(t.current_files()) == 8
    TableServices(t).build_record_index()
    cat = {"rt": t}
    real_delete = t.fs.delete
    calls = []

    def crash_after_first(path):
        if calls:
            raise OSError("crash mid-DROP")
        calls.append(path)
        real_delete(path)

    monkeypatch.setattr(t.fs, "delete", crash_after_first)
    with pytest.raises(OSError, match="crash mid-DROP"):
        execute_ddl(spark, "DROP INDEX record_index ON rt", cat)
    monkeypatch.setattr(t.fs, "delete", real_delete)
    t.upsert(spark.range(0, 4000).selectExpr("id", "2L AS ver", "'u' AS s"))
    snap = t.snapshot()
    assert snap.count() == 4000
    assert snap.select("id").distinct().count() == 4000
    assert snap.where("s = 'u'").count() == 4000
    idx_dir = t._index_paths("record")[0]
    assert t.fs.list(idx_dir)
    swept = TableServices(t).vacuum_orphan_indexes(older_than_seconds=0)
    assert swept and all(p.startswith(idx_dir) for p in swept)
    assert not t.fs.list(idx_dir)


def test_drop_index_removes_auto_index_spec(spark, tmp_path):
    """DROP INDEX also drops the auto_index spec that maintains the
    index; otherwise the next write rebuilds it from scratch."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
    )

    t = Table.create(
        spark, str(tmp_path / "ai"), key="id", precombine="ver",
        auto_index=["secondary_index(s)", "record_index"],
    )
    cat = {"ai": t}

    def upsert(ver):
        t.upsert(
            spark.range(0, 20).selectExpr("id", f"{ver}L AS ver", "'v' AS s")
        )

    def shown():
        return sorted(
            tuple(r) for r in execute_ddl(spark, "SHOW INDEXES ai", cat)
            .collect()
        )

    upsert(1)
    assert shown() == [
        ("record_index", "record", "id"), ("s", "secondary", "s"),
    ]
    execute_ddl(spark, "DROP INDEX s ON ai", cat)
    assert t.meta["auto_index"] == ["record_index"]
    execute_ddl(spark, "DROP INDEX record_index ON ai", cat)
    assert not t.meta.get("auto_index")
    upsert(2)
    assert shown() == []
    assert t.snapshot().where("ver = 2").count() == 20


def test_expression_index_on_empty_table_state_is_harmless(spark, tmp_path):
    """Building an expression index while the table has zero live files
    (post-TRUNCATE) writes meta with no parquet; later reads must fall
    through unpruned, not crash on the missing index directory."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
    )

    t = Table.create(
        spark, str(tmp_path / "ei"), key="k", precombine="v", table_name="ei"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "2024-03-01")], "k int, v int, d string"
        ).selectExpr("k", "v", "CAST(d AS timestamp) AS d")
    )
    cat = {"ei": t}
    execute_ddl(spark, "TRUNCATE TABLE ei", cat)
    execute_ddl(
        spark, "CREATE INDEX yd ON ei USING expression_index(year(d))", cat
    )
    # new rows after the empty-state build: uncovered → exact results
    t.upsert(
        spark.createDataFrame(
            [(2, 1, "2023-05-01")], "k int, v int, d string"
        ).selectExpr("k", "v", "CAST(d AS timestamp) AS d")
    )
    assert t.read_where("year(d) = 2023").count() == 1


# -- ALTER TABLE ... DROP PARTITION --------------------------------------


def _create_partitioned(spark, cat, base):
    execute_ddl(
        spark,
        f"CREATE TABLE pt (id bigint, ver bigint, grp string) USING engine "
        f"PARTITIONED BY (grp) "
        f"TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver') "
        f"LOCATION '{base}/pt'",
        cat,
    )
    t = cat["pt"]
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"g{i % 3}") for i in range(30)],
            "id long, ver long, grp string",
        )
    )
    return t


def test_drop_partition_manifest_only(spark, cat, tmp_path):
    t = _create_partitioned(spark, cat, tmp_path)
    first = t.commits()[0]
    files_before = {e["path"] for e in t.current_files()}
    c = execute_ddl(spark, "ALTER TABLE pt DROP PARTITION (grp = 'g1')", cat)
    # one commit, zero files added — pure manifest surgery
    man = t._manifest(c)
    assert man["action"] == "delete_partition" and man["files_added"] == []
    assert set(man["files_removed"]) <= files_before
    snap = t.snapshot()
    assert snap.count() == 20 and snap.where("grp = 'g1'").count() == 0
    # data files untouched on disk: time travel still reads them
    assert t.snapshot(as_of=first).count() == 30


def test_drop_partition_if_exists_and_missing(spark, cat, tmp_path):
    _create_partitioned(spark, cat, tmp_path)
    assert (
        execute_ddl(
            spark, "ALTER TABLE pt DROP IF EXISTS PARTITION (grp = 'zz')", cat
        )
        is None
    )
    with pytest.raises(ValueError, match="no live partition"):
        execute_ddl(spark, "ALTER TABLE pt DROP PARTITION (grp = 'zz')", cat)


def test_drop_partition_typed_codec(spark, cat, tmp_path):
    # int literal against a double partition column must match the
    # writer's '5.0' directory form (same codec as static overwrite)
    execute_ddl(
        spark,
        f"CREATE TABLE dt (id bigint, ver bigint, bucket double) USING engine "
        f"PARTITIONED BY (bucket) "
        f"TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver') "
        f"LOCATION '{tmp_path}/dt'",
        cat,
    )
    t = cat["dt"]
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, float(i % 2) + 4.0) for i in range(10)],
            "id long, ver long, bucket double",
        )
    )
    execute_ddl(spark, "ALTER TABLE dt DROP PARTITION (bucket = 5)", cat)
    snap = t.snapshot()
    assert snap.where("bucket = 5.0").count() == 0
    assert snap.count() == 5


def test_drop_partition_rejects_partial_and_unpartitioned(
    spark, cat, tmp_path
):
    _create_partitioned(spark, cat, tmp_path)
    _create(spark, cat, tmp_path, name="flat")
    with pytest.raises(ValueError, match="unpartitioned|not partitioned"):
        execute_ddl(spark, "ALTER TABLE flat DROP PARTITION (grp = 'x')", cat)
    with pytest.raises(ValueError, match="exactly"):
        execute_ddl(spark, "ALTER TABLE pt DROP PARTITION (other = 'x')", cat)
