"""RENAME COLUMN (metadata-only schema evolution, round 11) + the
streaming batch-id replay guard + history_df commit-outcome columns.

The rename design is the Iceberg-field-id shape re-expressed over the
engine's manifest timeline: the rename commit publishes a cumulative
``field_ids`` map in which the new name keeps the old name's stable id,
and every read resolves each file's PHYSICAL column names through its
commit vintage (scan under the old name, alias back) — zero files
touched, time travel exact, restore-safe. Reference parity: the
reference delegates schema evolution to the Hudi bundle
(``create_hudi_tables.py`` write configs); this is the engine-native
analog of Hudi 1.0 / Spark ``ALTER TABLE .. RENAME COLUMN``.
"""

from __future__ import annotations

import pytest

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    META_COL,
    Table,
    TableServices,
)


def rows_of(df, *cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


@pytest.fixture()
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def make_table(spark, path, **kw):
    return Table.create(
        spark, path, key="id", precombine="ver", table_name="t", **kw
    )


def df_of(spark, rows, schema="id long, ver long, amt double, tag string"):
    return spark.createDataFrame(rows, schema)


# -- rename core -------------------------------------------------------


def test_rename_is_metadata_only(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    before = {e["path"] for e in t.current_files()}
    c = t.alter_rename_column("amt", "amount")
    assert {e["path"] for e in t.current_files()} == before
    m = t._manifest(c)
    assert m["action"] == "alter_rename_column"
    assert not m["files_added"] and not m["files_removed"]
    # the rename commit carries the identity-preserving field-id map
    assert m["field_ids"]["amount"] == "amt"


def test_rename_preserves_old_file_values(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    snap = t.snapshot().drop(META_COL)
    assert snap.columns == ["id", "ver", "amount", "tag"]
    assert rows_of(snap, "id", "amount") == [(1, 10.0), (2, 20.0)]


def test_rename_mixed_vintages(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(2, 2, 99.0, "b2"), (3, 1, 30.0, "c")],
            "id long, ver long, amount double, tag string",
        )
    )
    assert rows_of(t.snapshot(), "id", "amount", "tag") == [
        (1, 10.0, "a"),
        (2, 99.0, "b2"),
        (3, 30.0, "c"),
    ]


def test_rename_time_travel_sees_old_name(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    old = t.snapshot(as_of=c1)
    assert "amt" in old.columns and "amount" not in old.columns
    assert rows_of(old, "id", "amt") == [(1, 10.0)]


def test_rename_old_name_unresolvable(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    with pytest.raises(Exception, match="amt"):
        t.snapshot().select("amt").collect()


def test_rename_read_where_and_filters(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(3, 1, 30.0, "c")],
            "id long, ver long, amount double, tag string",
        )
    )
    # predicate on the NEW name across both vintages; old files' stats
    # still carry 'amt' → no stats for 'amount' → conservatively kept,
    # exactness comes from the post-scan predicate
    assert rows_of(
        t.read_where("amount > 15"), "id", "amount"
    ) == [(2, 20.0), (3, 30.0)]
    assert rows_of(
        t.snapshot(filters={"amount": (15.0, 25.0)}).where(
            "amount BETWEEN 15 AND 25"
        ),
        "id",
    ) == [(2,)]


def test_rename_restore_across(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        )
    )
    t.restore(c1)
    snap = t.snapshot()
    assert "amt" in snap.columns
    assert rows_of(snap, "id", "amt") == [(1, 10.0)]
    # writes after the restore publish under the restored (old) name
    t.upsert(df_of(spark, [(3, 1, 30.0, "c")]))
    assert rows_of(t.snapshot(), "id", "amt") == [(1, 10.0), (3, 30.0)]


def test_rename_refusals(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    with pytest.raises(ValueError, match="structural"):
        t.alter_rename_column("id", "key2")
    with pytest.raises(ValueError, match="structural"):
        t.alter_rename_column("ver", "version")
    with pytest.raises(ValueError, match="no such column"):
        t.alter_rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.alter_rename_column("amt", "tag")
    with pytest.raises(ValueError, match="invalid column name"):
        t.alter_rename_column("amt", "bad name")


def test_rename_migrates_secondary_index(spark, tpath):
    """r12 verdict item 5 (lifting the fail-closed refusal): renaming
    an index-covered column relocates the (name-keyed, name-
    independent) payload under the new name in the same operation —
    pruning stays exact through the rename, no manual drop/rebuild."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    TableServices(t).build_secondary_index("tag")
    t.alter_rename_column("tag", "label")
    # old-name sidecars are gone, new-name meta carries the new column
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        read_json,
    )

    assert not t.fs.exists(t._index_paths("secondary", "tag")[1])
    ndir, nmeta = t._index_paths("secondary", "label")
    assert read_json(nmeta)["column"] == "label"
    # pruning under the NEW name is exact: only the 'a'-containing
    # file survives the index prune
    pruned = t._prune_by_secondary_index(t.current_files(), "label", "a")
    assert len(pruned) < len(t.current_files())
    assert rows_of(
        t.snapshot(filters={"label": "a"}).where("label = 'a'"), "id"
    ) == [(1,)]
    # incremental extension keeps working against the migrated meta
    t.insert(
        df_of(
            spark,
            [(3, 1, 30.0, "c")],
            "id long, ver long, amt double, label string",
        ),
        dedup_batch=False,
    )
    TableServices(t).build_secondary_index("label", incremental=True)
    assert rows_of(
        t.snapshot(filters={"label": "c"}).where("label = 'c'"), "id"
    ) == [(3,)]


def test_rename_migrates_expression_index(spark, tpath):
    """Expression indexes are keyed by their own NAME; rename rewrites
    the stored expression text (identifier substitution), payload
    untouched. Literal-bearing exprs rewrite quote-aware (r14, lifting
    the r13 refusal): only the reference renames, never the literal."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    TableServices(t).build_expression_index("upper(tag)", name="utag")
    t.alter_rename_column("tag", "label")
    metas = t._file_indexes("expression")
    assert [m["expr"] for m in metas] == ["upper(label)"]
    pruned = t._prune_by_expression_index(
        t.current_files(), "upper(label) = 'A'"
    )
    assert len(pruned) < len(t.current_files())
    # literal-bearing expr: the identifier renames, the literal (which
    # is the same word) survives untouched, and pruning stays exact
    TableServices(t).build_expression_index(
        "concat(label, 'label')", name="lit"
    )
    t.alter_rename_column("label", "tag2")
    metas = {m["name"]: m["expr"] for m in t._file_indexes("expression")}
    assert metas["lit"] == "concat(tag2, 'label')"
    assert metas["utag"] == "upper(tag2)"
    pruned = t._prune_by_expression_index(
        t.current_files(), "concat(tag2, 'label') = 'alabel'"
    )
    assert len(pruned) < len(t.current_files())
    assert rows_of(
        t.snapshot().where("concat(tag2, 'label') = 'alabel'"), "id"
    ) == [(1,)]


def test_rename_partitioned_non_partition_col(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "p"),
        key="id",
        precombine="ver",
        table_name="p",
        partition_fields=["tag"],
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "x"), (2, 1, 20.0, "y")]))
    with pytest.raises(ValueError, match="structural"):
        t.alter_rename_column("tag", "part")
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(3, 1, 30.0, "x")],
            "id long, ver long, amount double, tag string",
        )
    )
    assert rows_of(t.snapshot(), "id", "amount", "tag") == [
        (1, 10.0, "x"),
        (2, 20.0, "y"),
        (3, 30.0, "x"),
    ]
    # partition pruning still exact on the (unrenamed) partition column
    assert rows_of(t.snapshot(filters={"tag": "x"}).where("tag = 'x'"), "id") == [
        (1,),
        (3,),
    ]


def test_rename_mor_with_deltas(spark, tpath):
    t = make_table(spark, tpath, table_type="mor")
    t.upsert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(2, 2, 99.0, "b2")],
            "id long, ver long, amount double, tag string",
        )
    )
    t.delete(spark.createDataFrame([(1,)], "id long"))
    assert rows_of(t.snapshot(), "id", "amount", "tag") == [(2, 99.0, "b2")]


def test_rename_then_readd_does_not_resurrect(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.alter_add_columns([("amt", "double")])  # NEW column, old name
    snap = t.snapshot()
    r = snap.collect()[0]
    # old bytes live under 'amount'; the re-added 'amt' is null — the
    # physical 'amt' bytes in the pre-rename file must NOT leak back
    assert r["amount"] == 10.0 and r["amt"] is None


def test_rename_compaction_migrates_physical_names(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    TableServices(t).compact()
    assert rows_of(t.snapshot(), "id", "amount") == [(1, 10.0), (2, 20.0)]
    # post-compaction every live file carries 'amount': the stream is
    # the plain single-source plan again (no vintage union branches)
    assert "Union" not in t.read_stream()._jdf.queryExecution().logical().toString()


def test_rename_stream_across_vintages(spark, tpath, tmp_path):
    """r11 verdict item 6: read_stream on a renamed UNPARTITIONED table
    whose live files predate the rename now streams — pre-rename files
    scan under the physical name and alias back; post-rename commits
    flow through the open glob; values arrive intact under the CURRENT
    name (no typed-null leak from the stale vintage)."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    t.insert(
        df_of(
            spark,
            [(3, 1, 30.0, "c")],
            "id long, ver long, amount double, tag string",
        ),
        dedup_batch=False,
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("rn_stream_v")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(spark.table("rn_stream_v"), "id", "amount", "tag")
        assert got == [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")]
        # new commits after stream start flow through the open glob
        t.insert(
            df_of(
                spark,
                [(4, 1, 40.0, "d")],
                "id long, ver long, amount double, tag string",
            ),
            dedup_batch=False,
        )
        q.processAllAvailable()
        got = rows_of(spark.table("rn_stream_v"), "id", "amount", "tag")
        assert got[-1] == (4, 40.0, "d") and len(got) == 4
    finally:
        q.stop()


def test_rename_stream_table_rooted_under_data_dir(spark, tmp_path):
    """r12 review: the stale-dir exclusion matched the FIRST '/data/'
    in the file path, so a table whose own root contains a 'data'
    segment never excluded stale commit dirs from the open-glob stream
    — pre-rename files were read twice (once aliased correctly, once
    under the current schema as a typed-null phantom row). The vintage
    is now the file's parent directory name."""
    t = Table.create(
        spark, str(tmp_path / "data" / "tbl"), key="id", precombine="ver",
        table_name="under_data",
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.insert(
        df_of(
            spark,
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        ),
        dedup_batch=False,
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("rn_under_data")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(spark.table("rn_under_data"), "id", "amount")
        assert got == [(1, 10.0), (2, 20.0)]  # no phantom (1, None)
    finally:
        q.stop()


def test_rename_stream_two_vintages_with_added_column(spark, tpath, tmp_path):
    """r12 review: two stale vintages whose mappings differ at a None
    (column-added-later) entry crashed read_stream's deterministic
    ordering (tuple comparison of None vs str). Layout: v1 file
    (amt, no extra), add column, v2 file (amt, extra), rename amt →
    amount — two distinct stale signatures, one with extra→None."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_add_columns([("extra", "double")])
    t.insert(
        spark.createDataFrame(
            [(2, 1, 20.0, "b", 2.5)],
            "id long, ver long, amt double, tag string, extra double",
        ),
        dedup_batch=False,
    )
    t.alter_rename_column("amt", "amount")
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("rn_two_vint")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(
            spark.table("rn_two_vint"), "id", "amount", "extra"
        )
        assert got == [(1, 10.0, None), (2, 20.0, 2.5)]
    finally:
        q.stop()


def test_stream_partitioned_table(spark, tmp_path):
    """r12: read_stream on a PARTITIONED table was broken outright —
    the explicit schema carried the partition column, which hive
    layout stores in the dir name, not the file, and the file source's
    own partition inference asserted on the multi-commit prefix
    (FAILED_READ_FILE). The stream now reads data columns only and
    reconstitutes partition values from the col=val path segment,
    including the null (__HIVE_DEFAULT_PARTITION__) sentinel."""
    t = Table.create(
        spark, str(tmp_path / "tps"), key="id", precombine="ver",
        table_name="tps", partition_fields=["tag"],
    )
    t.bulk_insert(
        df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b"),
                      (3, 1, 30.0, None)])
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("part_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(spark.table("part_stream_t"), "id", "amt", "tag")
        assert got == [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, None)]
        # new commits stream through, partition value intact
        t.insert(df_of(spark, [(4, 1, 40.0, "c")]), dedup_batch=False)
        q.processAllAvailable()
        got = rows_of(spark.table("part_stream_t"), "id", "tag")
        assert (4, "c") in got and len(got) == 4
    finally:
        q.stop()


def test_stream_table_rooted_under_data_with_lookalike_segments(
    spark, tmp_path
):
    """r12 second review: the vintage predicate and partition parse
    must anchor on the table's OWN commit-dir layout. A root ending in
    .../data/data made '/data/' splits pick the wrong segment
    (adjacent overlap), and a root containing a 'tag=prod' segment
    shadowed the hive partition parse — both now keyed on the
    /data/<20-digit-commit>/ pattern."""
    root = tmp_path / "data" / "data" / "tag=prod" / "tbl"
    t = Table.create(
        spark, str(root), key="id", precombine="ver",
        table_name="lookalike", partition_fields=["tag"],
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_rename_column("amt", "amount")
    t.insert(
        spark.createDataFrame(
            [(3, 1, 30.0, "c")],
            "id long, ver long, amount double, tag string",
        ),
        dedup_batch=False,
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("lookalike_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(
            spark.table("lookalike_stream"), "id", "amount", "tag"
        )
        # no phantom double-reads, no 'prod' shadow values
        assert got == [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")]
    finally:
        q.stop()


def test_stream_partition_spec_evolution_reads_file_bytes(spark, tmp_path):
    """r12 second review: rows written BEFORE alter_partition_spec
    carry the partition column in the file bytes with no col=val dir —
    the stream's coalesce(file bytes, path parse) must surface the
    real values, matching the batch contract, not typed nulls."""
    t = Table.create(
        spark, str(tmp_path / "pse"), key="id", precombine="ver",
        table_name="pse",
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    t.alter_partition_spec(["tag"])
    t.insert(df_of(spark, [(3, 1, 30.0, "c")]), dedup_batch=False)
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("pse_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(spark.table("pse_stream"), "id", "tag")
        assert got == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        q.stop()


def test_rename_stream_partitioned_across_vintages(spark, tmp_path):
    """r12: the partitioned+renamed corner streams too — the stale
    vintage scans under the physical DATA-column name while the
    partition column comes from the path on every branch."""
    t = Table.create(
        spark, str(tmp_path / "tp"), key="id", precombine="ver",
        table_name="tp", partition_fields=["tag"],
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.insert(
        spark.createDataFrame(
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        ),
        dedup_batch=False,
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("part_rn_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = rows_of(
            spark.table("part_rn_stream_t"), "id", "amount", "tag"
        )
        assert got == [(1, 10.0, "a"), (2, 20.0, "b")]
    finally:
        q.stop()


def test_rename_incremental_across_boundary(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        )
    )
    inc = t.incremental(begin=c1)
    assert rows_of(inc, "id", "amount") == [(2, 20.0)]


def test_rename_sql_ddl_route(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        sql_ddl,
    )

    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    catalog = {"t": t}
    sql_ddl.execute_ddl(
        spark, "ALTER TABLE t RENAME COLUMN amt TO amount", catalog
    )
    assert "amount" in t.snapshot().columns
    # table rename (RENAME TO) still routes separately
    sql_ddl.execute_ddl(spark, "ALTER TABLE t RENAME TO t2", catalog)
    assert "t2" in catalog and "t" not in catalog


def test_rename_subsequent_commits_carry_field_ids(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    c = t.upsert(
        df_of(
            spark,
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        )
    )
    ids = t._manifest(c)["field_ids"]
    assert ids["amount"] == "amt" and ids["tag"] == "tag"


def test_second_rename_chains_identity(spark, tpath):
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.upsert(
        df_of(
            spark,
            [(2, 1, 20.0, "b")],
            "id long, ver long, amount double, tag string",
        )
    )
    t.alter_rename_column("amount", "total")
    # three vintages: amt-named file, amount-named file, and the read
    # resolves both through the chained id
    assert rows_of(t.snapshot(), "id", "total") == [(1, 10.0), (2, 20.0)]


# -- streaming batch-id replay guard ----------------------------------


def sdf(spark, rows):
    return spark.createDataFrame(rows, "id long, ver long, val string")


def test_batch_id_skips_replay(spark, tpath):
    t = make_table(spark, tpath)
    assert t.upsert(sdf(spark, [(1, 1, "a")]), batch_id="0") is not None
    assert t.upsert(sdf(spark, [(1, 1, "a")]), batch_id="0") is None
    assert t.upsert(sdf(spark, [(2, 1, "b")]), batch_id="1") is not None
    # monotone: a replayed OLDER epoch is also recognized
    assert t.upsert(sdf(spark, [(1, 1, "a")]), batch_id="0") is None
    assert len(t.commits()) == 2
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a"), (2, "b")]


def test_batch_id_insert_and_non_numeric(spark, tpath):
    t = make_table(spark, tpath)
    assert t.insert(sdf(spark, [(1, 1, "a")]), batch_id="run-a") is not None
    assert t.insert(sdf(spark, [(1, 1, "a")]), batch_id="run-a") is None
    # non-numeric ids fall back to equality-vs-latest
    assert t.insert(sdf(spark, [(2, 1, "b")]), batch_id="run-b") is not None
    assert len(t.commits()) == 2


def test_batch_id_guard_is_scoped_per_sink(spark, tpath):
    """r11-verdict medium advice: the guard was table-global, so a
    SECOND streaming query writing the same table (its own epoch
    sequence restarting at 0) had real micro-batches silently skipped.
    Scoped per sink_id, the two queries never suppress each other,
    while each sink's own replays are still caught — and the unscoped
    (None) identity only compares with unscoped stamps."""
    t = make_table(spark, tpath)
    assert t.upsert(sdf(spark, [(1, 5, "a")]), batch_id="3",
                    sink_id="qA") is not None
    # a different query's epoch 0 is NOT a replay of qA's epoch 3
    assert t.upsert(sdf(spark, [(2, 1, "b")]), batch_id="0",
                    sink_id="qB") is not None
    # nor is an unscoped batch writer's id 0
    assert t.upsert(sdf(spark, [(3, 1, "c")]), batch_id="0") is not None
    # but each identity's own replay window still holds
    assert t.upsert(sdf(spark, [(1, 5, "a")]), batch_id="2",
                    sink_id="qA") is None
    assert t.upsert(sdf(spark, [(2, 1, "b")]), batch_id="0",
                    sink_id="qB") is None
    assert t.upsert(sdf(spark, [(3, 1, "c")]), batch_id="0") is None
    assert len(t.commits()) == 3
    assert rows_of(t.snapshot(), "id", "val") == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_batch_id_stamped_in_history(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(sdf(spark, [(1, 1, "a")]), batch_id="7")
    hist = {r["commit"]: r for r in t.history_df().collect()}
    assert [r["batch_id"] for r in hist.values()] == ["7"]


def test_foreachbatch_replay_single_application(spark, tmp_path):
    """At-least-once replay through a REAL foreachBatch sink: run the
    upsert stream to completion, then reprocess the whole source under a
    FRESH checkpoint (the lost-checkpoint recovery scenario — epoch ids
    restart at 0 and every micro-batch is re-delivered). The guard must
    recognize each replayed epoch from the table's commit metadata and
    apply nothing: same rows, same commit count. (Direct checkpoint
    surgery is not testable in-session — Spark 4's checkpoint manager
    hard-errors on a mutated commit log.)"""
    src = Table.create(
        spark, str(tmp_path / "src"), key="id", precombine="ver",
        table_name="replay_src",
    )
    gold = Table.create(
        spark, str(tmp_path / "gold"), key="id", precombine="ver",
        table_name="replay_gold",
    )
    src.insert(sdf(spark, [(1, 1, "a"), (2, 1, "b")]), dedup_batch=False)
    src.insert(sdf(spark, [(3, 1, "c")]), dedup_batch=False)

    def sink(bdf, eid):
        if not bdf.isEmpty():
            gold.upsert(bdf.drop(META_COL), batch_id=str(eid))

    def run(ckpt):
        q = (
            src.read_stream(maxFilesPerTrigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "ckpt1"))
    rows1 = rows_of(gold.snapshot(), "id", "ver", "val")
    n1 = len(gold.commits())
    assert n1 >= 2  # maxFilesPerTrigger=1 → multiple epochs
    run(str(tmp_path / "ckpt2"))  # full replay, epoch ids restart at 0
    assert rows_of(gold.snapshot(), "id", "ver", "val") == rows1
    assert len(gold.commits()) == n1


# -- history_df commit-outcome columns ---------------------------------


def test_history_validators_and_auto_index_columns(spark, tpath):
    t = make_table(
        spark,
        tpath,
        auto_index=["record_index"],
        pre_commit_validators={
            "single_result": [
                ["SELECT count(*) FROM <TABLE> WHERE ver < 0", 0]
            ]
        },
    )
    c = t.upsert(sdf(spark, [(1, 1, "a")]))
    hist = {r["commit"]: r for r in t.history_df().collect()}
    assert hist[c]["validators_passed"].startswith("single_result:")
    assert hist[c]["auto_indexed"] == "record_index"


# -- review-pass regression pins (r11) ---------------------------------


def test_rename_drop_readd_does_not_resurrect(spark, tpath):
    """rename a→b, DROP b, re-add a: the fresh id must avoid ids used
    at ANY point in history (field_ids_used), or pre-rename files'
    physical 'amt' bytes would alias onto the re-added column."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.alter_rename_column("amt", "amount")
    t.alter_drop_column("amount")
    t.alter_add_columns([("amt", "double")])
    r = t.snapshot().collect()[0]
    assert r["amt"] is None


def test_rename_refused_when_constraint_references(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "c"), key="id", precombine="ver",
        table_name="c", constraints={"pos": "amt > 0"},
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    with pytest.raises(ValueError, match="constraint"):
        t.alter_rename_column("amt", "amount")
    t.alter_rename_column("tag", "label")  # unreferenced column is fine


def test_rename_refused_when_validator_references(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "v"), key="id", precombine="ver",
        table_name="v",
        pre_commit_validators={
            "single_result": [
                ["SELECT count(*) FROM <TABLE> WHERE amt < 0", 0]
            ]
        },
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    with pytest.raises(ValueError, match="validator"):
        t.alter_rename_column("amt", "amount")


def test_rename_auto_index_spec_migrates_not_substring(spark, tmp_path):
    """auto_index=['secondary_index(tagx)'] must not be touched by
    renaming 'tag' (substring); renaming 'tagx' (the spec col) rewrites
    the spec AND relocates the synchronously-maintained payload, and
    the maintenance loop keeps extending it under the new name."""
    t = Table.create(
        spark, str(tmp_path / "ai"), key="id", precombine="ver",
        table_name="ai", auto_index=["secondary_index(tagx)"],
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, 10.0, "a", "x"), (2, 1, 20.0, "b", "y")],
            "id long, ver long, amt double, tag string, tagx string",
        )
    )
    t.alter_rename_column("tag", "label")  # substring — spec untouched
    assert t.meta["auto_index"] == ["secondary_index(tagx)"]
    t.alter_rename_column("tagx", "tagz")
    assert t.meta["auto_index"] == ["secondary_index(tagz)"]
    assert not t.fs.exists(t._index_paths("secondary", "tagx")[1])
    # the synchronous maintenance keeps indexing new commits under the
    # migrated name, and pruning under it is exact
    t.insert(
        spark.createDataFrame(
            [(3, 1, 30.0, "c", "z")],
            "id long, ver long, amt double, label string, tagz string",
        ),
        dedup_batch=False,
    )
    assert rows_of(
        t.snapshot(filters={"tagz": "z"}).where("tagz = 'z'"), "id"
    ) == [(3,)]
    pruned = t._prune_by_secondary_index(t.current_files(), "tagz", "x")
    assert len(pruned) < len(t.current_files())


def test_batch_guard_survives_archive(spark, tpath):
    """archive_timeline folding the stamped manifests must not blind
    the replay guard (archive fallback)."""
    t = make_table(spark, tpath)
    for i in range(12):
        t.insert(sdf(spark, [(100 + i, 1, "x")]), batch_id=str(i))
    archived = TableServices(t).archive_timeline(keep_active=1)
    assert archived  # the stamped manifests left the active window
    # the surviving active tail may itself carry a batch_id; force the
    # archive path by checking an id only the archive can adjudicate
    assert t.insert(sdf(spark, [(1, 1, "y")]), batch_id="3") is None
    assert t.insert(sdf(spark, [(1, 1, "y")]), batch_id="99") is not None


def test_user_column_named_seq_survives_upsert(spark, tmp_path):
    """The batch-dedup tie-break once used '_seq' internally and
    silently clobbered a user column of that name (stored the
    monotonic id as the user value) — found via the CDC-feed query."""
    t = Table.create(
        spark, str(tmp_path / "s"), key="k", precombine="_seq",
        table_name="s",
    )
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 7, "b"), (2, 3, "c")],
        "k int, _seq long, v string",
    )
    t.upsert(df)
    assert rows_of(t.snapshot(), "k", "_seq", "v") == [
        (1, 7, "b"), (2, 3, "c"),
    ]


def test_cdc_feed_basic_and_late_replay(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "cdc"), key="id", precombine="ver",
        table_name="cdc",
    )
    ev = spark.createDataFrame(
        [
            (1, 1, "a", "c"), (2, 1, "b", "c"), (3, 1, "x", "c"),
            (2, 2, "b2", "u"),          # update after create
            (3, 2, None, "d"),          # create -> delete ⇒ gone
            (4, 1, "ghost", "d"),       # delete for unknown key: no-op
        ],
        "id long, ver long, val string, _op string",
    )
    t.apply_cdc_feed(ev)
    assert rows_of(t.snapshot(), "id", "ver", "val") == [
        (1, 1, "a"), (2, 2, "b2"),
    ]
    # late replay below the stored precombine: fully discarded
    late = spark.createDataFrame(
        [(1, 0, "stale", "u"), (2, 0, None, "d")],
        "id long, ver long, val string, _op string",
    )
    t.apply_cdc_feed(late)
    assert rows_of(t.snapshot(), "id", "ver", "val") == [
        (1, 1, "a"), (2, 2, "b2"),
    ]


def test_cdc_feed_delete_then_update_upserts(spark, tmp_path):
    """Feed order wins: insert→delete→update (increasing ver) must
    upsert the final payload — plain merge() would resolve the mixed
    key to DELETE."""
    t = Table.create(
        spark, str(tmp_path / "cdc2"), key="id", precombine="ver",
        table_name="cdc2",
    )
    ev = spark.createDataFrame(
        [(1, 1, "a", "c"), (1, 2, None, "d"), (1, 3, "back", "u")],
        "id long, ver long, val string, _op string",
    )
    t.apply_cdc_feed(ev)
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 3, "back")]


def test_cdc_feed_equal_precombine_deterministic(spark, tmp_path):
    """Equal precombine: delete beats upsert (safe side); two upserts
    resolve by FEED order (batch-order tie-break, not an arbitrary
    window row)."""
    t = Table.create(
        spark, str(tmp_path / "cdc3"), key="id", precombine="ver",
        table_name="cdc3",
    )
    ev = spark.createDataFrame(
        [
            (1, 1, "first", "c"), (1, 1, "second", "u"),  # same ver
            (2, 1, "keep", "c"), (2, 1, None, "d"),       # delete wins
        ],
        "id long, ver long, val string, _op string",
    )
    t.apply_cdc_feed(ev)
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 1, "second")]


def test_cdc_tombstone_blocks_update_after_delete(spark, tmp_path):
    """r11 verdict item 5: with cdc_tombstone_hours set, a LATE UPDATE
    replayed after its key's DELETE already applied (in an earlier
    batch) stays dead inside the window — the retained (key,
    precombine) marker discards it; without markers the update would
    find no stored row and silently resurrect the key. A genuinely
    NEWER re-insert (precombine above the marker) still resurrects:
    that is the CDC feed-order contract, not a replay."""
    t = Table.create(
        spark, str(tmp_path / "cdct"), key="id", precombine="ver",
        table_name="cdct", cdc_tombstone_hours=24.0,
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c"), (2, 1, "b", "c")],
        "id long, ver long, val string, _op string",
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 5, None, "d")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(2, 1, "b")]
    # late UPDATE at/below the delete marker's precombine: stays dead
    for late_ver in (3, 5):
        t.apply_cdc_feed(spark.createDataFrame(
            [(1, late_ver, "ghost", "u")],
            "id long, ver long, val string, _op string",
        ))
        assert rows_of(t.snapshot(), "id", "ver", "val") == [(2, 1, "b")]
    # a NEWER insert resurrects (feed-order contract)
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 6, "back", "i")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [
        (1, 6, "back"), (2, 1, "b"),
    ]


def test_cdc_tombstone_without_option_resurrects(spark, tmp_path):
    """Control: the default (no retention window) keeps the legacy
    semantics — the late update re-inserts. Pins that the marker path
    is genuinely what test_cdc_tombstone_blocks_update_after_delete
    exercises."""
    t = Table.create(
        spark, str(tmp_path / "cdcn"), key="id", precombine="ver",
        table_name="cdcn",
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 5, None, "d")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "ghost", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 3, "ghost")]


def test_cdc_tombstone_cleaner_prunes_expired(spark, tmp_path):
    """Expired sidecars are pruned by clean() via directory-name expiry
    and no longer guard — after expiry the legacy semantics return."""
    import os
    import shutil

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = Table.create(
        spark, str(tmp_path / "cdce"), key="id", precombine="ver",
        table_name="cdce", cdc_tombstone_hours=1.0,
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 5, None, "d")], "id long, ver long, val string, _op string"
    ))
    root = t._cdc_tombstone_root()
    (name,) = os.listdir(root)
    # age the sidecar past the 1h window by re-stamping its dir name
    stamp, commit = name.split("_", 1)
    aged = f"20200101T000000000000_{commit}"
    shutil.move(os.path.join(root, name), os.path.join(root, aged))
    assert t._tombstone_dirs(expired=False) == []
    removed = TableServices(t).clean()
    assert any(aged in r for r in removed)
    assert os.listdir(root) == [] or not any(
        os.listdir(os.path.join(root, d)) for d in os.listdir(root)
    )
    # marker gone -> late update resurrects (legacy semantics)
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "ghost", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 3, "ghost")]


def test_cdc_tombstone_inactive_after_restore(spark, tmp_path):
    """restore() to a commit BEFORE a CDC delete must deactivate that
    delete's marker — the delete left the table's logical history, and
    a still-active marker would discard legitimate post-restore events
    for the resurrected key. Deactivation is READ-SIDE (the lineage
    walk): the sidecar files survive, so the prune is crash-atomic and
    reversible."""
    import os

    t = Table.create(
        spark, str(tmp_path / "cdcr"), key="id", precombine="ver",
        table_name="cdcr", cdc_tombstone_hours=24.0,
    )
    c1 = t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 9, None, "d")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id") == []
    t.restore(c1)
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a")]
    # the sidecar is NOT deleted (audit parity with manifests)...
    assert os.listdir(t._cdc_tombstone_root())
    # ...but the marker (ver 9) no longer guards: an update BELOW it
    # applies against the restored stored row
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "after", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 3, "after")]


def test_cdc_tombstone_in_lineage_survives_restore(spark, tmp_path):
    """Keep-boundary: a marker recorded AT OR BEFORE the restore
    target stays active — that delete was never rolled back. Guards
    the strict '>' boundary of the lineage semantics."""
    t = Table.create(
        spark, str(tmp_path / "cdck"), key="id", precombine="ver",
        table_name="cdck", cdc_tombstone_hours=24.0,
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c"), (2, 1, "b", "c")],
        "id long, ver long, val string, _op string",
    ))
    c_del = t.apply_cdc_feed(spark.createDataFrame(
        [(1, 9, None, "d")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(2, 2, "b2", "u")], "id long, ver long, val string, _op string"
    ))
    t.restore(c_del)  # rolls back only the id=2 update
    assert rows_of(t.snapshot(), "id", "val") == [(2, "b")]
    # id=1's delete is in the restored lineage: its marker still
    # discards a late update below ver 9
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "ghost", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id", "val") == [(2, "b")]


def test_cdc_tombstone_roundtrip_restore_reinstates(spark, tmp_path):
    """A forward re-restore (undoing a rollback) reinstates the
    rolled-back delete's protection — possible only because the
    sidecar was never deleted (r12 third-review finding)."""
    t = Table.create(
        spark, str(tmp_path / "cdcrr"), key="id", precombine="ver",
        table_name="cdcrr", cdc_tombstone_hours=24.0,
    )
    c1 = t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    c2 = t.apply_cdc_feed(spark.createDataFrame(
        [(1, 9, None, "d")], "id long, ver long, val string, _op string"
    ))
    t.restore(c1)   # mistake
    t.restore(c2)   # undo: key 1 is dead again
    assert rows_of(t.snapshot(), "id") == []
    # the delete is back in lineage, so its marker guards again
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "ghost", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id") == []


def test_cdc_feed_rejects_null_and_unknown_ops(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "cdc4"), key="id", precombine="ver",
        table_name="cdc4",
    )
    bad = spark.createDataFrame(
        [(1, 1, "a", "x")], "id long, ver long, val string, _op string"
    )
    with pytest.raises(ValueError, match="unknown CDC op"):
        t.apply_cdc_feed(bad)
    nul = spark.createDataFrame(
        [(1, 1, "a", None)], "id long, ver long, val string, _op string"
    )
    with pytest.raises(ValueError, match="unknown CDC op"):
        t.apply_cdc_feed(nul)


def test_reserved_internal_column_rejected(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "resv"), key="id", precombine="ver",
        table_name="resv",
    )
    df = spark.createDataFrame(
        [(1, 1, 7)], "id long, ver long, __engine_batch_order long"
    )
    with pytest.raises(ValueError, match="reserved internal column"):
        t.upsert(df)


def test_restore_flag_fast_path(spark, tmp_path):
    """r12 advice: on a never-restored r13+ table the lineage probe is
    ONE exists() check — zero manifest/archive reads per
    tombstone-guarded apply. Legacy tables (no ``restore_flagged``
    meta) keep the full timeline walk, since their pre-flag restores
    left no marker."""
    t = Table.create(
        spark, str(tmp_path / "rff"), key="id", precombine="ver",
        table_name="rff", cdc_tombstone_hours=24.0,
    )
    c1 = t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    # fast path: no restore ever -> None, and NO manifest reads
    reads = []
    orig = type(t)._manifest
    orig_arch = type(t)._archived_manifests
    type(t)._manifest = lambda self, c: reads.append(c) or orig(self, c)
    type(t)._archived_manifests = (
        lambda self: reads.append("arch") or orig_arch(self)
    )
    try:
        assert t._restored_lineage() is None
        assert reads == []
    finally:
        type(t)._manifest = orig
        type(t)._archived_manifests = orig_arch
    # after a restore the flag exists and the walk runs for real
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 9, None, "d")], "id long, ver long, val string, _op string"
    ))
    t.restore(c1)
    assert t.fs.exists(t._restore_flag_path())
    lineage = t._restored_lineage()
    assert lineage is not None and c1 in lineage
    # legacy table (meta key absent): fast path must NOT trigger
    t.meta.pop("restore_flagged")
    assert t._restored_lineage() is not None


def test_cdc_tombstone_clock_skew_over_retains(spark, tmp_path):
    """r12 verdict item 6: a writer with a skewed (future) clock keeps
    its markers alive PAST the window — over-retention, never
    premature expiry. The future-stamped sidecar must stay active,
    never be classified expired, and survive clean()."""
    import os
    import shutil

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = Table.create(
        spark, str(tmp_path / "cdcfs"), key="id", precombine="ver",
        table_name="cdcfs", cdc_tombstone_hours=1.0,
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 5, None, "d")], "id long, ver long, val string, _op string"
    ))
    root = t._cdc_tombstone_root()
    (name,) = os.listdir(root)
    stamp, commit = name.split("_", 1)
    future = f"29990101T000000000000_{commit}"
    shutil.move(os.path.join(root, name), os.path.join(root, future))
    assert t._tombstone_dirs(expired=True) == []
    assert any(future in d for d in t._tombstone_dirs(expired=False))
    removed = TableServices(t).clean()
    assert not any(future in r for r in removed)
    assert os.path.isdir(os.path.join(root, future))
    # and it still guards: the late update stays dead
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 3, "ghost", "u")], "id long, ver long, val string, _op string"
    ))
    assert rows_of(t.snapshot(), "id") == []


def test_clean_removes_emptied_tombstone_dirs(spark, tmp_path):
    """r12 advice: clean() must drop the emptied sidecar DIRECTORY,
    not just its files — leftovers accumulate on disk."""
    import os
    import shutil

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = Table.create(
        spark, str(tmp_path / "cdcrm"), key="id", precombine="ver",
        table_name="cdcrm", cdc_tombstone_hours=1.0,
    )
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 1, "a", "c")], "id long, ver long, val string, _op string"
    ))
    t.apply_cdc_feed(spark.createDataFrame(
        [(1, 5, None, "d")], "id long, ver long, val string, _op string"
    ))
    root = t._cdc_tombstone_root()
    (name,) = os.listdir(root)
    aged = f"20200101T000000000000_{name.split('_', 1)[1]}"
    shutil.move(os.path.join(root, name), os.path.join(root, aged))
    TableServices(t).clean()
    assert not os.path.exists(os.path.join(root, aged))


def test_legacy_sink_fallback_bridges_upgrade(spark, tpath):
    """r12 advice: a pipeline that stamped epochs UNSCOPED and then
    upgrades to a sink_id loses replay protection at the boundary.
    With legacy_sink_fallback=True, a scoped lookup that finds no
    scoped stamp compares against the newest unscoped stamp ONCE;
    after the first scoped commit the fallback never fires again.
    Default stays off (a genuinely new query must not be suppressed
    by legacy stamps)."""
    t = make_table(spark, tpath)
    # pre-upgrade: unscoped epochs 4 and 5 durably published
    assert t.upsert(sdf(spark, [(1, 1, "a")]), batch_id="4") is not None
    assert t.upsert(sdf(spark, [(2, 1, "b")]), batch_id="5") is not None
    # restart replays epoch 5 under the upgraded (scoped) identity:
    # default = applied twice (documented; fresh checkpoint expected)
    # fallback = recognized as a replay of the unscoped stamp
    assert t.upsert(sdf(spark, [(2, 1, "b")]), batch_id="5",
                    sink_id="qA", legacy_sink_fallback=True) is None
    # a NEW epoch under the scoped identity applies and stamps it
    assert t.upsert(sdf(spark, [(3, 1, "c")]), batch_id="6",
                    sink_id="qA", legacy_sink_fallback=True) is not None
    # from now on the scoped stamp wins; its own replays are caught
    assert t.upsert(sdf(spark, [(3, 1, "c")]), batch_id="6",
                    sink_id="qA", legacy_sink_fallback=True) is None
    # ...and the fallback does NOT leak across to other sinks: a new
    # query with its own epoch counter (default, no fallback) applies
    assert t.upsert(sdf(spark, [(4, 1, "d")]), batch_id="0",
                    sink_id="qB") is not None
    assert len(t.commits()) == 4
    assert rows_of(t.snapshot(), "id", "val") == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]


def test_auto_index_spec_absent_column_skips_not_wedges(spark, tmp_path):
    """r13 review: a spec naming a column the current schema lacks
    (the crash window between a rename's publish and its spec rewrite,
    or a manual meta edit) must degrade to SKIPPED index extension —
    the write itself must never fail for it."""
    t = Table.create(
        spark, str(tmp_path / "ghost"), key="id", precombine="ver",
        table_name="ghost", auto_index=["secondary_index(tag)"],
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    t.meta["auto_index"] = ["secondary_index(no_such_col)"]
    # the insert must land; maintenance skips the dangling spec
    t.insert(df_of(spark, [(2, 1, 20.0, "b")]), dedup_batch=False)
    assert rows_of(t.snapshot(), "id", "tag") == [(1, "a"), (2, "b")]


def test_rename_expression_index_quote_aware_rewrite(spark, tpath):
    """r13 review + r14 lift: Spark SQL string literals may be double-
    quoted too — the quote-aware rewrite must leave BOTH quote styles
    untouched while renaming references outside them; a word appearing
    ONLY inside literals needs no migration; an unterminated literal
    stays fail-closed (the walker can't see real references past it)."""
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a")]))
    TableServices(t).build_expression_index(
        'concat(tag, "tag")', name="dq"
    )
    # literal-only mention of a DIFFERENT column: no migration, text
    # byte-identical after renaming amt
    TableServices(t).build_expression_index(
        "concat(tag, 'amt')", name="litonly"
    )
    t.alter_rename_column("amt", "amount")
    metas = {m["name"]: m["expr"] for m in t._file_indexes("expression")}
    assert metas["litonly"] == "concat(tag, 'amt')"
    t.alter_rename_column("tag", "label")
    metas = {m["name"]: m["expr"] for m in t._file_indexes("expression")}
    assert metas["dq"] == 'concat(label, "tag")'
    assert metas["litonly"] == "concat(label, 'amt')"
    # unterminated literal: genuinely unparseable, fail-closed
    _, mpath = t._index_paths("expression", "dq")
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        read_json,
        write_json,
    )

    m = read_json(mpath)
    m["expr"] = "concat(label, 'oops"
    write_json(mpath, m)
    with pytest.raises(ValueError, match="cannot be lexed"):
        t.alter_rename_column("label", "tag3")


def test_bootstrap_nested_source_streams_all_files(spark, tmp_path):
    """r13 review: bootstrap adopts parquet at ANY depth (fs.list is
    recursive) — the streaming external branch must read recursively
    too, or it silently emits a subset of the adopted table."""
    import os as _os

    src = str(tmp_path / "nsrc")
    spark.createDataFrame(
        [(1, 1, 10.0, "a")], "id long, ver long, amt double, tag string"
    ).coalesce(1).write.parquet(src + "/inner/deep")
    spark.createDataFrame(
        [(2, 1, 20.0, "b")], "id long, ver long, amt double, tag string"
    ).coalesce(1).write.parquet(src + "/flat")
    t = Table.bootstrap(
        spark, str(tmp_path / "ntbl"), src, key="id", precombine="ver"
    )
    assert t.snapshot().count() == 2
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("bs_nested")
        .option("checkpointLocation", str(tmp_path / "ckpt_n"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert rows_of(spark.table("bs_nested"), "id", "tag") == [
            (1, "a"), (2, "b"),
        ]
    finally:
        q.stop()


def test_renamed_stream_divides_max_files_per_trigger(spark, tmp_path):
    """r13 advice item 3 / r14: maxFilesPerTrigger is the WHOLE-TABLE
    bound on a renamed table — the limit divides across the vintage
    union branches instead of multiplying by them. 4 one-row files per
    vintage, N=4 over 2 branches → 2 files per branch per trigger →
    every micro-batch ≤ 4 rows (undivided it would be one 8-row
    batch)."""
    t = Table.create(
        spark, str(tmp_path / "rl"), key="id", precombine="ver",
        table_name="rl",
    )
    for i in range(4):
        t.insert(
            df_of(spark, [(i, 1, float(i), "a")]), dedup_batch=False
        )
    t.alter_rename_column("tag", "label")
    for i in range(4, 8):
        t.insert(
            df_of(
                spark,
                [(i, 1, float(i), "a")],
                "id long, ver long, amt double, label string",
            ),
            dedup_batch=False,
        )
    batches: list[int] = []

    def sink(bdf, eid):
        n = bdf.count()
        if n:
            batches.append(n)

    q = (
        t.read_stream(maxFilesPerTrigger=4)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(batches) == 8
    assert len(batches) >= 2
    assert max(batches) <= 4


def test_vacuum_orphan_indexes_sweeps_half_migrated(spark, tpath):
    """r13 verdict (latent #3): a crash inside the rename's index
    migration leaves split payloads — the sweep reclaims dead-column
    payloads/metas and meta-less partial copies, leaves healthy
    indexes untouched, and the age guard protects in-flight builds."""
    import os

    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    TableServices(t).build_secondary_index("tag")
    base = os.path.join(tpath, "_index")
    # fabricate crash states: (1) payload + meta for a column the
    # schema does not have (crash after publish, before old-name
    # cleanup); (2) a partial payload copy with NO meta (crash mid-move)
    ghost_dir = os.path.join(base, "secondary_ghost")
    os.makedirs(ghost_dir)
    open(os.path.join(ghost_dir, "part-0.parquet"), "w").write("x")
    open(os.path.join(base, "secondary_ghost_meta.json"), "w").write(
        '{"column": "ghost"}'
    )
    partial_dir = os.path.join(base, "secondary_amt")
    os.makedirs(partial_dir)
    open(os.path.join(partial_dir, "part-0.parquet"), "w").write("x")
    svc = TableServices(t)
    # age guard first: nothing young is swept
    assert svc.vacuum_orphan_indexes() == []
    deleted = svc.vacuum_orphan_indexes(older_than_seconds=0)
    assert any("secondary_ghost" in p for p in deleted)
    assert any("secondary_amt" in p for p in deleted)
    assert not os.path.exists(ghost_dir)
    assert not os.path.exists(partial_dir)
    assert not os.path.exists(
        os.path.join(base, "secondary_ghost_meta.json")
    )
    # the healthy index survives and still prunes
    assert t.fs.exists(t._index_paths("secondary", "tag")[1])
    pruned = t._prune_by_secondary_index(t.current_files(), "tag", "a")
    assert len(pruned) <= len(t.current_files())
    assert rows_of(
        t.snapshot(filters={"tag": "a"}).where("tag = 'a'"), "id"
    ) == [(1,)]


def test_vacuum_orphan_indexes_spares_meta_less_families(spark, tpath):
    """r14 review finding: bloom sidecars live in a meta-less dir BY
    DESIGN (_index/bloom/<token>.json) — the no-meta sweep rule must be
    scoped to the record_index/secondary_*/expr_* families, or it
    destroys a healthy bloom index."""
    import os

    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="bl",
        index_type="bloom",
    )
    t.bulk_insert(df_of(spark, [(1, 1, 10.0, "a"), (2, 1, 20.0, "b")]))
    base = os.path.join(tpath, "_index")
    bloom_files = [
        p for p in TableServices(t).t.fs.list(base) if "/bloom/" in p
    ]
    assert bloom_files, "bloom index should have sidecars"
    deleted = TableServices(t).vacuum_orphan_indexes(older_than_seconds=0)
    assert deleted == []
    for p in bloom_files:
        assert os.path.exists(p)
