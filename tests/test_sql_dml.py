"""SQL DML surface: MERGE INTO parser + kernel semantics.

Pins the ANSI/Delta contract points the oracle can't see in isolation:
clause ORDER (first match wins), cardinality violation on multi-matched
target rows, INSERT *, conditional NOT MATCHED, and the DELETE/UPDATE
string routes.
"""

from __future__ import annotations

import pytest

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
    sql_dml,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
)


@pytest.fixture
def tpath(tmp_path):
    return str(tmp_path / "t")


def make(spark, path, **kw):
    t = Table.create(
        spark, path, key="id", precombine="ver", table_name="t", **kw
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0), (2, 1, "b", 20.0), (3, 1, "c", 30.0)],
            "id long, ver long, val string, amt double",
        )
    )
    return t


def snap(t):
    return sorted(
        (r.id, r.val, r.amt)
        for r in t.snapshot().select("id", "val", "amt").collect()
    )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_clause_order_first_match_wins(spark, tpath, table_type):
    """A row satisfying both WHEN MATCHED clauses takes the FIRST one:
    with DELETE first it's gone; with the order flipped it's updated."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame([(2, "z")], "id long, val string")
    t.merge_into(
        src,
        on="t.id = s.id",
        matched=[
            ("delete", "s.val = 'z'", None),
            ("update", None, {"val": "s.val"}),
        ],
    )
    assert snap(t) == [(1, "a", 10.0), (3, "c", 30.0)]

    t2 = make(spark, tpath + "2", table_type=table_type)
    t2.merge_into(
        src,
        on="t.id = s.id",
        matched=[
            ("update", None, {"val": "s.val"}),
            ("delete", "s.val = 'z'", None),
        ],
    )
    assert snap(t2) == [(1, "a", 10.0), (2, "z", 20.0), (3, "c", 30.0)]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_multiple_match_raises(spark, tpath, table_type):
    """ANSI cardinality violation: >1 source row matching one target row
    while a WHEN MATCHED clause exists must raise, not pick one."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(2, "x"), (2, "y")], "id long, val string"
    )
    with pytest.raises(ValueError, match="cardinality"):
        t.merge_into(
            src, on="t.id = s.id", matched=[("update", None, {"val": "s.val"})]
        )
    # insert-only merges are unaffected (each source row is independent)
    t.merge_into(
        src,
        on="t.id = s.id",
        not_matched=[("insert", None, {"id": "s.id", "val": "s.val"})],
    )
    assert snap(t) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]


def test_merge_into_insert_star_and_conditional_not_matched(spark, tpath):
    t = make(spark, tpath)
    src = spark.createDataFrame(
        [(4, 1, "d", 40.0), (5, 1, "skip", 50.0)],
        "id long, ver long, val string, amt double",
    )
    t.merge_into(
        src,
        on="t.id = s.id",
        not_matched=[("insert", "s.val != 'skip'", None)],
    )
    assert snap(t) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_simultaneous_assignment(spark, tpath, table_type):
    """SET a = t.b, b = t.a swaps — all right-hand sides see the OLD
    row (standard UPDATE semantics)."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        table_type=table_type,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, 100.0, 200.0)], "id long, ver long, a double, b double"
        )
    )
    src = spark.createDataFrame([(1,)], "id long")
    t.merge_into(
        src, on="t.id = s.id", matched=[("update", None, {"a": "t.b", "b": "t.a"})]
    )
    r = t.snapshot().select("a", "b").collect()[0]
    assert (r.a, r.b) == (200.0, 100.0)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_unmatched_clause_row_carries_through(
    spark, tpath, table_type
):
    """A matched row no clause claims keeps its original commit stamp
    (byte-identical rewrite on COW, no delta row on MOR), like
    update_where's non-matching rows."""
    t = make(spark, tpath, table_type=table_type)
    before = {
        r.id: r._commit_time
        for r in t.snapshot().select("id", "_commit_time").collect()
    }
    src = spark.createDataFrame([(2, "U"), (3, "skip")], "id long, act string")
    t.merge_into(
        src,
        on="t.id = s.id",
        matched=[("update", "s.act = 'U'", {"val": "upper(t.val)"})],
    )
    after = {
        r.id: r._commit_time
        for r in t.snapshot().select("id", "_commit_time").collect()
    }
    assert after[2] > before[2]  # claimed by the update clause
    assert after[3] == before[3]  # matched, no clause → carried through
    assert after[1] == before[1]  # untouched file


def test_merge_into_structural_and_unknown_columns_refused(spark, tpath):
    t = make(spark, tpath)
    src = spark.createDataFrame([(2, "x")], "id long, val string")
    with pytest.raises(ValueError, match="structural"):
        t.merge_into(
            src, on="t.id = s.id", matched=[("update", None, {"id": "s.id"})]
        )
    with pytest.raises(ValueError, match="unknown"):
        t.merge_into(
            src, on="t.id = s.id", matched=[("update", None, {"nope": "1"})]
        )
    with pytest.raises(ValueError, match="empty table"):
        empty = Table.create(
            spark, tpath + "_e", key="id", precombine="ver", table_name="e"
        )
        empty.merge_into(src, on="t.id = s.id")


def test_execute_merge_statement_with_subquery_source(spark, tpath):
    t = make(spark, tpath)
    spark.createDataFrame(
        [(2, "B"), (9, "i")], "id long, val string"
    ).createOrReplaceTempView("dml_src")
    sql_dml.execute(
        spark,
        """
        MERGE INTO tgt t
        USING (SELECT id, upper(val) AS val FROM dml_src) AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET val = s.val
        WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)
        """,
        {"tgt": t},
    )
    assert snap(t) == [
        (1, "a", 10.0),
        (2, "B", 20.0),
        (3, "c", 30.0),
        (9, "I", None),
    ]


def test_execute_delete_and_update_strings(spark, tpath):
    t = make(spark, tpath)
    sql_dml.execute(
        spark, "UPDATE tgt SET amt = amt * 2 WHERE val = 'b'", {"tgt": t}
    )
    sql_dml.execute(spark, "DELETE FROM tgt WHERE id = 3", {"tgt": t})
    assert snap(t) == [(1, "a", 10.0), (2, "b", 40.0)]


def test_execute_unknown_statement_and_target(spark, tpath):
    t = make(spark, tpath)
    with pytest.raises(ValueError, match="unsupported"):
        sql_dml.execute(spark, "TRUNCATE TABLE tgt", {"tgt": t})
    with pytest.raises(ValueError, match="unknown MERGE target"):
        sql_dml.execute(
            spark,
            "MERGE INTO nope USING x ON nope.id = x.id "
            "WHEN MATCHED THEN DELETE",
            {"tgt": t},
        )


def test_parse_merge_shapes():
    p = sql_dml.parse_merge(
        "MERGE INTO a USING b ON a.k = b.k "
        "WHEN MATCHED AND b.f > concat(',', ')') THEN UPDATE SET "
        "x = coalesce(b.x, a.x), y = 'lit,with)chars' "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert p["matched"][0][0] == "update"
    assert p["matched"][0][2]["x"] == "coalesce(b.x, a.x)"
    assert p["matched"][0][2]["y"] == "'lit,with)chars'"
    assert p["matched"][1] == ("delete", None, None)
    assert p["not_matched"] == [("insert", None, None)]
    with pytest.raises(ValueError, match="USING"):
        sql_dml.parse_merge("MERGE INTO a ON a.k = b.k WHEN MATCHED THEN DELETE")


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_duplicate_unmatched_keys_collapse(
    spark, tpath, table_type
):
    """Two source rows inserting the SAME new key must collapse to one
    row (max precombine — the upsert contract); inserting both would
    break the keyed snapshot invariant."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(9, 1, "old", 1.0), (9, 2, "new", 2.0)],
        "id long, ver long, val string, amt double",
    )
    t.merge_into(src, on="t.id = s.id", not_matched=[("insert", None, None)])
    rows = [r for r in t.snapshot().collect() if r.id == 9]
    assert len(rows) == 1
    assert (rows[0].val, rows[0].ver) == ("new", 2)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_colliding_insert_replaces_existing_key(
    spark, tpath, table_type
):
    """When ON is not pure key equality, an unmatched source row can
    insert a key the table already holds. Keyed-table semantics: the
    insert REPLACES the stored row (MOR read-side resolution) — never
    a duplicate key in the snapshot. COW and MOR must agree."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(1, 2, "DIFFERENT", 99.0)],
        "id long, ver long, val string, amt double",
    )
    t.merge_into(
        src,
        on="t.id = s.id AND t.val = s.val",  # no row matches both
        matched=[("update", None, {"ver": "s.ver"})],
        not_matched=[("insert", None, None)],
    )
    rows = t.snapshot().collect()
    assert len([r for r in rows if r.id == 1]) == 1
    assert snap(t) == [
        (1, "DIFFERENT", 99.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_insert_wins_over_update_and_delete_same_key(
    spark, tpath, table_type
):
    """One statement can UPDATE a key, DELETE another, AND (via a
    non-key-equality ON) INSERT both of those keys from unmatched
    source rows. Resolution is INSERT WINS — COW implements it by
    anti-joining rewritten rows against the insert keys, and the MOR
    path must drop the colliding update/tombstone rows before merge()
    so both table types land the identical state (previously MOR's
    _dedup_batch resolved update-vs-insert by max precombine and the
    tombstone anti-join made DELETE beat the insert)."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [
            (2, 5, "b", 99.0),   # matches target 2 → UPDATE clause
            (2, 7, "X", 77.0),   # id exists, val differs → INSERT key 2
            (3, 5, "c", 0.0),    # matches target 3 → DELETE clause
            (3, 9, "Y", 55.0),   # id exists, val differs → INSERT key 3
        ],
        "id long, ver long, val string, amt double",
    )
    t.merge_into(
        src,
        on="t.id = s.id AND t.val = s.val",
        matched=[
            ("delete", "s.amt = 0.0", None),
            ("update", None, {"amt": "s.amt", "ver": "s.ver"}),
        ],
        not_matched=[("insert", None, None)],
    )
    assert snap(t) == [
        (1, "a", 10.0),   # untouched
        (2, "X", 77.0),   # insert beat the update
        (3, "Y", 55.0),   # insert beat the delete
    ]


def test_mi_on_key_col_fails_closed_on_parens_and_double_quotes(
    spark, tpath
):
    """The AND split in _mi_on_key_col is not depth/quote-aware, so any
    '(' or '\"' in the ON expression must disable pruning outright — a
    fragment cut out of a parenthesized boolean group or a quoted
    literal containing ' AND t.id = s.x AND ' would otherwise
    false-positive as key equality and prune against the wrong values
    (silently skipping matched rows)."""
    t = make(spark, tpath)
    assert (
        t._mi_on_key_col("t.flag = (s.a AND t.id = s.x AND s.b)", "t", "s")
        is None
    )
    assert (
        t._mi_on_key_col(
            't.id = s.sid AND t.val = "x AND t.id = s.y AND z"', "t", "s"
        )
        is None
    )
    # plain conjunct forms still detect (no regression)
    assert t._mi_on_key_col("t.id = s.sid AND t.val = s.v", "t", "s") == "sid"


def test_execute_merge_into_backticked_target(spark, tpath):
    """MERGE INTO `t` must resolve the same tables={'t': ...} entry the
    other statement routes do — the relation NAME is backtick-stripped,
    not just the alias."""
    t = make(spark, tpath)
    spark.createDataFrame(
        [(2, 9, "bt", 42.0)], "id long, ver long, val string, amt double"
    ).createOrReplaceTempView("bt_src")
    sql_dml.execute(
        spark,
        "MERGE INTO `tgt` USING `bt_src` ON tgt.id = bt_src.id "
        "WHEN MATCHED THEN UPDATE SET val = bt_src.val, amt = bt_src.amt",
        {"tgt": t},
    )
    assert snap(t) == [(1, "a", 10.0), (2, "bt", 42.0), (3, "c", 30.0)]


def test_merge_into_insert_list_must_include_key(spark, tpath):
    t = make(spark, tpath)
    src = spark.createDataFrame([(7, "x")], "id long, val string")
    with pytest.raises(ValueError, match="must include the key"):
        t.merge_into(
            src,
            on="t.id = s.id",
            not_matched=[("insert", None, {"val": "s.val"})],
        )


def test_merge_into_arithmetic_on_is_not_treated_as_key_equality(
    spark, tpath
):
    """`t.id = s.id + 1` must NOT key-prune against raw s.id values —
    the old substring regex did, silently skipping matches. Full-scan
    fallback must update the real match (id = s.id + 1)."""
    t = make(spark, tpath)
    assert t._mi_on_key_col("t.id = s.id + 1", "t", "s") is None
    assert t._mi_on_key_col("NOT (t.id = s.id)", "t", "s") is None
    assert t._mi_on_key_col("t.id = s.id AND s.tag = 'x'", "t", "s") is None
    assert t._mi_on_key_col("t.id = s.sid AND t.val = s.v", "t", "s") == "sid"
    assert t._mi_on_key_col("s.sid = id", "t", "s") == "sid"
    src = spark.createDataFrame([(1, "bumped")], "id long, val string")
    t.merge_into(
        src,
        on="t.id = s.id + 1",
        matched=[("update", None, {"val": "s.val"})],
    )
    assert snap(t) == [(1, "a", 10.0), (2, "bumped", 20.0), (3, "c", 30.0)]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_into_inserts_pass_constraint_gate(spark, tpath, table_type):
    """Inserted rows are NEW data entering the table, so write-side
    expectations apply on both table types (COW used to bypass them)."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        table_type=table_type, constraints={"pos": "amt > 0"},
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0)], "id long, ver long, val string, amt double"
        )
    )
    src = spark.createDataFrame(
        [(9, 1, "bad", -7.0), (8, 1, "ok", 5.0)],
        "id long, ver long, val string, amt double",
    )
    t.merge_into(src, on="t.id = s.id", not_matched=[("insert", None, None)])
    assert snap(t) == [(1, "a", 10.0), (8, "ok", 5.0)]


def test_parse_merge_case_in_condition_and_quoted_tokens():
    p = sql_dml.parse_merge(
        "MERGE INTO a USING b ON a.k = b.k "
        "WHEN MATCHED AND (CASE WHEN b.f > 0 THEN 1 ELSE 0 END) = 1 "
        "THEN DELETE "
        "WHEN MATCHED AND b.tag = 'x THEN y' THEN UPDATE SET v = b.v"
    )
    assert p["matched"][0] == (
        "delete", "(CASE WHEN b.f > 0 THEN 1 ELSE 0 END) = 1", None
    )
    assert p["matched"][1][1] == "b.tag = 'x THEN y'"
    p2 = sql_dml.parse_merge(
        "MERGE INTO a USING (SELECT concat('(', v) AS v, k FROM x) s "
        "ON a.k = s.k WHEN MATCHED THEN DELETE"
    )
    assert p2["source"] == "(SELECT concat('(', v) AS v, k FROM x)"
    assert p2["source_alias"] == "s"


def test_execute_insert_into_optimize_vacuum(spark, tpath):
    """The remaining lakehouse SQL staples: INSERT INTO routes through
    the keyed upsert (re-inserted key replaces, never duplicates),
    OPTIMIZE compacts (ZORDER variant too), VACUUM cleans retired
    files past the retention window."""
    t = make(spark, tpath)
    sql_dml.execute(
        spark,
        "INSERT INTO tgt VALUES "
        "(4, CAST(1 AS BIGINT), 'd', 40.0), "
        "(2, CAST(2 AS BIGINT), 'B2', 21.0)",
        {"tgt": t},
    )
    assert snap(t) == [
        (1, "a", 10.0),
        (2, "B2", 21.0),  # replaced, not duplicated
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]
    # column-list + SELECT form
    spark.createDataFrame([(5, 1, "e", 50.0)], "a long, b long, c string, d double")\
        .createOrReplaceTempView("ins_src")
    sql_dml.execute(
        spark,
        "INSERT INTO tgt (id, ver, val, amt) SELECT a, b, c, d FROM ins_src",
        {"tgt": t},
    )
    assert (5, "e", 50.0) in snap(t)
    with pytest.raises(ValueError, match="arity"):
        sql_dml.execute(
            spark, "INSERT INTO tgt (id, ver) SELECT a FROM ins_src", {"tgt": t}
        )
    files_before = len(t.current_files())
    sql_dml.execute(spark, "OPTIMIZE tgt", {"tgt": t})
    assert len(t.current_files()) <= files_before
    sql_dml.execute(spark, "OPTIMIZE tgt ZORDER BY (id, amt)", {"tgt": t})
    rows = snap(t)
    sql_dml.execute(spark, "VACUUM tgt RETAIN 2 COMMITS", {"tgt": t})
    assert snap(t) == rows  # vacuum never changes the live snapshot


def test_merge_into_point_merge_rewrites_only_containing_file(spark, tpath):
    """Scale evidence for the MERGE key-prune: with enough files for
    the range-prune gate to engage (> PRUNE_MIN_FILES), a point MERGE
    on one key must rewrite ONLY the file containing it — at 1e5 files
    this is the difference between touching one file and the table."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t"
    )
    nfiles = PRUNE_MIN_FILES + 4
    for i in range(nfiles):
        t.insert(
            spark.createDataFrame(
                [(i * 100 + j, 1, f"v{i}_{j}") for j in range(10)],
                "id long, ver long, val string",
            ),
            dedup_batch=False,
        )
    before = {e["path"] for e in t.current_files()}
    assert len(before) >= nfiles
    src = spark.createDataFrame([(505, 2, "updated")], "id long, ver long, val string")
    t.merge_into(
        src, on="t.id = s.id", matched=[("update", None, {"val": "s.val"})]
    )
    after = {e["path"] for e in t.current_files()}
    removed = before - after
    assert len(removed) == 1, (
        f"point merge rewrote {len(removed)} files, expected 1"
    )
    row = [r for r in t.snapshot().where("id = 505").collect()]
    assert row[0].val == "updated"


def test_streaming_foreachbatch_sql_merge(spark, tpath):
    """Surfaces compose: a Structured Streaming feed whose foreachBatch
    sink runs a MERGE INTO statement string per micro-batch (upsert +
    tombstone routing through the SQL front-end), landing the same
    final state as a batch merge of the whole feed."""
    src = Table.create(
        spark, tpath + "_src", key="id", precombine="ver", table_name="src"
    )
    src.insert(
        spark.createDataFrame(
            [(1, 1, "a", False), (2, 1, "b", False)],
            "id long, ver long, val string, del boolean",
        ),
        dedup_batch=False,
    )
    src.insert(
        spark.createDataFrame(
            [(2, 2, "b2", True), (3, 1, "c", False)],
            "id long, ver long, val string, del boolean",
        ),
        dedup_batch=False,
    )
    gold = Table.create(
        spark, tpath + "_gold", key="id", precombine="ver", table_name="gold"
    )
    gold.bulk_insert(
        spark.createDataFrame(
            [(0, 0, "seed")], "id long, ver long, val string"
        )
    )

    def sink(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        # foreachBatch runs on a cloned session — register the view and
        # resolve the MERGE source on THAT session, not the outer one.
        # Standard CDC-apply: pre-dedup the micro-batch to the newest
        # row per key, so a key's insert+tombstone arriving in ONE
        # batch resolves to the tombstone (and never trips the MERGE
        # cardinality gate).
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy("id").orderBy(F.desc("ver"))
        (
            batch_df.drop("_commit_time")
            .withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
            .createOrReplaceTempView("mi_batch")
        )
        sql_dml.execute(
            batch_df.sparkSession,
            """
            MERGE INTO gold t USING mi_batch s ON t.id = s.id
            WHEN MATCHED AND s.del THEN DELETE
            WHEN MATCHED THEN UPDATE SET val = s.val, ver = s.ver
            WHEN NOT MATCHED AND NOT s.del THEN
                INSERT (id, ver, val) VALUES (s.id, s.ver, s.val)
            """,
            {"gold": gold},
        )

    q = (
        src.read_stream()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tpath + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.val) for r in gold.snapshot().select("id", "val").collect()
    )
    # id 2 outcome depends on whether the two commits arrived in one
    # micro-batch (tombstone wins within the batch via clause order on
    # the deduped newest row) or two (insert then delete) — both end
    # deleted; ids 1 and 3 land, seed row 0 untouched
    assert got == [(0, "seed"), (1, "a"), (3, "c")]


def test_merge_into_composes_with_cdc(spark, tpath):
    """CDC over a MERGE INTO commit reports exactly the claimed rows:
    updates restamped (update), deleted keys (delete), inserted keys
    (insert) — matched rows no clause claimed carry their old stamp
    and stay OUT of the change set."""
    t = make(spark, tpath)
    begin = t.latest_commit()
    src = spark.createDataFrame(
        [(1, 2, "A", "U"), (2, 2, None, "D"), (3, 2, "c", "skip"), (4, 1, "d", "I")],
        "id long, ver long, val string, act string",
    )
    t.merge_into(
        src,
        on="t.id = s.id",
        matched=[
            ("delete", "s.act = 'D'", None),
            ("update", "s.act = 'U'", {"val": "s.val", "ver": "s.ver"}),
        ],
        not_matched=[("insert", None, {"id": "s.id", "ver": "s.ver", "val": "s.val"})],
    )
    changes = {
        r.id: r._change_type
        for r in t.changes(begin).select("id", "_change_type").collect()
    }
    assert changes == {1: "update", 2: "delete", 4: "insert"}


# -- WHEN NOT MATCHED BY SOURCE ----------------------------------------


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_by_source_clauses_first_match_wins(spark, tpath, table_type):
    """The third ANSI clause family: target rows with NO source match
    take the first NOT MATCHED BY SOURCE clause whose condition holds —
    here a conditional DELETE then an unconditional UPDATE — while
    matched rows and source inserts behave as before, all in ONE
    commit and identically on both table types."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(2, 9, "m", 21.0), (9, 1, "new", 90.0)],
        "id long, ver long, val string, amt double",
    )
    src.createOrReplaceTempView("by_src_v")
    sql_dml.execute(
        spark,
        "MERGE INTO tgt USING by_src_v AS s ON tgt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val, amt = s.amt "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND tgt.id = 3 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET val = 'stale'",
        {"tgt": t},
    )
    assert snap(t) == [
        (1, "stale", 10.0),   # unmatched-by-source, second clause
        (2, "m", 21.0),       # matched update
        (9, "new", 90.0),     # source insert
    ]                          # 3 deleted by the first by-source clause


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_by_source_only_statement(spark, tpath, table_type):
    """A sync-style merge with ONLY a by-source clause (no matched /
    insert family) — every target key absent from the source is
    deleted; present keys carry through byte-identical (original
    _commit_time preserved on COW)."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        META_COL,
    )

    t = make(spark, tpath, table_type=table_type)
    before = {r.id: r[META_COL] for r in t.snapshot().collect()}
    src = spark.createDataFrame([(1,), (3,)], "id long")
    t.merge_into(
        src,
        on="t.id = s.id",
        not_matched_by_source=[("delete", None, None)],
    )
    assert snap(t) == [(1, "a", 10.0), (3, "c", 30.0)]
    after = {r.id: r[META_COL] for r in t.snapshot().collect()}
    assert after == {k: v for k, v in before.items() if k in (1, 3)}


def test_merge_by_source_rejects_source_references(spark, tpath):
    t = make(spark, tpath)
    src = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="only the target"):
        t.merge_into(
            src, on="t.id = s.id",
            not_matched_by_source=[("update", "s.id > 0", {"val": "'x'"})],
        )
    with pytest.raises(ValueError, match="only the target"):
        t.merge_into(
            src, on="t.id = s.id",
            not_matched_by_source=[("delete", None, None),
                                   ("update", None, {"val": "s.val"})],
        )


def test_parse_merge_by_source_and_by_target():
    p = sql_dml.parse_merge(
        "MERGE INTO a USING b ON a.k = b.k "
        "WHEN NOT MATCHED BY TARGET THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND a.f < 0 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET f = 0"
    )
    assert p["not_matched"] == [("insert", None, None)]
    assert p["not_matched_by_source"] == [
        ("delete", "a.f < 0", None),
        ("update", None, {"f": "0"}),
    ]
    with pytest.raises(ValueError, match="no BY qualifier"):
        sql_dml.parse_merge(
            "MERGE INTO a USING b ON a.k = b.k "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_by_source_insert_wins_on_collision(spark, tpath, table_type):
    """Insert-wins extends to the by-source family: when a non-key ON
    lets an unmatched source row insert a key that a by-source clause
    would simultaneously delete/update, the insert takes precedence on
    BOTH table types (same resolution as matched update/delete)."""
    t = make(spark, tpath, table_type=table_type)
    # no target row has val 'zzz' -> nothing matches; every target row
    # is unmatched-by-source; source inserts key 2 with fresh payload
    src = spark.createDataFrame(
        [(2, 9, "zzz", 99.0)], "id long, ver long, val string, amt double"
    )
    t.merge_into(
        src,
        on="t.id = s.id AND t.val = s.val",
        not_matched=[("insert", None, None)],
        not_matched_by_source=[("delete", None, None)],
    )
    assert snap(t) == [(2, "zzz", 99.0)]  # 1,3 deleted; 2 = the insert


# -- MERGE WITH SCHEMA EVOLUTION ---------------------------------------


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_schema_evolution_widens_target(spark, tpath, table_type):
    """MERGE WITH SCHEMA EVOLUTION: source columns the target has never
    seen widen the schema — matched rows take the new value, untouched
    and carried rows surface NULL, inserts carry it, and both table
    types land the identical state."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(2, 9, "hot"), (7, 1, "cold")],
        "id long, ver long, tier string",
    )
    src.createOrReplaceTempView("evo_src")
    sql_dml.execute(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO tgt USING evo_src s "
        "ON tgt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET tier = s.tier, ver = s.ver "
        "WHEN NOT MATCHED THEN "
        "INSERT (id, ver, tier) VALUES (s.id, s.ver, s.tier)",
        {"tgt": t},
    )
    got = sorted(
        (r.id, r.val, r.tier)
        for r in t.snapshot().select("id", "val", "tier").collect()
    )
    assert got == [
        (1, "a", None),      # untouched file, evolved read -> null
        (2, "b", "hot"),     # matched update wrote the new column
        (3, "c", None),      # carried through the rewrite -> null
        (7, None, "cold"),   # insert: old columns null, new one set
    ]


def test_merge_without_evolution_still_rejects_unknown_columns(
    spark, tpath
):
    t = make(spark, tpath)
    src = spark.createDataFrame([(2, "x")], "id long, tier string")
    with pytest.raises(ValueError, match="unknown column"):
        t.merge_into(
            src, on="t.id = s.id",
            matched=[("update", None, {"tier": "s.tier"})],
        )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_schema_evolution_insert_star_carries_new_columns(
    spark, tpath, table_type
):
    """INSERT * under evolution maps every source column, including the
    brand-new ones, and a later plain merge still works against the
    widened schema."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(8, 1, "h", 80.0, 42)],
        "id long, ver long, val string, amt double, score long",
    )
    t.merge_into(
        src, on="t.id = s.id",
        not_matched=[("insert", None, None)],
        evolve_schema=True,
    )
    rows = {r.id: r.score for r in t.snapshot().select("id", "score").collect()}
    assert rows == {1: None, 2: None, 3: None, 8: 42}
    # follow-up NON-evolving merge on the widened schema
    t.merge_into(
        spark.createDataFrame([(8, 2, 43)], "id long, ver long, score long"),
        on="t.id = s.id",
        matched=[("update", None, {"score": "s.score", "ver": "s.ver"})],
    )
    assert {
        r.id: r.score for r in t.snapshot().select("id", "score").collect()
    } == {1: None, 2: None, 3: None, 8: 43}


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_evolution_with_by_source_clause(spark, tpath, table_type):
    """The two new families compose: one evolving statement widens the
    schema AND flags target rows absent from the source by writing the
    NEW column on them (by-source SETs may target evolved columns with
    literal values — they just can't reference the source)."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame(
        [(2, 9, "fresh")], "id long, ver long, state string"
    )
    t.merge_into(
        src,
        on="t.id = s.id",
        matched=[("update", None, {"state": "s.state"})],
        not_matched_by_source=[("update", None, {"state": "'stale'"})],
        evolve_schema=True,
    )
    got = sorted(
        (r.id, r.val, r.state)
        for r in t.snapshot().select("id", "val", "state").collect()
    )
    assert got == [
        (1, "a", "stale"),
        (2, "b", "fresh"),
        (3, "c", "stale"),
    ]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_by_source_only_multi_matched_target_not_duplicated(
    spark, tpath, table_type
):
    """Code-review regression: a by-source-ONLY statement (no MATCHED
    clause, so no cardinality gate) whose target row is matched by
    MULTIPLE source rows must carry that row through exactly once —
    the COW rewrite used a fan-out left join and persisted duplicate
    keys; membership is now tagged with semi/anti joins."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame([(1,), (1,), (1,)], "id long")
    t.merge_into(
        src, on="t.id = s.id",
        not_matched_by_source=[("delete", None, None)],
    )
    assert snap(t) == [(1, "a", 10.0)]  # kept ONCE; 2 and 3 deleted


def test_by_source_guard_ignores_quoted_literals(spark, tpath):
    """Code-review regression: a string literal containing 's.' inside
    a by-source SET/condition is not a source reference."""
    t = make(spark, tpath)
    src = spark.createDataFrame([(1,)], "id long")
    t.merge_into(
        src, on="t.id = s.id",
        not_matched_by_source=[
            ("update", "t.val != 's.skip'", {"val": "concat(t.val, 's.x')"})
        ],
    )
    assert snap(t) == [(1, "a", 10.0), (2, "bs.x", 20.0), (3, "cs.x", 30.0)]
    # real source references still raise
    with pytest.raises(ValueError, match="only the target"):
        t.merge_into(
            src, on="t.id = s.id",
            not_matched_by_source=[("update", None, {"val": "s.val"})],
        )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_evolution_persists_on_noop_statement(
    spark, tpath, table_type
):
    """Code-review regression: MERGE WITH SCHEMA EVOLUTION that touches
    ZERO rows (disjoint source) must still widen the table schema in
    its commit — Delta evolves transactionally even at 0 rows; the
    no-op publish used to record schema None, silently dropping the
    widening."""
    t = make(spark, tpath, table_type=table_type)
    src = spark.createDataFrame([(99, 1, "x")], "id long, ver long, tier string")
    t.merge_into(
        src,
        on="t.id = s.id",
        matched=[("update", None, {"tier": "s.tier"})],  # no key matches
        evolve_schema=True,
    )
    assert "tier" in t.snapshot().columns
    # follow-up non-evolving statement may now target the column
    t.merge_into(
        spark.createDataFrame([(2, "set")], "id long, tier string"),
        on="t.id = s.id",
        matched=[("update", None, {"tier": "s.tier"})],
    )
    got = {r.id: r.tier for r in t.snapshot().select("id", "tier").collect()}
    assert got == {1: None, 2: "set", 3: None}


# -- INSERT OVERWRITE statement route ------------------------------------


def make_part(spark, path):
    t = Table.create(
        spark,
        path,
        key="id",
        precombine="ver",
        partition_fields=["p"],
        table_name="tp",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0), (2, 1, "a", 20.0), (3, 1, "b", 30.0)],
            "id long, ver long, p string, amt double",
        )
    )
    return t


def psnap(t):
    return sorted(
        (r.id, r.p, r.amt) for r in t.snapshot().select("id", "p", "amt").collect()
    )


def test_insert_overwrite_static_partition_spec(spark, tpath):
    """PARTITION (p = 'a') replaces exactly that partition; 'b' rows and
    files are untouched; the spec column is filled from the literal."""
    t = make_part(spark, tpath)
    before_b = [e["path"] for e in t.current_files() if e["partition"]["p"] == "b"]
    spark.createDataFrame(
        [(9, 2, 90.0)], "id long, ver long, amt double"
    ).createOrReplaceTempView("iow_static_src")
    sql_dml.execute(
        spark,
        "INSERT OVERWRITE t PARTITION (p = 'a') "
        "SELECT id, ver, amt FROM iow_static_src",
        {"t": t},
    )
    assert psnap(t) == [(3, "b", 30.0), (9, "a", 90.0)]
    after_b = [e["path"] for e in t.current_files() if e["partition"]["p"] == "b"]
    assert after_b == before_b  # partition 'b' files byte-untouched


def test_insert_overwrite_mode_conf_static_vs_dynamic(spark, tpath):
    """Without a PARTITION spec, spark.sql.sources.partitionOverwriteMode
    decides: dynamic replaces only the partitions in the batch, the
    static default replaces the whole table (Spark's own contract)."""
    t = make_part(spark, tpath)
    key = "spark.sql.sources.partitionOverwriteMode"
    # build_session pins this conf to "dynamic" (the reference's job
    # conf), so assert both modes explicitly and restore the session's
    # value afterwards
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        sql_dml.execute(
            spark, "INSERT OVERWRITE TABLE t VALUES (7, 2, 'b', 70.0)", {"t": t}
        )
        assert psnap(t) == [(1, "a", 10.0), (2, "a", 20.0), (7, "b", 70.0)]
        spark.conf.set(key, "static")
        sql_dml.execute(
            spark, "INSERT OVERWRITE t VALUES (5, 3, 'c', 50.0)", {"t": t}
        )
        assert psnap(t) == [(5, "c", 50.0)]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_insert_overwrite_preserves_table_column_order(spark, tpath):
    """A static-spec overwrite appends the partition literal to the
    batch; the commit must still publish the TABLE's column order, or
    the next positional INSERT maps onto the wrong columns."""
    t = make_part(spark, tpath)
    spark.createDataFrame(
        [(8, 2, 80.0)], "id long, ver long, amt double"
    ).createOrReplaceTempView("iow_order_src")
    sql_dml.execute(
        spark,
        "INSERT OVERWRITE t PARTITION (p = 'a') "
        "SELECT id, ver, amt FROM iow_order_src",
        {"t": t},
    )
    assert [f.name for f in t.effective_schema().fields if f.name != "_commit_time"] == [
        "id",
        "ver",
        "p",
        "amt",
    ]
    # positional INSERT INTO right after the overwrite still maps cleanly
    sql_dml.execute(spark, "INSERT INTO t VALUES (6, 1, 'c', 60.0)", {"t": t})
    assert (6, "c", 60.0) in psnap(t)


def test_insert_overwrite_rejections(spark, tpath):
    t = make_part(spark, tpath)
    with pytest.raises(ValueError, match="only supported with INSERT OVERWRITE"):
        sql_dml.execute(
            spark, "INSERT INTO t PARTITION (p = 'a') VALUES (1, 1, 10.0)", {"t": t}
        )
    with pytest.raises(ValueError, match="static `col = literal`"):
        sql_dml.execute(
            spark, "INSERT OVERWRITE t PARTITION (p) VALUES (1, 1, 'a', 10.0)", {"t": t}
        )
    with pytest.raises(ValueError, match="exactly the table's partition fields"):
        sql_dml.execute(
            spark, "INSERT OVERWRITE t PARTITION (x = 1) VALUES (1, 1, 10.0)", {"t": t}
        )
    with pytest.raises(ValueError, match="column list and the static PARTITION"):
        sql_dml.execute(
            spark,
            "INSERT OVERWRITE t PARTITION (p = 'a') (id, ver, p, amt) "
            "VALUES (1, 1, 'a', 10.0)",
            {"t": t},
        )


def test_delete_from_without_where_deletes_all(spark, tpath):
    t = make(spark, tpath)
    sql_dml.execute(spark, "DELETE FROM t", {"t": t})
    assert t.snapshot().count() == 0
    # one commit; pre-delete state still time-travels
    assert t.snapshot(as_of=t.commits()[-2]).count() == 3


def test_insert_overwrite_static_spec_empty_select_clears_partition(
    spark, tpath
):
    """Spark's static-spec contract: the NAMED partition clears even
    when the query produces zero rows (removal resolves from the spec,
    never the batch)."""
    t = make_part(spark, tpath)
    spark.createDataFrame(
        [], "id long, ver long, amt double"
    ).createOrReplaceTempView("iow_empty_src")
    sql_dml.execute(
        spark,
        "INSERT OVERWRITE t PARTITION (p = 'a') "
        "SELECT id, ver, amt FROM iow_empty_src",
        {"t": t},
    )
    assert psnap(t) == [(3, "b", 30.0)]


def test_insert_overwrite_static_spec_literal_codec(spark, tmp_path):
    """A static spec literal casts through the TABLE's partition type
    before matching directories: '5' against a double partition column
    must clear the '5.0' partition."""
    t = Table.create(
        spark, str(tmp_path / "pc"), key="id", precombine="ver",
        partition_fields=["p"], table_name="pc",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, 5.0, 10.0), (2, 1, 6.0, 20.0)],
            "id long, ver long, p double, amt double",
        )
    )
    sql_dml.execute(
        spark,
        "INSERT OVERWRITE pc PARTITION (p = 5) "
        "SELECT 9 AS id, 2 AS ver, 90.0 AS amt",
        {"pc": t},
    )
    got = sorted((r.id, r.p, r.amt) for r in t.snapshot().collect())
    assert got == [(2, 6.0, 20.0), (9, 5.0, 90.0)]


# ---------------------------------------------------------------------------
# DELETE / UPDATE with subqueries (IN / NOT IN / EXISTS / scalar)
# ---------------------------------------------------------------------------


def test_contains_subquery_lexing():
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sqltext import (
        contains_subquery,
    )

    assert contains_subquery("id IN (SELECT x FROM v)")
    assert contains_subquery("amt > (  select max(a) FROM v)")
    assert contains_subquery("a = 1 AND EXISTS (/*c*/SELECT 1)")
    assert not contains_subquery("val = '(SELECT'")
    assert not contains_subquery('val = "(SELECT 1)"')
    assert not contains_subquery("a IN (1, 2, 3) -- (SELECT hidden)")
    assert not contains_subquery("selector = 1 AND (a OR b)")


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_delete_in_subquery(spark, tpath, table_type):
    t = make(spark, tpath, table_type=table_type)
    spark.createDataFrame([(1,), (3,)], "sid long").createOrReplaceTempView(
        "subq_del_ids"
    )
    try:
        sql_dml.execute(
            spark,
            "DELETE FROM t WHERE id IN (SELECT sid FROM subq_del_ids)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_del_ids")
    assert snap(t) == [(2, "b", 20.0)]


def test_delete_not_in_subquery(spark, tpath):
    t = make(spark, tpath)
    spark.createDataFrame([(2,)], "sid long").createOrReplaceTempView(
        "subq_keep_ids"
    )
    try:
        sql_dml.execute(
            spark,
            "DELETE FROM t WHERE id NOT IN (SELECT sid FROM subq_keep_ids)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_keep_ids")
    assert snap(t) == [(2, "b", 20.0)]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_update_scalar_subquery_self_reference(spark, tpath, table_type):
    """The scalar subquery reads the TARGET's pre-statement snapshot
    (max(amt)=30, threshold 15 -> ids 2 and 3 update; the new amt
    values must NOT re-enter the threshold — simultaneous semantics)."""
    t = make(spark, tpath, table_type=table_type)
    sql_dml.execute(
        spark,
        "UPDATE t SET val = 'X' WHERE amt > (SELECT max(amt) / 2 FROM t)",
        {"t": t},
    )
    assert snap(t) == [(1, "a", 10.0), (2, "X", 20.0), (3, "X", 30.0)]


def test_update_subquery_in_set_expression(spark, tpath):
    t = make(spark, tpath)
    sql_dml.execute(
        spark,
        "UPDATE t SET amt = (SELECT max(amt) FROM t) WHERE id = 1",
        {"t": t},
    )
    assert snap(t) == [(1, "a", 30.0), (2, "b", 20.0), (3, "c", 30.0)]


def test_update_subquery_simultaneous_assignment(spark, tpath):
    """Every SET evaluates against the OLD row even on the subquery
    path (one projection, not sequential assignment)."""
    t = make(spark, tpath)
    spark.createDataFrame([(1,), (2,)], "sid long").createOrReplaceTempView(
        "subq_upd_ids"
    )
    try:
        sql_dml.execute(
            spark,
            "UPDATE t SET amt = amt * 2, val = concat(val, '!') "
            "WHERE id IN (SELECT sid FROM subq_upd_ids)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_upd_ids")
    assert snap(t) == [(1, "a!", 20.0), (2, "b!", 40.0), (3, "c", 30.0)]


def test_update_subquery_rejects_structural_and_unknown(spark, tpath):
    t = make(spark, tpath)
    with pytest.raises(ValueError, match="structural"):
        sql_dml.execute(
            spark,
            "UPDATE t SET id = 9 WHERE amt > (SELECT min(amt) FROM t)",
            {"t": t},
        )
    with pytest.raises(ValueError, match="unknown column"):
        sql_dml.execute(
            spark,
            "UPDATE t SET nope = 9 WHERE amt > (SELECT min(amt) FROM t)",
            {"t": t},
        )


def test_delete_subquery_empty_match_is_noop_commit(spark, tpath):
    t = make(spark, tpath)
    before = snap(t)
    spark.createDataFrame([(99,)], "sid long").createOrReplaceTempView(
        "subq_miss_ids"
    )
    try:
        sql_dml.execute(
            spark,
            "DELETE FROM t WHERE id IN (SELECT sid FROM subq_miss_ids)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_miss_ids")
    assert snap(t) == before


def test_quoted_select_literal_stays_on_expression_path(spark, tpath):
    """'(SELECT' inside a string literal must NOT trigger the subquery
    route (the expression path evaluates it as a plain comparison)."""
    t = make(spark, tpath)
    before = snap(t)
    sql_dml.execute(spark, "DELETE FROM t WHERE val = '(SELECT'", {"t": t})
    assert snap(t) == before


def test_delete_correlated_exists_subquery(spark, tpath):
    t = make(spark, tpath)
    spark.createDataFrame([(1,), (3,)], "sid long").createOrReplaceTempView(
        "subq_exists_ids"
    )
    try:
        sql_dml.execute(
            spark,
            "DELETE FROM t WHERE EXISTS "
            "(SELECT 1 FROM subq_exists_ids e WHERE e.sid = t.id)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_exists_ids")
    assert snap(t) == [(2, "b", 20.0)]


# ---------------------------------------------------------------------------
# OPTIMIZE ... WHERE (partition-scoped compaction)
# ---------------------------------------------------------------------------


def make_2part(spark, path, **kw):
    t = Table.create(
        spark, path, key="id", precombine="ver", table_name="t",
        partition_fields=["p"], max_records_per_file=2, **kw
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 6 else "b", i * 1.0) for i in range(12)],
            "id long, ver long, p string, amt double",
        )
    )
    return t


def test_optimize_where_rewrites_only_the_partition(spark, tpath):
    t = make_2part(spark, tpath)
    before = {e["path"] for e in t.current_files()}
    b_files = {p for p in before if "p=b" in p}
    a_files = before - b_files
    assert len(a_files) > 1 and len(b_files) > 1
    c = sql_dml.execute(spark, "OPTIMIZE t WHERE p = 'a'", {"t": t})
    assert c and t._manifest(c)["action"] == "replace"
    after = {e["path"] for e in t.current_files()}
    assert b_files <= after, "untouched partition must keep its files"
    assert not (a_files & after), "scoped partition must be rewritten"
    got = sorted((r.id, r.p) for r in t.snapshot().collect())
    assert got == [(i, "a" if i < 6 else "b") for i in range(12)]


def test_optimize_where_fail_closed_and_empty_scope(spark, tpath):
    t = make_2part(spark, tpath)
    with pytest.raises(ValueError, match="partition_col"):
        sql_dml.execute(spark, "OPTIMIZE t WHERE id < 3", {"t": t})
    with pytest.raises(ValueError, match="partition_col"):
        sql_dml.execute(
            spark, "OPTIMIZE t WHERE p = 'a' OR p = 'b'", {"t": t}
        )
    last = t.latest_commit()
    assert sql_dml.execute(spark, "OPTIMIZE t WHERE p = 'zz'", {"t": t}) == ""
    assert t.latest_commit() == last  # empty scope publishes nothing


def test_optimize_where_zorder_within_scope(spark, tpath):
    t = make_2part(spark, tpath)
    c = sql_dml.execute(
        spark, "OPTIMIZE t WHERE p = 'b' ZORDER BY (id, amt)", {"t": t}
    )
    assert c and t.snapshot().count() == 12


def test_optimize_where_mor_with_deltas_raises(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = make_2part(spark, tpath + "_mor", table_type="mor")
    t.upsert(
        spark.createDataFrame(
            [(0, 2, "a", 99.0)], "id long, ver long, p string, amt double"
        )
    )
    with pytest.raises(ValueError, match="delta"):
        sql_dml.execute(spark, "OPTIMIZE t WHERE p = 'a'", {"t": t})
    # full compact folds the deltas; the scoped form then works
    TableServices(t).compact()
    c = sql_dml.execute(spark, "OPTIMIZE t WHERE p = 'a'", {"t": t})
    assert c and t.snapshot().where("id = 0").collect()[0]["amt"] == 99.0


def test_contains_subquery_escaped_quotes():
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sqltext import (
        contains_subquery,
    )

    # Spark's lexer honors backslash escapes: the literal is ONE string
    assert contains_subquery(r"val = 'it\'s' AND id IN (SELECT sid FROM v)")
    assert not contains_subquery(r"val = 'it\'s (SELECT nope)'")


def test_delete_subquery_with_escaped_quote_literal(spark, tpath):
    t = make(spark, tpath)
    spark.createDataFrame([(1,)], "sid long").createOrReplaceTempView(
        "subq_esc_ids"
    )
    try:
        sql_dml.execute(
            spark,
            r"DELETE FROM t WHERE val != 'it\'s' "
            r"AND id IN (SELECT sid FROM subq_esc_ids)",
            {"t": t},
        )
    finally:
        spark.catalog.dropTempView("subq_esc_ids")
    assert snap(t) == [(2, "b", 20.0), (3, "c", 30.0)]


def test_subquery_self_reference_ignores_stale_view(spark, tpath):
    """Review repro: a pre-existing temp view named like the target must
    NOT shadow the pre-statement snapshot for self-references."""
    t = make(spark, tpath)
    spark.createDataFrame(
        [(99, 1, "zz", 1000.0)], "id long, ver long, val string, amt double"
    ).createOrReplaceTempView("t")
    try:
        sql_dml.execute(
            spark,
            "UPDATE t SET val = 'X' WHERE amt > (SELECT max(amt) / 2 FROM t)",
            {"t": t},
        )
        # threshold came from the SNAPSHOT (max 30 / 2 = 15), not the
        # stale view (1000 / 2 = 500 would have updated nothing)
        assert snap(t) == [(1, "a", 10.0), (2, "X", 20.0), (3, "X", 30.0)]
        # ... and the user's view is restored after the statement, not
        # silently destroyed (r10 advice item)
        assert [r[0] for r in spark.table("t").select("id").collect()] == [99]
    finally:
        spark.catalog.dropTempView("t")


def test_subquery_restores_preexisting_temp_view(spark, tpath):
    """A user temp view sharing the target's name survives subquery DML
    (shadowed during the statement, re-registered after); with no such
    view, the scratch binding is dropped cleanly."""
    t = make(spark, tpath)
    spark.createDataFrame([(7, "keepme")], "id long, tag string")\
        .createOrReplaceTempView("t")
    try:
        sql_dml.execute(
            spark,
            "DELETE FROM t WHERE id IN (SELECT id FROM t WHERE amt > 25)",
            {"t": t},
        )
        assert snap(t) == [(1, "a", 10.0), (2, "b", 20.0)]
        assert spark.table("t").collect()[0]["tag"] == "keepme"
    finally:
        spark.catalog.dropTempView("t")
    # no pre-existing view: the statement leaves no binding behind
    sql_dml.execute(
        spark,
        "DELETE FROM t WHERE id IN (SELECT id FROM t WHERE amt > 15)",
        {"t": t},
    )
    assert not any(
        v.name == "t" and v.isTemporary for v in spark.catalog.listTables()
    )
    assert snap(t) == [(1, "a", 10.0)]


def test_delete_subquery_on_zero_commit_table(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_session import (
        SqlSession,
    )

    sess = SqlSession(spark, base_dir=str(tmp_path))
    sess.sql(
        "CREATE TABLE empt (id bigint, ver bigint) USING engine "
        "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver')"
    )
    sess.sql(
        "CREATE TABLE bans2 (id bigint, ver bigint) USING engine "
        "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver')"
    )
    sess.sql("INSERT INTO bans2 VALUES (1, 1)")
    # zero-commit target reads as 0 rows — a clean no-op, not an error
    c = sess.sql("DELETE FROM empt WHERE id IN (SELECT id FROM bans2)")
    assert isinstance(c, str)


def test_vacuum_retain_hours(spark, tpath):
    """VACUUM t RETAIN n HOURS routes to the time-based cleaner."""
    import json
    import os
    from datetime import datetime, timedelta, timezone

    t = make(spark, tpath)
    sql_dml.execute(spark, "UPDATE t SET amt = amt + 1 WHERE id = 1", {"t": t})
    sql_dml.execute(spark, "UPDATE t SET amt = amt + 1 WHERE id = 1", {"t": t})
    c1, c2, _ = t.commits()
    for c in (c1, c2):
        p = os.path.join(t.path, "_commits", f"{c}.json")
        m = json.load(open(p))
        m["ts"] = (
            datetime.now(timezone.utc) - timedelta(hours=10)
        ).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        json.dump(m, open(p, "w"))
    t2 = Table.load(spark, t.path)
    out = sql_dml.execute(spark, "VACUUM t RETAIN 5 HOURS", {"t": t2})
    assert out == t2.latest_commit()  # vacuum publishes no commit
    assert snap(t2) == [(1, "a", 12.0), (2, "b", 20.0), (3, "c", 30.0)]
    # aged commits' retired files are gone: time travel to c1 breaks
    with pytest.raises(Exception):
        t2.snapshot(as_of=c1).collect()
    # fractional hours parse; fractional COMMITS do not
    sql_dml.execute(spark, "VACUUM t RETAIN 0.5 HOURS", {"t": t2})
    with pytest.raises(ValueError, match="integer"):
        sql_dml.execute(spark, "VACUUM t RETAIN 1.5 COMMITS", {"t": t2})


def test_unified_walker_adversarial():
    """One adversarial statement mixing backslash escapes, line and
    block comments, double-quoted literals, and backtick identifiers
    must lex identically through all three adapter paths (r11 lexer
    unification — scan_top / blank_strings / _strip_quoted are thin
    views over sqltext.walk)."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sqltext import (
        blank_strings,
        scan_top,
        split_top,
        walk,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_session import (
        _strip_quoted,
    )

    s = (
        "SELECT a FROM t WHERE x = 'it\\'s AND (not) a -- keyword' "
        'AND y = "quo\\"ted AND more" -- real comment AND z = 1\n'
        "AND `weird AND name` = 2 /* block AND ( comment */ AND w = 3"
    )
    # walk() tiles the string exactly once, in order
    segs = list(walk(s))
    assert "".join(s[a:b] for _, a, b in segs) == s
    assert [k for k, _, _ in segs].count("comment") == 2
    assert [k for k, _, _ in segs].count("string") == 2
    assert [k for k, _, _ in segs].count("backtick") == 1
    # scan_top sees exactly the three real top-level ANDs
    spans = scan_top(s, r"\bAND\b")
    assert len(spans) == 3
    parts = split_top(s, r"\bAND\b")
    assert len(parts) == 4
    assert parts[-1].strip() == "w = 3"
    # blank_strings is same-length and erases every quoted/commented AND
    b = blank_strings(s)
    assert len(b) == len(s)
    assert b.count("AND") == 3
    assert "keyword" not in b and "quo" not in b and "weird" not in b
    # _strip_quoted keeps backtick CONTENTS (identifiers) but drops
    # string literals AND comments (comments bound no views)
    sq = _strip_quoted(s)
    assert "weird AND name" in sq
    assert "keyword" not in sq and "real comment" not in sq
    assert "block" not in sq  # block comment blanked too
    # unterminated string: everything after the open quote is string
    assert blank_strings("SELECT 'oops FROM a").startswith("SELECT")


def test_rewrite_ident_quote_aware():
    """r14: identifier rewrite renames references only in text
    segments — literals (both quote styles), comments, and unrelated
    words survive; a backtick-quoted reference renames; unterminated
    quoting raises (the caller keeps that fail-closed)."""
    import pytest as _pytest
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sqltext import (
        rewrite_ident,
    )

    assert rewrite_ident("concat(col, 'col')", "col", "c2") == (
        "concat(c2, 'col')"
    )
    assert rewrite_ident('concat(col, "col")', "col", "c2") == (
        'concat(c2, "col")'
    )
    # word-boundary: col2 / mycol untouched
    assert rewrite_ident("col + col2 + mycol", "col", "c2") == (
        "c2 + col2 + mycol"
    )
    # backtick reference renames; backtick NON-match untouched
    assert rewrite_ident("upper(`col`) || `colx`", "col", "c2") == (
        "upper(`c2`) || `colx`"
    )
    # comments pass through
    assert rewrite_ident("col -- col\n+ col", "col", "c2") == (
        "c2 -- col\n+ c2"
    )
    # escaped quote inside a literal does not end it early
    assert rewrite_ident(r"concat(col, 'it\'s col')", "col", "c2") == (
        r"concat(c2, 'it\'s col')"
    )
    with _pytest.raises(ValueError, match="unterminated"):
        rewrite_ident("concat(col, 'oops", "col", "c2")
    with _pytest.raises(ValueError, match="unterminated"):
        rewrite_ident("upper(`col", "col", "c2")
