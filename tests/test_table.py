"""Table kernel unit tests (SURVEY §5 strategy item 2).

Covers: insert/update upsert semantics, within-batch precombine
tie-break, COW preservation of untouched rows' _commit_time, incremental
windows, delete, compaction invariants, cleaner GC, checkpointed reader
state machine (cold start / warm resume / empty batch / post-write
commit ordering).
"""

from __future__ import annotations

import os

import pytest

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.checkpoint import (
    CheckpointStore,
    IncrementalReader,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
    TableServices,
)


def rows_of(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def make_table(spark, path, **kw):
    return Table.create(
        spark, path, key="id", precombine="ver", table_name="t", **kw
    )


def df_of(spark, rows):
    return spark.createDataFrame(rows, "id long, ver long, val string")


def test_upsert_insert_then_update(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    c2 = t.upsert(df_of(spark, [(2, 2, "b2"), (3, 1, "c")]))
    assert c2 > c1
    snap = t.snapshot()
    assert rows_of(snap, "id", "ver", "val") == [(1, 1, "a"), (2, 2, "b2"), (3, 1, "c")]
    # COW: unchanged row keeps its original commit time
    by_id = {r["id"]: r["_commit_time"] for r in snap.collect()}
    assert by_id[1] == c1 and by_id[2] == c2 and by_id[3] == c2


def test_within_batch_precombine(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 5, "high"), (1, 3, "low"), (2, 1, "x")]))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "high"), (2, "x")]


def test_upsert_hot_key_batch_skew_safe(spark, tpath):
    """100 TB upsert skew: one key carries 50% of a batch's rows.

    Correctness: the hot key resolves to max(precombine) exactly like any
    other key. Scale design: the within-batch dedup must NOT be a
    row_number window (a window shuffles every row of the hot key onto
    ONE task, and AQE skew handling only splits sort-merge joins) — the
    plan is pinned to a partial-aggregatable max_by, whose map-side
    combine collapses the hot key to one row per upstream partition
    before the shuffle. No salting option is needed because no skewable
    operator remains in the path.
    """
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"base{k}") for k in range(100)]))
    hot = [(7, v + 2, f"hot{v}") for v in range(500)]  # key 7: 500 rows
    cold = [(k, 2, f"cold{k}") for k in range(100, 600)]
    batch = df_of(spark, hot + cold).repartition(16)
    t.upsert(batch)
    snap = t.snapshot()
    got = {r["id"]: (r["ver"], r["val"]) for r in snap.collect()}
    assert got[7] == (501, "hot499")  # max precombine wins on the hot key
    assert got[0] == (1, "base0") and got[100] == (2, "cold100")
    assert snap.count() == 600
    # plan pin: partial aggregation before the shuffle, no Window node
    plan = (
        t._dedup_batch(batch)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_max_by" in plan


def test_incoming_wins_on_equal_or_lower_precombine(spark, tpath):
    # Hudi default payload: incoming record replaces stored on upsert,
    # regardless of stored precombine.
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 9, "old")]))
    t.upsert(df_of(spark, [(1, 1, "new")]))
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 1, "new")]


def test_upsert_idempotent_rerun(spark, tpath):
    t = make_table(spark, tpath)
    batch = df_of(spark, [(1, 1, "a"), (2, 1, "b")])
    t.upsert(batch)
    t.upsert(batch)  # re-run same batch
    assert rows_of(t.snapshot(), "id", "ver", "val") == [(1, 1, "a"), (2, 1, "b")]


def test_incremental_windows(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    c2 = t.upsert(df_of(spark, [(2, 2, "b2"), (3, 1, "c")]))
    c3 = t.upsert(df_of(spark, [(4, 1, "d")]))
    assert rows_of(t.incremental(None), "id", "val") == [
        (1, "a"), (2, "b2"), (3, "c"), (4, "d")]
    assert rows_of(t.incremental(c1), "id", "val") == [(2, "b2"), (3, "c"), (4, "d")]
    assert rows_of(t.incremental(c1, c2), "id", "val") == [(2, "b2"), (3, "c")]
    assert rows_of(t.incremental(c3), "id", "val") == []


def test_delete(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]))
    t.delete(spark.createDataFrame([(2,)], "id long"))
    assert rows_of(t.snapshot(), "id") == [(1,), (3,)]
    # deleting a missing key is a no-op commit
    t.delete(spark.createDataFrame([(99,)], "id long"))
    assert rows_of(t.snapshot(), "id") == [(1,), (3,)]


def test_insert_appends_without_merge(spark, tpath):
    t = make_table(spark, tpath)
    t.insert(df_of(spark, [(1, 1, "a")]))
    t.insert(df_of(spark, [(1, 2, "dup")]))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a"), (1, "dup")]


def test_compaction_preserves_rows_and_commit_times(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(i, 1, f"v{i}") for i in range(20)]))
    t.upsert(df_of(spark, [(i, 2, f"u{i}") for i in range(0, 20, 4)]))
    before = rows_of(t.snapshot(), "id", "ver", "val", "_commit_time")
    TableServices(t).compact(sort_cols=["id"], target_records_per_file=7)
    after = rows_of(t.snapshot(), "id", "ver", "val", "_commit_time")
    assert before == after
    # clustering produced key-sorted, bounded files
    for e in t.current_files():
        assert (e["rows"] or 0) <= 7


def test_cleaner_gc(spark, tpath):
    t = make_table(spark, tpath)
    for i in range(6):
        t.upsert(df_of(spark, [(1, i, f"v{i}")]))
    all_files_before = {e["path"] for e in t.current_files()}
    deleted = TableServices(t).clean(retain_commits=2)
    assert deleted  # old retired versions physically removed
    # live files untouched, snapshot unaffected
    assert {e["path"] for e in t.current_files()} == all_files_before
    assert rows_of(t.snapshot(), "id", "val") == [(1, "v5")]
    for rel in deleted:
        assert not os.path.exists(os.path.join(t.path, rel))


def test_stats_pruning_snapshot_filter(spark, tpath):
    t = make_table(spark, tpath, partition_fields=["id"])
    t.bulk_insert(df_of(spark, [(i, 1, f"v{i}") for i in range(100)]))
    snap = t.snapshot(filters={"id": 5})
    assert (5, "v5") in rows_of(snap, "id", "val")


def test_checkpointed_reader_state_machine(spark, tpath, tmp_path):
    t = make_table(spark, tpath)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    reader = IncrementalReader(t, store)

    # empty timeline guard (reference IndexError case, SURVEY §2.6)
    df, hwm = reader.read()
    assert df is None and hwm is None

    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    df, hwm = reader.read()
    assert hwm == c1 and rows_of(df, "id") == [(1,), (2,)]
    # crash before commit → re-read sees the same batch (at-least-once)
    df2, hwm2 = reader.read()
    assert hwm2 == c1 and rows_of(df2, "id") == [(1,), (2,)]
    reader.commit(hwm)

    # no new commits → empty batch, no watermark
    df3, hwm3 = reader.read()
    assert hwm3 is None and df3.count() == 0

    c2 = t.upsert(df_of(spark, [(2, 2, "b2")]))
    df4, hwm4 = reader.read()
    assert hwm4 == c2 and rows_of(df4, "id", "val") == [(2, "b2")]
    reader.commit(hwm4)
    assert reader.last_processed() == c2


def test_checkpoint_double_encoded_compat(tmp_path):
    # reference writes json.dumps(json.dumps({...})) — storage shim reads it
    import json

    p = tmp_path / "ckpt" / "metadata" / "orders.json"
    p.parent.mkdir(parents=True)
    inner = json.dumps({"last_processed_commit": "00000000000000000003"})
    p.write_text(json.dumps(inner))
    store = CheckpointStore(str(tmp_path / "ckpt"))
    assert store.get("orders")["last_processed_commit"] == "00000000000000000003"


def test_schema_evolution_on_upsert(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    wider = spark.createDataFrame(
        [(2, 1, "b", "extra")], "id long, ver long, val string, note string"
    )
    t.upsert(wider)
    snap = t.snapshot()
    assert "note" in snap.columns
    got = {r["id"]: r["note"] for r in snap.collect()}
    assert got == {1: None, 2: "extra"}


def test_upsert_batch_validation(spark, tpath):
    import pytest as _pytest

    t = make_table(spark, tpath)
    bad = spark.createDataFrame([(1, "a")], "id long, val string")  # no ver
    with _pytest.raises(ValueError, match="missing required column"):
        t.upsert(bad)
    carrying_meta = spark.createDataFrame(
        [(1, 1, "a", "x")], "id long, ver long, val string, _commit_time string"
    )
    with _pytest.raises(ValueError, match="reserved meta column"):
        t.upsert(carrying_meta)


def test_concurrent_writer_collision_detected(spark, tpath):
    import pytest as _pytest

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    # simulate a second writer having published the next commit id
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        write_json,
    )

    write_json(f"{tpath}/_commits/{2:020d}.json", {"commit": f"{2:020d}"})
    t2 = Table.load(spark, tpath)
    # t2 computes next id from the timeline (3) — fine; but a writer that
    # raced to the same id must fail loudly at publish, naming the commit
    t.fs  # noqa: B018
    with _pytest.raises(RuntimeError, match=f"commit {2:020d}.*concurrent writer"):
        t._publish(f"{2:020d}", "upsert", [], [], None)


def test_concurrent_writers_racing_same_commit_id_one_wins(spark, tpath):
    """Two live Table handles race the SAME _next_commit id: exactly one
    publish wins; the loser's RuntimeError names the contested commit
    (the engine is single-writer-per-table by design — the pin is that a
    violated assumption is loud, never a silent manifest clobber)."""
    import pytest as _pytest

    t1 = make_table(spark, tpath)
    t1.upsert(df_of(spark, [(1, 1, "a")]))
    t2 = Table.load(spark, tpath)
    c1, c2 = t1._next_commit(), t2._next_commit()
    assert c1 == c2, "both writers must race the same commit id"
    t1._publish(c1, "insert", [], [], None)  # writer 1 wins
    with _pytest.raises(RuntimeError) as exc:
        t2._publish(c2, "insert", [], [], None)
    assert c2 in str(exc.value) and "concurrent writer" in str(exc.value)
    # the winner's manifest is intact (not clobbered by the loser)
    assert t1._manifest(c1)["action"] == "insert"


def test_hive_style_partition_layout(spark, tpath):
    """K3 parity: partitioned writes produce hive-style col=val directories
    (reference create_hudi_tables.py:151-155, hive_style_partitioning=true)
    discoverable by any external parquet reader."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        partition_fields=["state"], table_name="pt",
    )
    df = spark.createDataFrame(
        [(1, 1, "Ohio"), (2, 1, "Texas"), (3, 1, "Ohio")],
        "id long, ver long, state string",
    )
    commit = t.upsert(df)
    # write dirs are data/<commit>-<attempt-token>
    import glob as _glob

    [ddir] = _glob.glob(os.path.join(tpath, "data", f"{commit}-*"))
    subdirs = sorted(os.listdir(ddir))
    assert "state=Ohio" in subdirs and "state=Texas" in subdirs
    # partition values round-trip through the table read path
    assert rows_of(t.snapshot(), "id", "state") == [
        (1, "Ohio"), (2, "Texas"), (3, "Ohio")
    ]
    # ...and through an EXTERNAL plain-Spark read of the commit dir
    ext = spark.read.parquet(ddir)
    assert rows_of(ext, "id", "state") == [(1, "Ohio"), (2, "Texas"), (3, "Ohio")]
    # manifest records the partition value as min==max stats for pruning
    for e in t.current_files():
        lo, hi = e["stats"]["state"]
        assert lo == hi and lo in ("Ohio", "Texas")
    # upsert into one partition touches only that partition's files
    before = {e["path"] for e in t.current_files()}
    t.upsert(spark.createDataFrame([(1, 2, "Ohio")], "id long, ver long, state string"))
    removed = before - {e["path"] for e in t.current_files()}
    assert removed and all("state=Ohio" in p for p in removed)
    # a partitioned table keeps its writer's layout (one file per
    # partition value), not the rewrite's read-split sizing
    assert len(t.current_files()) == 2


def test_cleaner_respects_retirement_window(spark, tpath):
    """A file retired in the LATEST commit must survive clean(): snapshots
    as_of any of the last retain_commits commits still need it."""
    t = make_table(spark, tpath)
    commits = [t.upsert(df_of(spark, [(1, i, f"v{i}")])) for i in range(4)]
    # commit 4 just retired commit 3's file; retain_commits=2 protects
    # as_of commits[-3:] states
    deleted = TableServices(t).clean(retain_commits=2)
    for rel in deleted:
        assert not os.path.exists(os.path.join(t.path, rel))
    # time travel within the retention window still works
    old = t.snapshot(as_of=commits[-2])
    assert rows_of(old, "id", "val") == [(1, "v2")]
    older = t.snapshot(as_of=commits[-3])
    assert rows_of(older, "id", "val") == [(1, "v1")]


def test_merge_null_delete_flag_upserts(spark, tpath):
    """NULL delete flag = not a delete (MERGE INTO semantics)."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    src = spark.createDataFrame(
        [(1, 2, "a2", None), (2, 2, "b2", True), (3, 1, "c", False)],
        "id long, ver long, val string, _del boolean",
    )
    t.merge(src, delete_col="_del")
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a2"), (3, "c")]


def test_merge_cow_validates_batch(spark, tpath):
    """The COW branch of merge(delete_col=...) runs the same write-side
    validation as every other write path (r6 advice: it used to bypass
    _validate_batch, letting a type-drifted or reserved-column batch
    write silently)."""
    import pytest as _pytest

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    # type-class drift: val string -> val double must be refused
    drifted = spark.createDataFrame(
        [(1, 2, 3.5, False)], "id long, ver long, val double, _del boolean"
    )
    with _pytest.raises(ValueError, match="type class"):
        t.merge(drifted, delete_col="_del")
    # reserved meta column must be refused
    reserved = spark.createDataFrame(
        [(1, 2, "x", False, "c0")],
        "id long, ver long, val string, _del boolean, _commit_time string",
    )
    with _pytest.raises(ValueError, match="reserved"):
        t.merge(reserved, delete_col="_del")
    # table unchanged after both refusals
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a")]


def make_mor(spark, path, **kw):
    return Table.create(
        spark, path, key="id", precombine="ver", table_name="m",
        table_type="mor", **kw,
    )


def test_mor_upsert_is_append_only_and_merges_at_read(spark, tpath):
    t = make_mor(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    files_after_base = {e["path"] for e in t.current_files()}
    t.upsert(df_of(spark, [(2, 2, "b2"), (3, 1, "c")]))
    # delta commit removed NOTHING and rewrote nothing
    assert files_after_base <= {e["path"] for e in t.current_files()}
    assert all(
        e.get("kind", "base") == "delta"
        for e in t.current_files()
        if e["path"] not in files_after_base
    )
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a"), (2, "b2"), (3, "c")]
    # read-optimized view: base only (stale until compaction)
    assert rows_of(t.read_optimized(), "id", "val") == [(1, "a"), (2, "b")]


def test_mor_tombstone_delete_and_compaction(spark, tpath):
    t = make_mor(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]))
    t.upsert(df_of(spark, [(1, 2, "a2")]))
    t.delete(spark.createDataFrame([(2,)], "id long"))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a2"), (3, "c")]
    # newer upsert resurrects a tombstoned key
    t.upsert(df_of(spark, [(2, 3, "b3")]))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a2"), (2, "b3"), (3, "c")]
    # compaction folds deltas: _ro == snapshot, deltas gone from live set
    TableServices(t).compact(sort_cols=["id"])
    assert rows_of(t.read_optimized(), "id", "val") == rows_of(
        t.snapshot(), "id", "val"
    )
    assert all(e.get("kind", "base") == "base" for e in t.current_files())


def test_mor_incremental_merged_window(spark, tpath):
    t = make_mor(spark, tpath)
    c1 = t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    t.upsert(df_of(spark, [(1, 2, "a2"), (3, 1, "c")]))
    inc = t.incremental(begin=c1)
    # only keys whose WINNING version changed after c1, already merged
    assert rows_of(inc, "id", "val") == [(1, "a2"), (3, "c")]


def test_mor_merge_mixed(spark, tpath):
    t = make_mor(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    src = spark.createDataFrame(
        [(1, 2, "a2", None), (2, 2, "b2", True), (3, 1, "c", False)],
        "id long, ver long, val string, _del boolean",
    )
    t.merge(src, delete_col="_del")
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a2"), (3, "c")]


def test_mor_merge_is_single_commit(spark, tpath):
    """r5 verdict item 5: MOR merge with deletes must be ONE delta
    commit (one file set, one manifest) — the old upsert-then-tombstone
    two-commit shape let an incremental reader between them observe a
    torn merge (updates applied, deletes not)."""
    t = make_mor(spark, tpath)
    c0 = t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    src = spark.createDataFrame(
        [(1, 2, "a2", False), (2, 2, "x", True), (3, 1, "c", False)],
        "id long, ver long, val string, _del boolean",
    )
    cm = t.merge(src, delete_col="_del")
    # exactly one commit for the whole merge
    assert t.commits() == [c0, cm]
    assert int(cm) == int(c0) + 1
    # incremental over the boundary sees the full merge atomically
    inc = rows_of(t.incremental(begin=c0), "id", "val")
    assert inc == [(1, "a2"), (3, "c")]
    # CDC view over the same window shows update+insert+delete TOGETHER
    ch = {r["id"]: r["_change_type"] for r in t.changes_full(begin=c0).collect()}
    assert ch == {1: "update", 2: "delete", 3: "insert"}
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a2"), (3, "c")]
    # a key flagged BOTH ways in one source resolves to delete
    t2 = make_mor(spark, str(tpath) + "2")
    t2.bulk_insert(df_of(spark, [(7, 1, "z")]))
    both = spark.createDataFrame(
        [(7, 2, "upd", False), (7, 3, "del", True)],
        "id long, ver long, val string, _del boolean",
    )
    t2.merge(both, delete_col="_del")
    assert rows_of(t2.snapshot(), "id") == []


def test_mor_partitioned_snapshot(spark, tpath):
    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        partition_fields=["state"], table_name="mp", table_type="mor",
    )
    sch = "id long, ver long, val string, state string"
    t.bulk_insert(spark.createDataFrame([(1, 1, "a", "OH"), (2, 1, "b", "TX")], sch))
    t.upsert(spark.createDataFrame([(1, 2, "a2", "OH")], sch))
    t.delete(spark.createDataFrame([(2,)], "id long"))
    assert rows_of(t.snapshot(), "id", "val", "state") == [(1, "a2", "OH")]


def test_insert_overwrite_dynamic_and_static(spark, tpath):
    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        partition_fields=["state"], table_name="iow",
    )
    sch = "id long, ver long, val string, state string"
    t.bulk_insert(spark.createDataFrame(
        [(1, 1, "a", "OH"), (2, 1, "b", "TX"), (3, 1, "c", "OH")], sch))
    before_tx = [
        e["path"] for e in t.current_files() if e["stats"]["state"][0] == "TX"
    ]
    # dynamic: only the OH partition is replaced
    t.insert_overwrite(
        spark.createDataFrame([(9, 1, "z", "OH")], sch), dynamic=True
    )
    assert rows_of(t.snapshot(), "id", "val", "state") == [
        (2, "b", "TX"), (9, "z", "OH")
    ]
    after_tx = [
        e["path"] for e in t.current_files() if e["stats"]["state"][0] == "TX"
    ]
    assert before_tx == after_tx  # TX partition byte-untouched
    # static: whole table replaced
    t.insert_overwrite(
        spark.createDataFrame([(7, 1, "q", "CA")], sch), dynamic=False
    )
    assert rows_of(t.snapshot(), "id", "val", "state") == [(7, "q", "CA")]


def test_insert_overwrite_dynamic_date_partition(spark, tpath):
    """Regression (round-2 ADVICE): date-typed partition values collected
    as python ``date`` objects never matched the manifest's hive-string
    stats, so dynamic overwrite silently kept the old files → duplicate
    rows in the snapshot."""
    import datetime as dt

    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        partition_fields=["day"], table_name="iowd",
    )
    sch = "id long, ver long, val string, day date"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.bulk_insert(spark.createDataFrame(
        [(1, 1, "a", d1), (2, 1, "b", d2), (3, 1, "c", d1)], sch))
    t.insert_overwrite(
        spark.createDataFrame([(9, 1, "z", d1)], sch), dynamic=True
    )
    assert rows_of(t.snapshot(), "id", "val", "day") == [
        (2, "b", d2), (9, "z", d1)
    ]


def test_insert_overwrite_null_partition_only_matches_null(spark, tpath):
    """A NULL batch partition value must replace only the null-partition
    files — never files that merely lack partition stats."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        partition_fields=["state"], table_name="iown",
    )
    sch = "id long, ver long, val string, state string"
    t.bulk_insert(spark.createDataFrame(
        [(1, 1, "a", "OH"), (2, 1, "b", None)], sch))
    t.insert_overwrite(
        spark.createDataFrame([(8, 1, "n2", None)], sch), dynamic=True
    )
    assert rows_of(t.snapshot(), "id", "val", "state") == [
        (1, "a", "OH"), (8, "n2", None)
    ]


def test_cdc_changes_insert_update_delete(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]))
    t.upsert(df_of(spark, [(2, 2, "b2"), (9, 1, "new")]))
    t.delete(spark.createDataFrame([(3,)], "id long"))
    ch = {r["id"]: (r["_change_type"], r["val"]) for r in t.changes(begin=c1).collect()}
    assert ch == {2: ("update", "b2"), 3: ("delete", None), 9: ("insert", "new")}
    # unchanged key 1 absent; begin=None → everything is an insert
    assert {r["_change_type"] for r in t.changes(begin=None).collect()} == {"insert"}


def test_cdc_changes_full_column_order_independent_of_begin(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    t.upsert(df_of(spark, [(2, 2, "b2"), (3, 1, "c")]))
    cols = t.changes_full(begin=c1).columns
    assert t.changes_full(begin=None).columns == cols
    assert cols[-2:] == ["val_before", "_change_type"]
    full = t.changes_full(begin=None)
    assert {r["_change_type"] for r in full.collect()} == {"insert"}
    assert full.where("val_before IS NOT NULL").count() == 0


def test_zorder_compaction_tightens_both_columns(spark, tpath):
    """Z-order compaction must narrow per-file stats ranges on BOTH
    clustering columns (single-key sort only narrows one)."""
    from pyspark.sql import functions as F

    rows = [(i, 1, f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, ver long, val string").withColumn(
        "x", (F.col("id") * 7919) % 2000  # decorrelated second dimension
    )
    t2 = Table.create(
        spark, str(tpath) + "_z", key="id", precombine="ver",
        table_name="tz", max_records_per_file=200,
    )
    t2.bulk_insert(df)

    # cluster on (id, x) and check per-file spans on both dims
    TableServices(t2).compact(zorder_cols=["id", "x"], target_records_per_file=200)
    # manifest stats track key/precombine/meta; recompute x spans from files
    import pyarrow.parquet as pq
    import os as _os

    spans_id, spans_x = [], []
    for e in t2.current_files():
        md = pq.ParquetFile(_os.path.join(t2.path, e["path"])).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for name, acc in (("id", spans_id), ("x", spans_x)):
            st = md.row_group(0).column(cols[name]).statistics
            lo, hi = st.min, st.max
            for rg in range(1, md.num_row_groups):
                s2 = md.row_group(rg).column(cols[name]).statistics
                lo, hi = min(lo, s2.min), max(hi, s2.max)
            acc.append(hi - lo)
    n_files = len(spans_id)
    assert n_files >= 4
    # with ~10 files over 2000 ids, a z-ordered layout keeps each file's
    # span on EACH dimension well under the full domain
    assert sum(spans_id) / n_files < 1200, spans_id
    assert sum(spans_x) / n_files < 1200, spans_x


def test_manifest_checkpoint_bounds_reads_and_matches_full_replay(spark, tpath):
    """Scale contract for the commit timeline: every CHECKPOINT_EVERY
    commits _publish writes a consolidated live-set checkpoint, and
    current_files() loads the newest checkpoint + the tail manifests
    ONLY — at 100× commit counts full-timeline replay is a per-query
    driver bottleneck. Manifests are published directly (no Spark
    writes) so the test isolates timeline mechanics: 25 commits with
    adds AND removals, then (a) read counts bounded, (b) checkpointed
    replay equals a from-scratch replay, (c) as_of pinned before a
    checkpoint ignores later checkpoints."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        table as table_mod,
    )

    t = make_table(spark, tpath)
    os.makedirs(f"{tpath}/_commits", exist_ok=True)
    # commit i adds f{i}, removes f{i-5} (so the live set churns)
    for i in range(1, 26):
        c = t._next_commit()
        added = [{"path": f"data/f{i}.parquet", "rows": i, "stats": {}}]
        removed = [f"data/f{i - 5}.parquet"] if i > 5 else []
        t._publish(c, "insert", added, removed, None)
    assert t._checkpoints() == [f"{10:020d}", f"{20:020d}"]

    # (a) count manifest/checkpoint JSON reads during one snapshot replay
    reads: list[str] = []
    orig = table_mod.read_json

    def counting_read_json(path):
        reads.append(path)
        return orig(path)

    t2 = Table.load(spark, tpath)
    try:
        table_mod.read_json = counting_read_json
        live = t2.current_files()
    finally:
        table_mod.read_json = orig
    manifest_reads = [os.path.basename(p) for p in reads if "_commits/" in p]
    cp_reads = [p for p in manifest_reads if p.startswith("_checkpoint_")]
    tail_reads = [p for p in manifest_reads if not p.startswith("_checkpoint_")]
    assert len(cp_reads) == 1 and cp_reads[0].endswith(f"_checkpoint_{20:020d}.json")
    # tail = commits 21..25 only, never the 20 before the checkpoint
    assert len(tail_reads) == 5, tail_reads

    # (b) checkpointed replay == from-scratch replay (checkpoints off)
    expected: dict[str, dict] = {}
    for c in t2.commits():
        m = t2._manifest(c)
        for rel in m.get("files_removed", []):
            expected.pop(rel, None)
        for e in m.get("files_added", []):
            expected[e["path"]] = e
    assert live == [expected[k] for k in sorted(expected)]
    assert {e["path"] for e in live} == {
        f"data/f{i}.parquet" for i in range(21, 26)
    }

    # (c) as_of before the first checkpoint must not touch any checkpoint
    reads.clear()
    try:
        table_mod.read_json = counting_read_json
        old = t2.current_files(as_of=f"{7:020d}")
    finally:
        table_mod.read_json = orig
    assert not any(os.path.basename(p).startswith("_checkpoint_") for p in reads)
    assert {e["path"] for e in old} == {f"data/f{i}.parquet" for i in range(3, 8)}
    # and an as_of between checkpoints uses the EARLIER one
    assert {e["path"] for e in t2.current_files(as_of=f"{15:020d}")} == {
        f"data/f{i}.parquet" for i in range(11, 16)
    }


def test_checkpointed_table_reads_stay_correct_end_to_end(spark, tpath):
    """Cross the CHECKPOINT_EVERY boundary with real Spark writes: 12
    upserts (checkpoint at commit 10), then snapshot, time travel, and
    incremental reads must all agree with the per-commit ground truth."""
    t = make_table(spark, tpath)
    commits = [
        t.upsert(df_of(spark, [(1, i, f"v{i}"), (i + 2, 1, f"n{i}")]))
        for i in range(12)
    ]
    assert t._checkpoints(), "expected a checkpoint after 12 commits"
    # keys: 1 (last write v11) + 2..13 from the n-rows → 13 rows
    snap = rows_of(t.snapshot(), "id", "ver", "val")
    assert (1, 11, "v11") in snap and len(snap) == 13
    # time travel to a pre-checkpoint commit: key 1 at v4, n0..n4
    old = rows_of(t.snapshot(as_of=commits[4]), "id", "val")
    assert (1, "v4") in old and len(old) == 6
    # incremental window spanning the checkpoint commit: latest state of
    # rows whose _commit_time falls in (commits[8], commits[11]] — key
    # 1's v9/v10 were rewritten within the window, so v11 survives
    inc = t.incremental(begin=commits[8], end=commits[11])
    got = {r["val"] for r in inc.collect()}
    assert got == {"v11", "n9", "n10", "n11"}


def test_savepoint_protects_files_from_cleaner(spark, tpath):
    """Hudi savepoint contract: a savepointed commit's as-of state stays
    readable through any retention window; releasing it makes the files
    cleanable again."""
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "v1")]))
    t.savepoint(c1)
    for i in range(2, 8):
        t.upsert(df_of(spark, [(1, i, f"v{i}")]))
    deleted = TableServices(t).clean(retain_commits=1)
    # the savepointed state is still fully readable
    assert rows_of(t.snapshot(as_of=c1), "id", "ver", "val") == [(1, 1, "v1")]
    assert rows_of(t.snapshot(), "id", "val") == [(1, "v7")]
    # release → the old file ages out on the next clean
    t.release_savepoint(c1)
    deleted2 = TableServices(t).clean(retain_commits=1)
    c1_files = {e["path"] for e in t.current_files(as_of=c1)}
    assert c1_files & set(deleted2), "released savepoint files must be GC-able"
    assert not (c1_files & set(deleted)), "savepointed files must survive clean"


def test_savepoint_validation(spark, tpath):
    import pytest as _pytest

    t = make_table(spark, tpath)
    with _pytest.raises(ValueError, match="empty table"):
        t.savepoint()
    t.upsert(df_of(spark, [(1, 1, "a")]))
    with _pytest.raises(ValueError, match="unknown commit"):
        t.savepoint("99999999999999999999")
    with _pytest.raises(ValueError, match="no savepoint"):
        t.release_savepoint("00000000000000000001")
    # default savepoint = latest commit
    assert t.savepoint() == t.latest_commit()
    assert t.savepoints() == [t.latest_commit()]


def test_bootstrap_metadata_only(spark, tmp_path):
    """Bootstrap registers existing parquet in place: no copy, snapshot
    == source, meta column = bootstrap commit, upserts rewrite only
    affected rows, external files never deleted."""
    src = str(tmp_path / "src")
    df_of(spark, [(i, 1, f"v{i}") for i in range(100)]).repartition(4).write.parquet(src)
    src_files = {
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(src)
        for f in fn
        if f.endswith(".parquet")
    }
    t = Table.bootstrap(
        spark, str(tmp_path / "tbl"), src, key="id", precombine="ver"
    )
    # no data was copied into the table dir
    assert not os.path.exists(os.path.join(t.path, "data"))
    snap = t.snapshot()
    assert rows_of(snap, "id", "ver", "val") == [(i, 1, f"v{i}") for i in range(100)]
    metas = {r["_commit_time"] for r in snap.collect()}
    assert metas == {t.meta["bootstrap_commit"]}
    # incremental from the start sees the bootstrapped rows
    assert t.incremental(None).count() == 100
    # upsert: only the affected external file(s) retire; others stay live
    c2 = t.upsert(df_of(spark, [(7, 2, "v7b")]))
    snap2 = t.snapshot()
    got = {r["id"]: (r["ver"], r["val"]) for r in snap2.collect()}
    assert got[7] == (2, "v7b") and got[6] == (1, "v6")
    assert snap2.count() == 100
    live_ext = [e for e in t.current_files() if e.get("external")]
    assert 0 < len(live_ext) < 4, "only the affected external file retires"
    # incremental window picks up exactly the upserted key
    assert rows_of(t.incremental(t.meta["bootstrap_commit"]), "id") == [(7,)]
    # cleaner never touches external source files
    TableServices(t).clean(retain_commits=0)
    for p in src_files:
        assert os.path.exists(p), "cleaner must never delete external files"
    # stats-based pruning works off footer stats of external files
    assert t.snapshot(filters={"id": 5}).where("id = 5").count() == 1


def test_bootstrap_validation(spark, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "src2")
    df_of(spark, [(1, 1, "a")]).write.parquet(src)
    with _pytest.raises(ValueError, match="required column"):
        Table.bootstrap(spark, str(tmp_path / "t1"), src, key="nope", precombine="ver")
    with _pytest.raises(ValueError, match="no parquet files"):
        Table.bootstrap(
            spark, str(tmp_path / "t2"), str(tmp_path / "empty"), key="id",
            precombine="ver",
        )


def test_localfs_create_text_exclusive(tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        LocalFS,
    )

    fs = LocalFS()
    p = str(tmp_path / "x" / "m.json")
    fs.create_text(p, "first")
    with pytest.raises(FileExistsError):
        fs.create_text(p, "second")
    assert fs.read_text(p) == "first"  # loser never clobbers the winner
    # the loser's temp file is cleaned up
    assert [f for f in os.listdir(tmp_path / "x")] == ["m.json"]


def _stale_next_commit(t, stale):
    """Make t's next _next_commit() return a stale (already-taken) id
    once, then fall through to the real timeline — simulating a writer
    that computed its commit id before a peer published."""
    orig = Table._next_commit
    calls = []

    def patched(self):
        calls.append(1)
        return stale if len(calls) == 1 else orig(self)

    t._next_commit = patched.__get__(t)


def test_upsert_occ_retry_wins_after_losing_race(spark, tpath):
    """Multi-writer OCC: the publish is an atomic exclusive create, and
    occ_retries re-runs the WHOLE merge under a fresh commit id against
    the winner's state — both writers' rows land."""
    t1 = make_table(spark, tpath)
    t1.upsert(df_of(spark, [(1, 1, "a")]))
    t2 = Table.load(spark, tpath)
    stale = t2._next_commit()
    t1.upsert(df_of(spark, [(2, 1, "b")]))  # t1 wins commit `stale`

    _stale_next_commit(t2, stale)
    c = t2.upsert(df_of(spark, [(3, 1, "c")]), occ_retries=1)
    assert int(c) == int(stale) + 1
    assert rows_of(t2.snapshot(), "id", "val") == [(1, "a"), (2, "b"), (3, "c")]


def test_upsert_occ_default_fails_loud(spark, tpath):
    t1 = make_table(spark, tpath)
    t1.upsert(df_of(spark, [(1, 1, "a")]))
    t2 = Table.load(spark, tpath)
    stale = t2._next_commit()
    t1.upsert(df_of(spark, [(2, 1, "b")]))
    _stale_next_commit(t2, stale)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        t2.upsert(df_of(spark, [(3, 1, "c")]))  # occ_retries=0 default


def test_record_index_exact_pruning(spark, tpath):
    """Record-level index (Hudi RLI analog): interleaved key ranges make
    range stats useless (every file overlaps every batch), exact
    containment prunes to the files actually holding the keys."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"e{k}") for k in range(0, 100, 2)]).coalesce(1))
    t.upsert(df_of(spark, [(k, 1, f"o{k}") for k in range(1, 100, 2)]).coalesce(1))
    keys = spark.createDataFrame([(3,)], "id long")
    assert len(t._prune_by_keys(t.current_files(), keys)) == 2  # ranges overlap
    TableServices(t).build_record_index()
    pruned = t._prune_by_keys(t.current_files(), keys)
    assert len(pruned) == 1  # exact: only the odd-keys file holds key 3
    # correctness through the indexed upsert path
    t.upsert(df_of(spark, [(3, 2, "upd")]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[3] == "upd" and got[2] == "e2" and got[1] == "o1"
    assert t.snapshot().count() == 100


def test_range_prune_gated_on_file_count(spark, tpath):
    """Range tests join the key probe only past PRUNE_MIN_FILES live
    files: at or under the gate a table with no bloom or bucket index
    gets no probe pass at all (its Spark job would cost more than the
    touched-files semi-join it saves — r6 A/B: 1.07 s → 0.81 s per merge
    commit); past the gate, stats pruning kicks in — the 10⁵-file scale
    path."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    t = make_table(spark, tpath)
    # disjoint single-file commits: [0..9], [10..19], ... — range stats
    # alone can prune any single-key batch down to exactly one file
    for i in range(PRUNE_MIN_FILES + 2):
        t.insert(
            df_of(
                spark, [(k, 1, f"v{k}") for k in range(i * 10, i * 10 + 10)]
            ).coalesce(1),
            dedup_batch=False,
        )
    entries = t.current_files()
    assert len(entries) == PRUNE_MIN_FILES + 2
    keys = spark.createDataFrame([(25,)], "id long")
    pruned = t._prune_by_keys(entries, keys)
    assert len(pruned) == 1  # above the gate: range stats prune to 1 file
    # at/below the gate: unpruned (no agg job spent on a small live set)
    small = entries[: PRUNE_MIN_FILES - 1]
    assert t._prune_by_keys(small, keys) == small
    # correctness through the gated path (small table upsert still merges)
    t.upsert(df_of(spark, [(25, 2, "upd")]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[25] == "upd" and got[24] == "v24"


def _one_key_per_file(spark, path, key_type, keys):
    """A table whose every file holds one key: disjoint key ranges."""
    t = Table.create(
        spark, path, key="k", precombine="ver", max_records_per_file=1
    )
    t.bulk_insert(
        spark.createDataFrame([(k, 1) for k in keys], f"k {key_type}, ver long")
        .coalesce(1)
    )
    return t


def test_key_probe_keeps_only_files_a_key_falls_in(spark, tpath):
    """Range tests are per key: a batch with one key at each end of the
    domain keeps the two files holding them, where the batch's [min, max]
    envelope overlaps every file. No file holding a batch key is ever
    dropped."""
    import random

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    n = PRUNE_MIN_FILES + 4
    t = _one_key_per_file(spark, tpath, "long", [10 * i for i in range(n)])
    entries = t.current_files()
    assert len(entries) == n
    ends = spark.createDataFrame([(0,), (10 * (n - 1),)], "k long")
    assert len(t._prune_by_keys(entries, ends)) == 2
    rng = random.Random(5)
    for _ in range(3):
        keys = spark.createDataFrame(
            [(k,) for k in rng.sample(range(10 * n), 4)], "k long"
        )
        kept = t._prune_by_keys(entries, keys)
        assert all(e in kept for e in t._touched(entries, keys))


@pytest.mark.parametrize("key_type", ["date", "timestamp"])
def test_temporal_key_upsert_past_range_gate(spark, tpath, key_type):
    """Footer stats keep a date key as its ISO string; the key probe
    compares batch keys in that same canonical form, so a date-keyed
    table over PRUNE_MIN_FILES files upserts and prunes to the one file
    holding the key. Timestamp keys carry no footer stats and keep every
    file."""
    import datetime

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    base = (
        datetime.date(2024, 1, 1)
        if key_type == "date"
        else datetime.datetime(2024, 1, 1)
    )
    days = [base + datetime.timedelta(days=i) for i in range(PRUNE_MIN_FILES + 2)]
    t = _one_key_per_file(spark, tpath, key_type, days)
    entries = t.current_files()
    assert len(entries) == len(days)
    keys = spark.createDataFrame([(days[3],)], f"k {key_type}")
    kept = t._prune_by_keys(entries, keys)
    assert len(kept) == (1 if key_type == "date" else len(days))
    # timestamp keys against date stats share no canonical form: every
    # file stays a candidate (the semi-join casts the date up)
    ts = spark.createDataFrame([(datetime.datetime(2024, 1, 4),)], "k timestamp")
    assert t._prune_by_keys(entries, ts) == entries
    t.upsert(spark.createDataFrame([(days[3], 2)], f"k {key_type}, ver long"))
    assert rows_of(t.snapshot(), "k", "ver") == [
        (d, 2 if d == days[3] else 1) for d in days
    ]


@pytest.mark.parametrize("key_type", ["double", "decimal(10,2)"])
def test_fractional_key_probe_keeps_range_test(spark, tpath, key_type):
    """Fractional keys keep their per-key range test past PRUNE_MIN_FILES
    (decimal stats are floats, and rounding keeps their order). A NaN
    key does not sort: a batch holding one keeps every file."""
    from decimal import Decimal

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    n = PRUNE_MIN_FILES + 4
    scale = Decimal if key_type != "double" else float
    vals = [scale(i) / 4 for i in range(n)]
    t = _one_key_per_file(spark, tpath, key_type, vals)
    entries = t.current_files()
    assert len(entries) == n
    ends = spark.createDataFrame([(vals[0],), (vals[-1],)], f"k {key_type}")
    assert len(t._prune_by_keys(entries, ends)) == 2
    if key_type == "double":
        nan = spark.createDataFrame([(vals[2],), (float("nan"),)], "k double")
        assert t._prune_by_keys(entries, nan) == entries
    t.upsert(spark.createDataFrame([(vals[3], 2)], f"k {key_type}, ver long"))
    assert rows_of(t.snapshot(), "k", "ver") == [
        (v, 2 if v == vals[3] else 1) for v in vals
    ]


def test_key_probe_batch_matches_per_key_tests():
    """The vectorized probe kernel keeps exactly the files one key passes
    every range and bucket test of (a file spanning two buckets may be
    kept spuriously, never dropped), on random specs and batches with
    null keys, and reports every bucket id it saw."""
    import random

    import numpy as np
    import pyarrow as pa

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        _key_probe_batch,
    )

    rng = random.Random(3)
    for _ in range(200):
        mods = [rng.choice([4, 8]) for _ in range(rng.randint(0, 2))]
        keys = [
            rng.randint(0, 100) if rng.random() > 0.1 else None
            for _ in range(rng.randint(0, 40))
        ]
        bcols = [
            [None if k is None else (k * 7 + j) % m for k in keys]
            for j, m in enumerate(mods)
        ]
        files = []
        for _ in range(rng.randint(1, 30)):
            lo = rng.randint(0, 100)
            r = (lo, lo + rng.randint(0, 30)) if rng.random() < 0.7 else None
            b = None
            if mods and rng.random() < 0.7:
                j = rng.randrange(len(mods))
                blo = rng.randrange(mods[j])
                b = (j, blo, blo + (rng.random() < 0.3))
            files.append((r, b))
        rpos = [i for i, (r, _) in enumerate(files) if r]
        spec = {
            "domain": "integral",
            "fid": np.arange(len(files)),
            "rpos": np.array(rpos, dtype=np.int64),
            "lo": np.array([files[i][0][0] for i in rpos], dtype=np.int64),
            "hi": np.array([files[i][0][1] for i in rpos], dtype=np.int64),
            "mod": np.array([b[0] if b else -1 for _, b in files]),
            "blo": np.array([b[1] if b else 0 for _, b in files]),
            "bhi": np.array([b[2] if b else 0 for _, b in files]),
            "blooms": [],
        }
        batch = pa.RecordBatch.from_arrays(
            [pa.array(keys, pa.int64())] + [pa.array(c, pa.int32()) for c in bcols],
            names=["k"] + [f"b{j}" for j in range(len(mods))],
        )
        ok, seen = _key_probe_batch(spec, batch, np.zeros(len(files), bool))
        for i, (r, b) in enumerate(files):
            exact = any(
                k is not None
                and (r is None or r[0] <= k <= r[1])
                and (b is None or b[1] <= bcols[b[0]][x] <= b[2])
                for x, k in enumerate(keys)
            )
            spans = b is not None and b[1] < b[2]
            assert ok[i] == exact or (spans and ok[i])
        for j, c in enumerate(bcols):
            assert seen[j].tolist() == sorted({x for x in c if x is not None})


def test_record_index_stale_is_safe(spark, tpath):
    """Files committed after the index build are uncovered: they fall
    back to range stats, so a stale index can never lose an update."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"v{k}") for k in range(10)]))
    TableServices(t).build_record_index()
    t.upsert(df_of(spark, [(k, 2, f"n{k}") for k in range(10, 20)]))
    t.upsert(df_of(spark, [(15, 3, "x"), (5, 3, "y")]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[15] == "x" and got[5] == "y" and got[9] == "v9"
    assert t.snapshot().count() == 20


def test_record_index_incremental_maintenance(spark, tpath):
    """incremental=True indexes only files that joined the live set
    since the last build (O(new data) steady-state cost) and appends —
    after it, point pruning is exact across old AND new files."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"a{k}") for k in range(0, 50, 2)]).coalesce(1))
    TableServices(t).build_record_index()
    t.upsert(df_of(spark, [(k, 1, f"b{k}") for k in range(1, 50, 2)]).coalesce(1))
    # stale: the new odd-keys file is uncovered -> kept by fallback
    keys = spark.createDataFrame([(2,)], "id long")
    assert len(t._prune_by_keys(t.current_files(), keys)) == 2
    TableServices(t).build_record_index(incremental=True)
    assert len(t._prune_by_keys(t.current_files(), keys)) == 1
    t.upsert(df_of(spark, [(2, 2, "upd")]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[2] == "upd" and got[1] == "b1" and got[4] == "a4"
    assert t.snapshot().count() == 50


def test_record_index_full_rebuild_crash_leaves_no_index(
    spark, tpath, monkeypatch
):
    """A full rebuild over a published index removes the meta before it
    overwrites the payload: a crash mid-overwrite leaves no index, never
    the old meta naming a half-written payload."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"a{k}") for k in range(0, 50, 2)]).coalesce(1))
    t.upsert(df_of(spark, [(k, 1, f"b{k}") for k in range(1, 50, 2)]).coalesce(1))
    TableServices(t).build_record_index()
    idx_dir = t._index_paths("record")[0]
    real_parquet = DataFrameWriter.parquet

    def crash_mid_overwrite(self, path, *a, **kw):
        if path != idx_dir:
            return real_parquet(self, path, *a, **kw)
        shutil.rmtree(path)
        raise OSError("crash mid-overwrite")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_mid_overwrite)
    with pytest.raises(OSError, match="crash mid-overwrite"):
        TableServices(t).build_record_index()
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert t._index_meta("record") is None
    t.upsert(df_of(spark, [(k, 2, f"u{k}") for k in range(50)]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got == {k: f"u{k}" for k in range(50)}
    assert t.snapshot().count() == 50


def test_archive_timeline_bounds_active_dir(spark, tpath):
    """Hudi archived-timeline analog: old manifests fold into one
    consolidated archive file; the active _commits/ dir stays bounded
    while snapshot, incremental, deep time travel, CDC-from-archive,
    and the cleaner all still see full history."""
    t = make_table(spark, tpath)
    ids = [t.upsert(df_of(spark, [(1, i, f"v{i}"), (i + 10, 1, f"n{i}")]))
           for i in range(14)]  # crosses the CHECKPOINT_EVERY=10 boundary
    svc = TableServices(t)
    archived = svc.archive_timeline(keep_active=3)
    assert archived and max(archived) <= "{:020d}".format(10)
    # active dir shrank; full history still enumerable
    assert len(t.commits()) == 14 - len(archived)
    assert t.commits(include_archived=True) == ids
    # reads: current snapshot, deep time travel to an ARCHIVED commit,
    # CDC spanning the archive horizon
    assert t.snapshot().count() == 15
    assert rows_of(t.snapshot(as_of=ids[0]), "id", "val") == [
        (1, "v0"), (10, "n0")]
    assert t.changes(begin=ids[0]).count() > 0
    # new writes continue the timeline (no id reuse)
    c_new = t.upsert(df_of(spark, [(99, 1, "z")]))
    assert int(c_new) == 15
    # cleaner still replays full history correctly (file GC unaffected)
    deleted = svc.clean(retain_commits=2)
    assert t.snapshot().count() == 16
    for rel in deleted:
        assert not os.path.exists(os.path.join(t.path, rel))
    # savepointing an archived commit still validates
    t.savepoint(ids[0])
    assert t.savepoints() == [ids[0]]


# -- partial update (column-subset upsert) ----------------------------


def test_partial_update_null_keeps_old_and_omitted_cols_survive(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0), (2, 1, "b", 20.0), (3, 1, "c", 30.0)],
            "id long, ver long, val string, score double",
        )
    )
    # batch omits `score` entirely; val NULL for id=2 keeps old value
    t.partial_update(
        spark.createDataFrame(
            [(1, 2, "a2"), (2, 2, None), (9, 1, "new")],
            "id long, ver long, val string",
        )
    )
    assert rows_of(t.snapshot(), "id", "ver", "val", "score") == [
        (1, 2, "a2", 10.0),   # updated val, score kept
        (2, 2, "b", 20.0),    # NULL val -> old val kept, ver updated
        (3, 1, "c", 30.0),    # untouched
        (9, 1, "new", None),  # new key: omitted col is null
    ]


def test_partial_update_untouched_files_not_rewritten(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    c2 = t.upsert(df_of(spark, [(50, 1, "z")]))
    t.partial_update(df_of(spark, [(1, 2, "a2")]))
    # key 50's file (disjoint key range) must not be rewritten
    snap = t.snapshot()
    commits = {r["id"]: r["_commit_time"] for r in snap.collect()}
    assert commits[50] == c2


def test_partial_update_older_precombine_loses(spark, tpath):
    """Hudi partial-update payloads order by precombine (r5 advice): a
    late-arriving batch row with an OLDER precombine than the stored row
    must be discarded whole — stored values survive, original
    _commit_time kept; equal precombine → incoming wins (engine tie
    bias); newer wins as usual."""
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 5, "new5"), (2, 5, "b5"), (3, 5, "c5")]))
    c2 = t.partial_update(
        df_of(spark, [(1, 3, "late3"), (2, 5, "tie5"), (3, 7, "newer7")])
    )
    snap = {r["id"]: (r["ver"], r["val"], r["_commit_time"]) for r in t.snapshot().collect()}
    assert snap[1] == (5, "new5", c1)     # older batch row discarded whole
    assert snap[2] == (5, "tie5", c2)     # tie -> incoming wins
    assert snap[3] == (7, "newer7", c2)   # newer wins
    # a losing row must not resurrect later: another newer update applies
    t.partial_update(df_of(spark, [(1, 9, "v9")]))
    assert {r["id"]: r["val"] for r in t.snapshot().collect()}[1] == "v9"


def test_partial_update_mor_resolves_at_write(spark, tpath):
    """r13 (lifting the r12 COW-only limitation): MOR partial_update
    resolves the column merge at WRITE time against the merge view of
    the affected files and appends full-row deltas — the O(1)-column
    read-side merge view is untouched, no base file rewrites, losing
    (older-precombine) batch rows are not emitted at all."""
    t = make_table(spark, tpath, table_type="mor")
    t.upsert(
        spark.createDataFrame(
            [(1, 5, "a", 10.0), (2, 5, "b", 20.0), (3, 5, "c", 30.0)],
            "id long, ver long, val string, score double",
        )
    )
    # a delta on top: the write-time resolution must see the CHAIN's
    # winner (id=1's ver-6 value), not just the base file
    t.upsert(
        spark.createDataFrame(
            [(1, 6, "a6", 11.0)],
            "id long, ver long, val string, score double",
        )
    )
    before = {e["path"] for e in t.current_files()}
    t.partial_update(
        spark.createDataFrame(
            [(1, 7, "a7"), (2, 3, "late"), (9, 1, "new")],
            "id long, ver long, val string",
        )
    )
    # append-only: every pre-existing file stays live, and everything
    # added is a DELTA file
    after = {e["path"]: e for e in t.current_files()}
    assert before <= set(after)
    assert after.keys() - before and all(
        after[p].get("kind") == "delta" for p in after.keys() - before
    )
    assert rows_of(t.snapshot(), "id", "ver", "val", "score") == [
        (1, 7, "a7", 11.0),   # updated val, chain-winner score kept
        (2, 5, "b", 20.0),    # older batch row discarded whole
        (3, 5, "c", 30.0),    # untouched
        (9, 1, "new", None),  # new key: omitted col null
    ]
    # compaction folds the partial deltas without changing the view
    TableServices(t).compact()
    assert rows_of(t.snapshot(), "id", "ver", "val", "score") == [
        (1, 7, "a7", 11.0), (2, 5, "b", 20.0),
        (3, 5, "c", 30.0), (9, 1, "new", None),
    ]


def test_partial_update_mor_after_delete_reinserts(spark, tpath):
    """A partial update on a tombstoned key must behave like COW's
    absent-key case: plain insert with nulls for omitted columns (the
    merge view excludes deleted keys from the stored side)."""
    t = make_table(spark, tpath, table_type="mor")
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0)],
            "id long, ver long, val string, score double",
        )
    )
    t.delete(spark.createDataFrame([(1,)], "id long"))
    assert t.snapshot().count() == 0
    t.partial_update(
        spark.createDataFrame([(1, 2, "back")], "id long, ver long, val string")
    )
    assert rows_of(t.snapshot(), "id", "ver", "val", "score") == [
        (1, 2, "back", None)
    ]


def test_partial_update_on_empty_table_inserts(spark, tpath):
    t = make_table(spark, tpath)
    t.partial_update(df_of(spark, [(1, 1, "a")]))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a")]


# -- secondary index (non-key column equality pruning) ----------------


def test_secondary_index_prunes_to_containing_files(spark, tpath):
    from pyspark.sql import functions as F

    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        max_records_per_file=10,
    )
    rows = [(i, 1, f"cat{i % 7}") for i in range(100)]
    t.bulk_insert(
        spark.createDataFrame(rows, "id long, ver long, cat string")
    )
    TableServices(t).build_secondary_index("cat")
    total = len(t.snapshot().inputFiles())
    assert total > 3  # enough files for pruning to mean something
    pruned = t.snapshot(filters={"cat": "cat3"})
    assert 0 < len(pruned.inputFiles()) < total
    got = rows_of(pruned.where(F.col("cat") == "cat3"), "id")
    assert got == [(i,) for i in range(100) if i % 7 == 3]
    # absent value -> every covered file pruned away
    assert len(t.snapshot(filters={"cat": "nope"}).inputFiles()) == 0


def test_secondary_index_incremental_covers_new_files_only(spark, tpath):
    from pyspark.sql import functions as F

    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id long, ver long, cat string")
    )
    svc = TableServices(t)
    svc.build_secondary_index("cat")
    # new commit not covered yet -> falls through pruning (still read)
    t.insert(
        spark.createDataFrame([(3, 1, "c")], "id long, ver long, cat string"),
        dedup_batch=False,
    )
    assert rows_of(
        t.snapshot(filters={"cat": "c"}).where(F.col("cat") == "c"), "id"
    ) == [(3,)]
    # incremental build covers it; absent values now prune everything
    svc.build_secondary_index("cat", incremental=True)
    assert len(t.snapshot(filters={"cat": "zz"}).inputFiles()) == 0
    assert rows_of(
        t.snapshot(filters={"cat": "c"}).where(F.col("cat") == "c"), "id"
    ) == [(3,)]


# -- metadata-only DROP COLUMN ----------------------------------------


def test_drop_column_projects_without_rewrite_and_time_travels(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(
        spark.createDataFrame(
            [(1, 1, "a", 10.0), (2, 1, "b", 20.0)],
            "id long, ver long, val string, score double",
        )
    )
    files_before = sorted(t.snapshot().inputFiles())
    t.alter_drop_column("score")
    # no rewrite: identical physical file set, column gone from reads
    assert sorted(t.snapshot().inputFiles()) == files_before
    assert "score" not in t.snapshot().columns
    # time travel before the drop still surfaces it
    assert "score" in t.snapshot(as_of=c1).columns
    # structural columns are protected
    with pytest.raises(ValueError, match="structural"):
        t.alter_drop_column("id")
    with pytest.raises(ValueError, match="no such column"):
        t.alter_drop_column("nope")
    # post-drop upsert works against the narrowed schema
    t.upsert(df_of(spark, [(3, 1, "c")]))
    assert rows_of(t.snapshot(), "id", "val") == [(1, "a"), (2, "b"), (3, "c")]


# -- write-side constraints / quarantine ------------------------------


def test_constraints_divert_violations_and_keep_table_clean(spark, tpath):
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        constraints={"pos": "score > 0", "named": "val IS NOT NULL"},
    )
    t.upsert(
        spark.createDataFrame(
            [
                (1, 1, "a", 5.0),      # clean
                (2, 1, "b", -1.0),     # pos fails
                (3, 1, None, 2.0),     # named fails
                (4, 1, None, None),    # both fail (null score -> pos fails)
            ],
            "id long, ver long, val string, score double",
        )
    )
    assert rows_of(t.snapshot(), "id") == [(1,)]
    q = {r["id"]: r["_violation"] for r in t.quarantine().collect()}
    assert q == {2: "pos", 3: "named", 4: "pos,named"}
    # a later clean batch is unaffected; quarantine is append-only
    t.upsert(
        spark.createDataFrame(
            [(5, 1, "e", 1.0)], "id long, ver long, val string, score double"
        )
    )
    assert rows_of(t.snapshot(), "id") == [(1,), (5,)]
    assert sorted(q) == [2, 3, 4]


def test_constraints_nondeterministic_batch_split_is_consistent(spark, tpath):
    """The quarantine branch and the clean branch must split ONE
    materialized evaluation of the batch: with a non-deterministic
    source (uuid() here), independent re-evaluation per branch could
    quarantine a row AND write it, or drop it from both (r5 advice —
    fixed by a persist(MEMORY_AND_DISK) before the split; note persist
    is best-effort, so the single-evaluation guarantee only holds while
    cached blocks survive — a lost block recomputes from the
    non-deterministic lineage)."""
    import pyspark.sql.functions as F

    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        constraints={"even": "abs(hash(tag)) % 2 = 0"},
    )
    batch = (
        spark.range(200)
        .select(
            F.col("id"),
            F.lit(1).alias("ver"),
            F.expr("uuid()").alias("tag"),  # re-rolls on every evaluation
        )
    )
    t.upsert(batch)
    table_ids = {r["id"] for r in t.snapshot().collect()}
    quar_ids = {r["id"] for r in t.quarantine().collect()}
    # every input row lands in exactly one of {table, quarantine}
    assert table_ids | quar_ids == set(range(200))
    assert table_ids.isdisjoint(quar_ids)


def test_constraints_absent_no_quarantine_dir(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="no quarantined rows"):
        t.quarantine()


# -- orphan vacuum ----------------------------------------------------


def test_vacuum_orphans_removes_unreferenced_attempt_dirs(spark, tpath):
    import os

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    # simulate a lost write attempt: a data dir no manifest references
    orphan_dir = os.path.join(tpath, "data", "00000001-deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet")
    before = rows_of(t.snapshot(), "id", "val")
    deleted = TableServices(t).vacuum_orphans(older_than_seconds=0)
    assert deleted == ["data/00000001-deadbeef/part-orphan.parquet"]
    assert not os.path.exists(orphan)
    # live data untouched; age guard protects fresh files
    assert rows_of(t.snapshot(), "id", "val") == before
    with open(orphan, "wb") as f:
        f.write(b"fresh in-flight attempt")
    assert TableServices(t).vacuum_orphans(older_than_seconds=3600) == []


def test_should_compact_policy_from_manifest_metadata(spark, tpath):
    t = make_table(spark, tpath, table_type="mor")
    svc = TableServices(t)
    t.upsert(df_of(spark, [(i, 1, "a") for i in range(100)]))
    assert not svc.should_compact()  # base-less: ratio rule is undefined
    # small delta trickle: commits trigger the NUM_COMMITS policy
    for v in range(2, 9):
        t.upsert(df_of(spark, [(1, v, "x")]))
    assert svc.should_compact(max_delta_commits=5)
    assert not svc.should_compact(max_delta_commits=50, max_delta_row_ratio=10.0)
    svc.compact()
    assert not svc.should_compact()
    # one big delta (vs compacted base) trips the row-ratio policy
    t.upsert(df_of(spark, [(i, 9, "y") for i in range(50)]))
    assert svc.should_compact(max_delta_commits=50, max_delta_row_ratio=0.2)


def test_commit_at_timestamp_resolves_boundaries(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a")]))
    ts1 = t._manifest(c1)["ts"]
    c2 = t.upsert(df_of(spark, [(1, 2, "b")]))
    ts2 = t._manifest(c2)["ts"]
    # exact boundary resolves to that commit; later instants to the max
    assert t.commit_at_timestamp(ts1) == c1 or ts1 == ts2  # same-tick guard
    assert t.commit_at_timestamp(ts2) == c2
    assert t.commit_at_timestamp("9999-12-31T00:00:00+00:00") == c2
    # ts before the first commit RAISES (Delta timestampAsOf semantics);
    # a None fall-through would make snapshot(as_of=None) read LATEST
    with pytest.raises(ValueError, match="no commit at or before"):
        t.commit_at_timestamp("1970-01-01T00:00:00+00:00")
    # end-to-end: timestamp time travel sees the old value
    resolved = t.commit_at_timestamp(ts1)
    vals = rows_of(t.snapshot(as_of=resolved), "id", "val")
    assert vals in ([(1, "a")], [(1, "b")])  # "b" only if ts1==ts2 tick


def test_files_and_history_dataframes(spark, tpath):
    t = make_table(spark, tpath)
    c1 = t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    c2 = t.upsert(df_of(spark, [(1, 2, "a2")]))
    t.delete(df_of(spark, [(2, 9, "x")]).select("id"))
    hist = {r["commit"]: r for r in t.history_df().collect()}
    assert [hist[c]["action"] for c in sorted(hist)] == [
        "upsert", "upsert", "delete",
    ]
    assert hist[c2]["n_files_removed"] >= 1  # c1's file rewritten
    files = t.files_df().collect()
    assert all(r["kind"] == "base" for r in files)
    assert sum(r["rows"] for r in files) == 1  # key 2 deleted
    # as-of view matches the historic file set
    assert sum(r["rows"] for r in t.files_df(as_of=c1).collect()) == 2


# -- partition-spec evolution -----------------------------------------


def test_partition_spec_evolution_mixed_vintages(spark, tpath):
    from pyspark.sql import functions as F

    t = make_table(spark, tpath)  # unpartitioned
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "a", "x"), (2, 1, "b", "y")],
            "id long, ver long, val string, cat string",
        )
    )
    t.alter_partition_spec(["cat"])
    t.upsert(
        spark.createDataFrame(
            [(3, 1, "c", "x"), (4, 1, "d", "z")],
            "id long, ver long, val string, cat string",
        )
    )
    # both vintages readable in one snapshot, cat resolved per vintage
    assert rows_of(t.snapshot(), "id", "cat") == [
        (1, "x"), (2, "y"), (3, "x"), (4, "z"),
    ]
    # filter pruning: new hive files prune by dir/partition stats, old
    # files are conservatively kept
    pruned = t.snapshot(filters={"cat": "x"}).where(F.col("cat") == "x")
    assert rows_of(pruned, "id") == [(1,), (3,)]
    # dynamic overwrite of cat=x must NOT delete old-spec files
    t.insert_overwrite(
        spark.createDataFrame(
            [(9, 1, "nine", "x")], "id long, ver long, val string, cat string"
        ),
        dynamic=True,
    )
    snap = rows_of(t.snapshot(), "id", "cat")
    assert (1, "x") in snap and (2, "y") in snap  # old vintage intact
    assert (9, "x") in snap and (3, "x") not in snap  # new-spec x replaced
    # structural guard
    with pytest.raises(ValueError, match="structural"):
        t.alter_partition_spec(["id"])
    # compaction migrates everything to the current spec
    TableServices(t).compact()
    assert all(e.get("partition") for e in t.current_files())
    assert rows_of(t.snapshot(), "id", "cat") == [
        (1, "x"), (2, "y"), (4, "z"), (9, "x"),
    ]


def test_delete_where_predicate_semantics(spark, tpath):
    """DELETE FROM ... WHERE: matching rows go, NULL-predicate rows stay
    (SQL DELETE semantics), untouched files keep their _commit_time, and
    only files containing matches are rewritten."""
    t = make_table(spark, tpath)
    c1 = t.insert(df_of(spark, [(1, 1, "drop"), (2, 1, None)]).coalesce(1))
    c2 = t.insert(df_of(spark, [(50, 1, "keep")]).coalesce(1))
    t.delete_where("val = 'drop'")
    snap = {r["id"]: (r["val"], r["_commit_time"]) for r in t.snapshot().collect()}
    assert set(snap) == {2, 50}
    assert snap[2][0] is None          # NULL predicate -> row survives
    assert snap[50] == ("keep", c2)    # untouched file not rewritten
    # no matches anywhere -> metadata-only commit, nothing rewritten
    n_before = {e["path"] for e in t.current_files()}
    t.delete_where("val = 'absent'")
    assert {e["path"] for e in t.current_files()} == n_before
    # MOR flavor: tombstone delta, no rewrite
    t2 = make_table(spark, str(tpath) + "_mor", table_type="mor")
    t2.bulk_insert(df_of(spark, [(1, 1, "x"), (2, 1, "y")]))
    t2.delete_where("val = 'x'")
    assert rows_of(t2.snapshot(), "id") == [(2,)]
    assert any(e.get("kind") == "delta" for e in t2.current_files())


def test_update_where_predicate_semantics(spark, tpath):
    """UPDATE ... SET ... WHERE: simultaneous assignment from the OLD
    row, NULL predicate leaves the row untouched, matching rows restamp
    to the new commit, untouched files never rewrite, and structural
    columns are rejected."""
    import pyspark.sql.functions as F

    t = make_table(spark, tpath)
    c1 = t.insert(df_of(spark, [(1, 1, "a"), (2, 1, None)]).coalesce(1))
    c2 = t.insert(df_of(spark, [(50, 1, "z")]).coalesce(1))
    cu = t.update_where({"val": F.upper("val"), "ver": "ver + 10"}, "val = 'a'")
    snap = {r["id"]: (r["ver"], r["val"], r["_commit_time"]) for r in t.snapshot().collect()}
    assert snap[1] == (11, "A", cu)     # both SETs applied from old row
    assert snap[2] == (1, None, c1)     # NULL predicate -> untouched
    assert snap[50] == (1, "z", c2)     # other file untouched, not rewritten
    with pytest.raises(ValueError, match="structural"):
        t.update_where({"id": "id + 1"}, "val = 'A'")
    # incremental read surfaces exactly the updated row
    assert rows_of(t.incremental(begin=c2), "id", "val") == [(1, "A")]
    # MOR flavor: delta append, newest-commit-wins applies the update
    t2 = make_table(spark, str(tpath) + "_mor", table_type="mor")
    t2.bulk_insert(df_of(spark, [(1, 1, "x"), (2, 1, "y")]))
    t2.update_where({"val": "'upd'"}, "id = 1")
    assert rows_of(t2.snapshot(), "id", "val") == [(1, "upd"), (2, "y")]
    assert any(e.get("kind") == "delta" for e in t2.current_files())


def test_type_class_drift_rejected_on_write(spark, tpath):
    """Delta-style schema enforcement: a batch column whose type CLASS
    differs from the table's is rejected loud at write time (silent
    coercion / downstream union errors otherwise); within-class widening
    (int->long, decimal growth) and brand-new columns stay allowed."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="type class differs"):
        t.upsert(spark.createDataFrame([(2, 2, 3.14)], "id long, ver long, val double"))
    # within-class drift allowed: ver arrives as int instead of long
    t.upsert(spark.createDataFrame([(3, 4, "c")], "id long, ver int, val string"))
    # new column appends (evolution-on-append)
    t.upsert(
        spark.createDataFrame(
            [(4, 1, "d", 9.5)], "id long, ver long, val string, score double"
        )
    )
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got == {1: "a", 3: "c", 4: "d"}


def test_update_where_unknown_set_column_rejected(spark, tpath):
    t = make_table(spark, tpath)
    t.insert(df_of(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"nope": "'x'"}, "id = 1")


def test_occ_stress_interleaved_writers(spark, tpath):
    """OCC under sustained contention: two Table handles interleave 10
    upserts each with occ_retries; every batch must land exactly once
    and the final state must equal the sequential union (per-key latest
    writer wins by commit order, no lost updates, no duplicate
    commits)."""
    t1 = make_table(spark, tpath)
    t1.upsert(df_of(spark, [(0, 0, "seed")]))
    t2 = Table.load(spark, tpath)
    # interleave writers on overlapping key ranges; every t2 write is
    # FORCED to first attempt an already-taken commit id (the writer
    # computed its id before the peer published), so the atomic-create
    # race fires and the loser re-resolves under occ_retries
    for i in range(1, 11):
        w = t1 if i % 2 else t2
        if w is t2:
            _stale_next_commit(t2, t2.latest_commit())
        w.upsert(df_of(spark, [(i % 4, i, f"w{i}"), (100 + i, i, f"n{i}")]),
                 occ_retries=3)
    commits = t1.commits()
    assert len(commits) == 11                      # 1 seed + 10 upserts
    assert len(set(commits)) == 11                 # no duplicate ids
    got = {r["id"]: r["val"] for r in t1.snapshot().collect()}
    # last writer per overlapping key: key k in {1,2,3,0} got i where
    # i%4==k, max such i in 1..10
    assert got[1] == "w9" and got[2] == "w10" and got[3] == "w7"
    assert got[0] == "w8"                          # seed overwritten
    assert all(got[100 + i] == f"n{i}" for i in range(1, 11))


# -- read_where: manifest pruning for the SQL read surface -------------


def _range_table(spark, tpath):
    """100 keys across ~10 files with DISJOINT key ranges (range
    partition before the sorted bulk load)."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        max_records_per_file=10,
    )
    rows = [(i, 1, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, ver long, val string")
    t.bulk_insert(df.repartitionByRange(4, "id"))
    return t


def test_read_where_prunes_files_vs_naive_attach(spark, tpath):
    """The scale claim itself: a selective key-range predicate through
    read_where plans FEWER files than the naive full-snapshot view the
    plain attach binds — and returns exactly the same rows as filtering
    that snapshot."""
    from pyspark.sql import functions as F

    t = _range_table(spark, tpath)
    total = len(t.snapshot().inputFiles())
    assert total > 5  # enough files for pruning to mean something
    pred = "id >= 35 AND id <= 52"
    pruned = t.read_where(pred)
    assert 0 < len(pruned.inputFiles()) < total
    assert rows_of(pruned, "id", "val") == rows_of(
        t.snapshot().where(pred), "id", "val"
    )
    # point read: equality prunes at least as hard as the range
    point = t.read_where("id = 42 AND val = 'v42'")
    assert len(point.inputFiles()) <= len(pruned.inputFiles())
    assert rows_of(point, "id") == [(42,)]
    # a max_records_per_file table keeps one write task per touched
    # file and per batch partition (the kept rows, then the 2 batch
    # rows), not the rewrite's read-split sizing (one task)
    [n42] = [
        e["rows"] for e in t.current_files()
        if e["stats"]["id"][0] <= 42 <= e["stats"]["id"][1]
    ]
    t.upsert(df_of(spark, [(42, 2, "n42"), (1000, 1, "new")]))
    added = t._manifest(t.latest_commit())["files_added"]
    assert sorted(e["rows"] for e in added) == sorted([n42 - 1, 2])


def test_attach_where_binds_pruned_view(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.catalog_api import (
        attach,
    )

    t = _range_table(spark, tpath)
    total = len(t.snapshot().inputFiles())
    attach(
        spark, {"rw_plain": t.path}, where=None,
    )
    attach(
        spark, {"rw_pruned": t.path},
        where={"rw_pruned": "id >= 10 AND id < 20"},
    )
    plain = spark.table("rw_plain")
    pruned = spark.table("rw_pruned")
    assert len(plain.inputFiles()) == total
    assert 0 < len(pruned.inputFiles()) < total
    got = spark.sql("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM rw_pruned").collect()[0]
    assert (got.n, got.lo, got.hi) == (10, 10, 19)


def test_filters_from_predicate_fail_closed(spark, tpath):
    """Extraction must only prune on provable top-level conjuncts —
    everything else falls through to the exact filter."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        _filters_from_predicate,
    )

    t = _range_table(spark, tpath)
    schema = t._schema()
    f = _filters_from_predicate
    # plain conjuncts extract; strict bounds prune inclusively
    assert f("id >= 5 AND id < 12", schema) == {"id": (5, 12)}
    assert f("id = 7 AND val = 'x'", schema) == {"id": 7, "val": "x"}
    # top-level OR: NOTHING is a required conjunct -> no pruning at all
    assert f("id = 1 OR val = 'x'", schema) == {}
    assert f("id = 1 OR val = 'x' AND id = 3", schema) == {}
    # parenthesized group / NOT / BETWEEN / IN / function: that conjunct
    # contributes nothing, the rest still extracts
    assert f("(id = 1 OR id = 2) AND ver = 1", schema) == {"ver": 1}
    assert f("NOT id = 5 AND ver = 1", schema) == {"ver": 1}
    assert f("id BETWEEN 1 AND 5", schema) == {}
    assert f("id IN (1, 2) AND ver = 1", schema) == {"ver": 1}
    assert f("abs(id) = 5 AND ver = 1", schema) == {"ver": 1}
    # quoted literal containing ' AND id = 7 AND ' must not leak a fake
    # conjunct (the splitter is quote-aware)
    assert f("val = 'a AND id = 7 AND b' AND id >= 3", schema) == {
        "val": "a AND id = 7 AND b",
        "id": (3, None),
    }
    # type mismatch and unknown columns fail closed
    assert f("id = 'abc'", schema) == {}
    assert f("nope = 5", schema) == {}
    # correctness on an unprunable predicate: same rows, full scan
    pred = "id BETWEEN 90 AND 95 OR id = 3"
    assert rows_of(t.read_where(pred), "id") == rows_of(
        t.snapshot().where(pred), "id"
    )


def test_read_where_mor_restricts_to_key_stats(spark, tpath):
    """On MOR a data-column prune before the merge could pick a stale
    winner — read_where must go through snapshot()'s key/partition-only
    filter restriction and still return the merged truth."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_name="t",
        table_type="mor", max_records_per_file=10,
    )
    rows = [(i, 1, f"v{i}") for i in range(40)]
    t.bulk_insert(
        spark.createDataFrame(rows, "id long, ver long, val string")
        .repartitionByRange(2, "id")
    )
    t.upsert(
        spark.createDataFrame([(7, 2, "NEW")], "id long, ver long, val string")
    )
    got = rows_of(t.read_where("id >= 5 AND id <= 9"), "id", "val")
    assert got == [
        (5, "v5"), (6, "v6"), (7, "NEW"), (8, "v8"), (9, "v9")
    ]


# -- expression index ------------------------------------------------------


def test_expression_index_prunes_and_stays_exact(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
        TableServices,
    )
    from pyspark.sql import functions as F

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    t = Table.create(
        spark, str(tmp_path / "exi"), key="o_orderkey",
        precombine="o_orderdate", table_name="exi", max_records_per_file=2000,
    )
    t.bulk_insert(orders.repartitionByRange(8, F.col("o_orderdate")))
    TableServices(t).build_expression_index("year(o_orderdate)")
    pred = "year(o_orderdate) = 1996 AND o_totalprice > 0"
    pruned = t.read_where(pred)
    plain = t.snapshot().where(pred)
    assert pruned.count() == plain.count() > 0
    assert 0 < len(pruned.inputFiles()) < len(t.snapshot().inputFiles())
    # range operators prune too
    r = t.read_where("year(o_orderdate) >= 2000")
    assert r.count() == t.snapshot().where("year(o_orderdate) >= 2000").count()
    assert len(r.inputFiles()) < len(t.snapshot().inputFiles())
    # an absent year prunes to zero files
    assert t.read_where("year(o_orderdate) = 2023").count() == 0


def test_expression_index_staleness_and_fail_closed(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        Table,
        TableServices,
    )
    from pyspark.sql import functions as F
    import pytest as _pytest

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    t = Table.create(
        spark, str(tmp_path / "exi2"), key="o_orderkey",
        precombine="o_orderdate", table_name="exi2",
    )
    t.bulk_insert(orders.repartitionByRange(4, F.col("o_orderdate")))
    TableServices(t).build_expression_index("year(o_orderdate)")
    pred = "year(o_orderdate) = 1996"
    # files written AFTER the build are uncovered → fall through unpruned
    t.upsert(
        orders.limit(5).withColumn(
            "o_orderdate", F.expr("timestamp'1996-06-01'")
        )
    )
    assert t.read_where(pred).count() == t.snapshot().where(pred).count()
    # incremental extension covers them
    TableServices(t).build_expression_index(
        "year(o_orderdate)", incremental=True
    )
    assert t.read_where(pred).count() == t.snapshot().where(pred).count()
    # extending an index name with a DIFFERENT expression refuses
    with _pytest.raises(ValueError, match="refusing to extend"):
        TableServices(t).build_expression_index(
            "month(o_orderdate)", name="year_o_orderdate", incremental=True
        )
    # fail-closed: type-class mismatch and unmatched expressions prune
    # nothing (results still exact)
    assert (
        t.read_where("year(o_orderdate) = '1996'").count()
        == t.snapshot().where("year(o_orderdate) = '1996'").count()
    )
    assert (
        t.read_where("month(o_orderdate) = 6").count()
        == t.snapshot().where("month(o_orderdate) = 6").count()
    )


# -- delete_where partition-aligned manifest-only fast path --------------


def _parted_table(spark, tpath, n=300):
    t = Table.create(
        spark, str(tpath) + "_fastdel", key="k", precombine="v",
        partition_fields=["grp"],
    )
    t.bulk_insert(
        spark.range(0, n).selectExpr(
            "id AS k", "id AS v", "concat('g', cast(id % 3 AS string)) AS grp"
        )
    )
    return t


def test_delete_where_partition_pred_is_manifest_only(spark, tpath):
    t = _parted_table(spark, tpath)
    c = t.delete_where("grp = 'g1'")
    man = t._manifest(c)
    # zero rows read or written: no files added, whole partition retired
    assert man["files_added"] == [] and len(man["files_removed"]) >= 1
    snap = t.snapshot()
    assert snap.where("grp = 'g1'").count() == 0 and snap.count() == 200
    # time travel still reads the partition (files untouched on disk)
    assert t.snapshot(as_of=t.commits()[0]).count() == 300


def test_delete_where_mixed_pred_rewrites_partial_files(spark, tpath):
    t = _parted_table(spark, tpath)
    c = t.delete_where("grp = 'g2' AND k < 100")
    assert len(t._manifest(c)["files_added"]) >= 1  # partial → rewrite
    snap = t.snapshot()
    assert snap.where("grp = 'g2' AND k < 100").count() == 0
    assert snap.count() == 267


def test_delete_where_range_pred_on_partition_fast_path(spark, tpath):
    t = _parted_table(spark, tpath)
    c = t.delete_where("grp >= 'g1'")
    man = t._manifest(c)
    assert man["files_added"] == []
    assert {r["grp"] for r in t.snapshot().select("grp").distinct().collect()} == {"g0"}


def test_delete_where_or_pred_bails_to_exact_scan(spark, tpath):
    t = _parted_table(spark, tpath)
    t.delete_where("grp = 'g0' OR k < 0")
    snap = t.snapshot()
    assert snap.where("grp = 'g0'").count() == 0 and snap.count() == 200


def test_delete_where_null_partition_never_fast_dropped(spark, tpath):
    t = Table.create(
        spark, str(tpath) + "_nullfd", key="k", precombine="v",
        partition_fields=["grp"],
    )
    t.bulk_insert(
        spark.range(0, 20).selectExpr(
            "id AS k", "id AS v",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE NULL END AS grp",
        )
    )
    # 'grp = a' is false/NULL for null-partition rows — they must survive
    t.delete_where("grp = 'a'")
    snap = t.snapshot()
    assert snap.count() == 10
    assert snap.where("grp IS NULL").count() == 10


def _date_parted_table(spark, tpath):
    t = Table.create(
        spark, str(tpath) + "_dtfd", key="k", precombine="v",
        partition_fields=["dt"],
    )
    t.bulk_insert(
        spark.range(0, 90).selectExpr(
            "id AS k", "id AS v",
            "date_add(DATE '2026-01-01', cast(id % 3 AS int)) AS dt",
        )
    )
    return t


def test_delete_where_date_partition_fast_path(spark, tpath):
    """The retention shape — DELETE WHERE dt = DATE '...' on a date
    partition column — retires whole partitions manifest-only (r10
    advice: date literals were fail-closed out of _pred_literal, so
    this silently degraded to a partition scan)."""
    t = _date_parted_table(spark, tpath)
    c = t.delete_where("dt = DATE '2026-01-02'")
    man = t._manifest(c)
    assert man["files_added"] == [] and len(man["files_removed"]) >= 1
    snap = t.snapshot()
    assert snap.where("dt = DATE '2026-01-02'").count() == 0
    assert snap.count() == 60
    # range form (ISO strings order lexicographically = chronologically)
    c2 = t.delete_where("dt >= '2026-01-03'")
    assert t._manifest(c2)["files_added"] == []
    assert t.snapshot().count() == 30
    # time travel still reads the retired partitions (files untouched)
    assert t.snapshot(as_of=t.commits()[0]).count() == 90


def test_optimize_where_date_partition_scope(spark, tpath):
    """Partition-scoped compaction accepts a DATE literal scope instead
    of erroring (r10 advice item)."""
    t = _date_parted_table(spark, tpath)
    t.upsert(
        spark.range(0, 6).selectExpr(
            "id AS k", "(id + 1000) AS v", "DATE '2026-01-01' AS dt"
        )
    )
    before = {e["path"] for e in t.current_files()}
    TableServices(t).compact(where="dt = DATE '2026-01-01'")
    after = {e["path"] for e in t.current_files()}
    # only the scoped partition's files were rewritten
    assert all("dt=2026-01-02" in p or "dt=2026-01-03" in p
               for p in before & after)
    snap = t.snapshot()
    assert snap.count() == 90
    assert snap.where("dt = DATE '2026-01-01' AND v >= 1000").count() == 6


def test_mor_upsert_occ_retry(spark, tpath):
    """MOR delta writes race only the commit-id allocation; occ_retries
    re-runs the O(batch) append under a fresh id (close to Hudi 1.0's
    non-blocking concurrency for append-only writers)."""
    t1 = make_table(spark, tpath, table_type="mor")
    t1.upsert(df_of(spark, [(1, 1, "a")]))
    t2 = Table.load(spark, tpath)
    stale = t2._next_commit()
    t1.upsert(df_of(spark, [(2, 1, "b")]))  # t1 wins commit `stale`
    _stale_next_commit(t2, stale)
    c = t2.upsert(df_of(spark, [(3, 1, "c")]), occ_retries=1)
    assert int(c) == int(stale) + 1
    assert rows_of(t2.snapshot(), "id", "val") == [(1, "a"), (2, "b"), (3, "c")]


def test_mor_upsert_occ_default_fails_loud(spark, tpath):
    t1 = make_table(spark, tpath, table_type="mor")
    t1.upsert(df_of(spark, [(1, 1, "a")]))
    t2 = Table.load(spark, tpath)
    stale = t2._next_commit()
    t1.upsert(df_of(spark, [(2, 1, "b")]))
    _stale_next_commit(t2, stale)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        t2.upsert(df_of(spark, [(3, 1, "c")]))


def test_cluster_small_files_rewrites_only_small(spark, tpath):
    """Size-based incremental clustering: healthy files stay in place
    (same manifest path — zero I/O on them), only the small-commit
    dribble bin-packs."""
    t = make_table(spark, tpath)
    big = spark.createDataFrame(
        [(i, 1, "x") for i in range(5000)], "id long, ver long, val string"
    ).coalesce(1)
    t.bulk_insert(big)
    for i in range(4):
        rows = [(10000 + i * 10 + j, 1, f"s{i}{j}") for j in range(5)]
        t.insert(df_of(spark, rows), dedup_batch=False)
    before = {e["path"]: e["rows"] for e in t.current_files()}
    big_paths = {p for p, r in before.items() if r >= 1000}
    small_before = [p for p, r in before.items() if r < 100]
    assert big_paths and len(small_before) >= 4
    c = TableServices(t).cluster_small_files(100)
    assert c is not None
    after = {e["path"]: e["rows"] for e in t.current_files()}
    assert big_paths <= set(after)  # untouched, byte-identical in place
    packed = [p for p in after if p not in big_paths]
    assert len(packed) < len(small_before)
    assert sum(after.values()) == 5020
    assert t.snapshot().count() == 5020
    # one packed file under the threshold remains → nothing to bin-pack
    assert TableServices(t).cluster_small_files(100) is None
    # per-row commit times survive (incremental/CDC unaffected)
    stamps = {
        r["id"]: r["_commit_time"]
        for r in t.snapshot().where("id >= 10000").collect()
    }
    assert len(set(stamps.values())) == 4


def test_cluster_small_files_mor_keeps_deltas(spark, tpath):
    t = make_table(spark, tpath, table_type="mor")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "x") for i in range(2000)], "id long, ver long, val string"
        ).coalesce(1)
    )
    t.insert(df_of(spark, [(9001, 1, "a")]), dedup_batch=False)
    t.insert(df_of(spark, [(9002, 1, "b")]), dedup_batch=False)
    t.upsert(df_of(spark, [(5, 2, "upd")]))  # delta file
    deltas_before = {
        e["path"] for e in t.current_files() if e.get("kind") == "delta"
    }
    assert deltas_before
    c = TableServices(t).cluster_small_files(100)
    assert c is not None
    after = t.current_files()
    assert deltas_before <= {e["path"] for e in after}  # deltas untouched
    # published schema stays clean of the MOR read-widening column
    assert "_deleted" not in {
        f["name"] for f in t._manifest(c)["schema"]["fields"]
    }
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[5] == "upd" and got[9001] == "a" and got[9002] == "b"
    assert len(got) == 2002


def test_cluster_small_files_call_procedure(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_dml import (
        call_procedure,
    )

    t = make_table(spark, tpath)
    for i in range(3):
        t.insert(df_of(spark, [(i, 1, f"v{i}")]), dedup_batch=False)
    out = call_procedure(
        spark,
        "CALL run_clustering(table => 't', small_file_rows => 100)",
        {"t": t},
    ).collect()[0]
    assert out["state"] == "completed"
    assert t.snapshot().count() == 3
    with pytest.raises(ValueError, match="own strategy"):
        call_procedure(
            spark,
            "CALL run_clustering(table => 't', small_file_rows => 100, "
            "zorder => true, order => 'id')",
            {"t": t},
        )
    # nothing left to pack → skipped
    out2 = call_procedure(
        spark,
        "CALL run_clustering(table => 't', small_file_rows => 100)",
        {"t": t},
    ).collect()[0]
    assert out2["state"] == "skipped"


def test_alter_column_type_widens_metadata_only(spark, tpath):
    t = Table.create(spark, tpath, key="id", precombine="ver", table_name="t")
    t.upsert(spark.createDataFrame([(1, 1, 5)], "id long, ver long, qty int"))
    c = t.alter_column_type("qty", "bigint")
    man = t._manifest(c)
    assert man["action"] == "alter_column_type"
    assert man["files_added"] == [] and man["files_removed"] == []
    snap = t.snapshot()
    assert dict(snap.dtypes)["qty"] == "bigint"
    assert snap.collect()[0]["qty"] == 5
    # post-alter batch exercises the widened domain
    t.upsert(
        spark.createDataFrame(
            [(2, 1, 2**40)], "id long, ver long, qty long"
        )
    )
    got = {r["id"]: r["qty"] for r in t.snapshot().collect()}
    assert got == {1: 5, 2: 2**40}
    # time travel BEFORE the alter still reads the narrow type
    pre = t.snapshot(as_of=t.commits()[0])
    assert dict(pre.dtypes)["qty"] == "int"
    with pytest.raises(ValueError, match="widening"):
        t.alter_column_type("qty", "int")
    with pytest.raises(ValueError, match="widening"):
        t.alter_column_type("qty", "double")
    with pytest.raises(ValueError, match="no column"):
        t.alter_column_type("nope", "bigint")
    with pytest.raises(ValueError, match="system column"):
        t.alter_column_type("_commit_time", "string")


def test_alter_column_type_float_and_decimal(spark, tpath):
    from decimal import Decimal

    t = Table.create(spark, tpath, key="id", precombine="ver", table_name="t")
    t.upsert(
        spark.createDataFrame(
            [(1, 1, 1.5, Decimal("3.25"))],
            "id long, ver long, f float, d decimal(5,2)",
        )
    )
    t.alter_column_type("f", "double")
    t.alter_column_type("d", "decimal(12,2)")
    snap = t.snapshot()
    types = dict(snap.dtypes)
    assert types["f"] == "double" and types["d"] == "decimal(12,2)"
    row = snap.collect()[0]
    assert row["f"] == 1.5 and str(row["d"]) == "3.25"
    with pytest.raises(ValueError, match="widening"):
        t.alter_column_type("d", "decimal(14,3)")  # scale change rewrites


def test_alter_column_type_ddl_and_bucket_key(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )

    t = Table.create(
        spark, tpath, key="id", precombine="ver",
        index_type="bucket", bucket_count=4, table_name="t",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "x") for i in range(200)], "id int, ver long, val string"
        )
    )
    c = execute_ddl(spark, "ALTER TABLE t ALTER COLUMN id TYPE bigint", {"t": t})
    assert c == t.latest_commit()
    # bucket assignment is invariant under key widening (canonical
    # cast-to-long): the post-alter point upsert still prunes
    t.upsert(spark.createDataFrame([(7, 2, "u")], "id long, ver long, val string"))
    assert t._last_bucket_prune is not None
    assert t._last_bucket_prune["buckets"] == 1
    got = {r["id"]: r["val"] for r in t.snapshot().where("id = 7").collect()}
    assert got == {7: "u"}


def _age_manifest(t, commit, hours):
    import json
    import os
    from datetime import datetime, timedelta, timezone

    p = os.path.join(t.path, "_commits", f"{commit}.json")
    with open(p) as fh:
        m = json.load(fh)
    m["ts"] = (
        datetime.now(timezone.utc) - timedelta(hours=hours)
    ).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    with open(p, "w") as fh:
        json.dump(m, fh)


def test_clean_retain_hours(spark, tpath):
    """Time-based retention (Hudi KEEP_LATEST_BY_HOURS): commits inside
    the trailing window plus the latest stay readable; aged-out retired
    files are deleted."""
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    t.upsert(df_of(spark, [(1, 2, "b")]))
    t.upsert(df_of(spark, [(1, 3, "c")]))
    c1, c2, c3 = t.commits()
    _age_manifest(t, c1, 10)
    _age_manifest(t, c2, 10)
    t2 = Table.load(spark, tpath)
    deleted = TableServices(t2).clean(retain_hours=5)
    assert len(deleted) == 2  # c1's and c2's retired files
    assert rows_of(t2.snapshot(), "id", "val") == [(1, "c")]
    # an idle table keeps its latest state even past the window
    _age_manifest(t2, c3, 10)
    t3 = Table.load(spark, tpath)
    assert TableServices(t3).clean(retain_hours=5) == []
    assert rows_of(t3.snapshot(), "id", "val") == [(1, "c")]


def test_clean_retain_hours_respects_savepoints(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    t.upsert(df_of(spark, [(1, 2, "b")]))
    c1 = t.commits()[0]
    t.savepoint(c1)
    _age_manifest(t, c1, 10)
    t2 = Table.load(spark, tpath)
    assert TableServices(t2).clean(retain_hours=1) == []
    assert rows_of(t2.snapshot(as_of=c1), "id", "val") == [(1, "a")]


def test_clean_retain_hours_call_procedure(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_dml import (
        call_procedure,
    )

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    t.upsert(df_of(spark, [(1, 2, "b")]))
    _age_manifest(t, t.commits()[0], 10)
    out = call_procedure(
        spark,
        "CALL run_clean(table => 't', retain_hours => 5)",
        {"t": Table.load(spark, tpath)},
    ).collect()[0]
    assert out["deleted_files"] == 1


def test_cluster_small_files_terminates(spark, tpath):
    """Packed output must exit the small set (floor-division sizing) or
    at worst share one write generation — no infinite re-pack churn."""
    t = make_table(spark, tpath)
    for i in range(3):
        rows = [(i * 100 + j, 1, "x") for j in range(60)]
        t.insert(df_of(spark, rows), dedup_batch=False)
    c = TableServices(t).cluster_small_files(100)
    assert c is not None
    # 180 rows at threshold 100 → ONE >=100-row file (floor division)
    packed = [e for e in t.current_files()]
    assert sum(e["rows"] for e in packed) == 180
    ncommits = len(t.commits())
    assert TableServices(t).cluster_small_files(100) is None
    assert len(t.commits()) == ncommits  # no churn commit published
    assert t.snapshot().count() == 180


def test_compact_does_not_plant_null_mrpf(spark, tpath):
    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(1, 1, "a")]))
    TableServices(t).compact()
    assert "max_records_per_file" not in t.meta or (
        t.meta["max_records_per_file"] is not None
    )


# ---------------------------------------------------------------------------
# auto_index: synchronous per-commit index maintenance
# ---------------------------------------------------------------------------


def test_auto_index_validation(spark, tpath):
    import pytest

    with pytest.raises(ValueError, match="auto_index spec"):
        make_table(spark, tpath, auto_index=["bogus"])
    with pytest.raises(ValueError, match="duplicates the record key"):
        make_table(spark, tpath, auto_index=["secondary_index(id)"])
    with pytest.raises(ValueError, match="duplicate"):
        make_table(spark, tpath, auto_index=["record_index", "record_index"])


def test_auto_record_index_tracks_every_commit(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        read_json,
    )

    t = make_table(spark, tpath, auto_index=["record_index"])
    t.upsert(df_of(spark, [(k, 1, f"e{k}") for k in range(0, 100, 2)]).coalesce(1))
    _, meta_path = t._index_paths("record")
    covered = set(read_json(meta_path)["files"])
    assert covered == {e["path"] for e in t.current_files()}
    # second interleaved commit: coverage extends to the NEW files only
    t.upsert(df_of(spark, [(k, 1, f"o{k}") for k in range(1, 100, 2)]).coalesce(1))
    covered2 = set(read_json(meta_path)["files"])
    assert covered2 == {e["path"] for e in t.current_files()}
    assert covered < covered2
    # exact pruning with NO explicit build call ever
    keys = spark.createDataFrame([(3,)], "id long")
    assert len(t._prune_by_keys(t.current_files(), keys)) == 1
    t.upsert(df_of(spark, [(3, 2, "upd")]))
    got = {r["id"]: r["val"] for r in t.snapshot().collect()}
    assert got[3] == "upd" and t.snapshot().count() == 100


def test_auto_secondary_index_and_set_auto_index(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        read_json,
    )

    t = make_table(spark, tpath)
    t.upsert(df_of(spark, [(k, 1, f"g{k % 3}") for k in range(30)]).coalesce(1))
    TableServices(t).set_auto_index(["secondary_index(val)"])
    assert Table.load(spark, t.path).meta["auto_index"] == [
        "secondary_index(val)"
    ]
    # first post-enable commit backfills (no prior index meta)
    t.upsert(df_of(spark, [(100, 1, "g9")]).coalesce(1))
    _, meta_path = t._index_paths("secondary", "val")
    assert set(read_json(meta_path)["files"]) == {
        e["path"] for e in t.current_files()
    }
    # disable: the next commit no longer extends coverage
    TableServices(t).set_auto_index(None)
    assert "auto_index" not in Table.load(spark, t.path).meta
    t.upsert(df_of(spark, [(101, 1, "g9")]).coalesce(1))
    covered = set(read_json(meta_path)["files"])
    assert covered < {e["path"] for e in t.current_files()}


def test_auto_index_via_ddl_and_show_create(spark, tmp_path):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.storage import (
        read_json,
    )

    cat: dict[str, Table] = {}
    execute_ddl(
        spark,
        "CREATE TABLE ai (id bigint, ver bigint, val string) USING engine "
        "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ver', "
        "autoIndex = 'record_index,secondary_index(val)') "
        f"LOCATION '{tmp_path / 'ai'}'",
        cat,
        None,
    )
    t = cat["ai"]
    assert t.meta["auto_index"] == ["record_index", "secondary_index(val)"]
    t.upsert(df_of(spark, [(1, 1, "x"), (2, 1, "y")]))
    for meta_path in (
        t._index_paths("record")[1],
        t._index_paths("secondary", "val")[1],
    ):
        assert set(read_json(meta_path)["files"]) == {
            e["path"] for e in t.current_files()
        }
    out = execute_ddl(spark, "SHOW CREATE TABLE ai", cat, None).collect()
    assert "autoIndex = 'record_index,secondary_index(val)'" in out[0][0]


# ---------------------------------------------------------------------------
# pre-commit validators
# ---------------------------------------------------------------------------


def test_pre_commit_validator_shape_rejections(spark, tpath):
    import pytest

    with pytest.raises(ValueError, match="unknown pre_commit"):
        make_table(spark, tpath, pre_commit_validators={"bogus": []})
    with pytest.raises(ValueError, match="<TABLE>"):
        make_table(
            spark, tpath, pre_commit_validators={"equality": ["SELECT 1"]}
        )
    with pytest.raises(ValueError, match="single_result"):
        make_table(
            spark,
            tpath,
            pre_commit_validators={
                "single_result": ["SELECT count(*) FROM <TABLE>"]
            },
        )


def test_pre_commit_single_result_aborts_bad_commit(spark, tpath):
    import pytest

    t = make_table(
        spark,
        tpath,
        pre_commit_validators={
            "single_result": [
                ["SELECT count(*) FROM <TABLE> WHERE ver < 0", 0]
            ]
        },
    )
    t.upsert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    good = t.latest_commit()
    with pytest.raises(ValueError, match="single-result validator failed"):
        t.upsert(df_of(spark, [(3, -5, "bad")]))
    # nothing became visible: same commit, same rows
    assert t.latest_commit() == good
    assert t.snapshot().count() == 2
    # the aborted attempt's files are unreferenced orphans; the vacuum
    # service reclaims them
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    orphans = TableServices(t).vacuum_orphans(older_than_seconds=0.0)
    assert orphans
    assert t.snapshot().count() == 2
    # a clean batch still commits
    t.upsert(df_of(spark, [(3, 5, "ok")]))
    assert t.snapshot().count() == 3


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_pre_commit_equality_validator(spark, tpath, table_type):
    import pytest

    t = make_table(
        spark,
        tpath,
        table_type=table_type,
        pre_commit_validators={
            "equality": ["SELECT count(DISTINCT id) AS n FROM <TABLE>"]
        },
    )
    t.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    # updating existing keys keeps the key population — passes
    t.upsert(df_of(spark, [(2, 2, "b2")]))
    assert {r.val for r in t.snapshot().collect()} == {"a", "b2"}
    # inserting a NEW key changes the invariant — aborted
    with pytest.raises(ValueError, match="equality validator failed"):
        t.upsert(df_of(spark, [(9, 1, "new")]))
    assert t.snapshot().count() == 2


def test_set_pre_commit_validators_roundtrip(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, "a")]))
    TableServices(t).set_pre_commit_validators(
        {"single_result": [["SELECT max(ver) FROM <TABLE>", 1]]}
    )
    assert "pre_commit_validators" in Table.load(spark, t.path).meta
    import pytest

    with pytest.raises(ValueError, match="single-result"):
        t.upsert(df_of(spark, [(1, 2, "a2")]))
    TableServices(t).set_pre_commit_validators(None)
    t.upsert(df_of(spark, [(1, 2, "a2")]))  # cleared: commits again
    assert t.snapshot().collect()[0]["val"] == "a2"


def test_auto_index_typo_column_rejected_at_spec_time(spark, tpath, tmp_path):
    import pytest

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
        execute_ddl,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    # DDL CREATE with a declared schema: typo fails the CREATE itself
    with pytest.raises(ValueError, match="not in the table schema"):
        execute_ddl(
            spark,
            "CREATE TABLE ai2 (id bigint, ver bigint, val string) "
            "USING engine TBLPROPERTIES (primaryKey = 'id', "
            "preCombineField = 'ver', autoIndex = "
            "'secondary_index(vall)') "
            f"LOCATION '{tmp_path / 'ai2'}'",
            {},
            None,
        )
    # set_auto_index on a table with a known schema: same
    t = make_table(spark, tpath)
    t.bulk_insert(df_of(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="not in the table schema"):
        TableServices(t).set_auto_index(["secondary_index(nope)"])
    # a DANGLING spec (reachable only by direct meta mutation or the
    # rename crash window) degrades to SKIPPED extension (r13): every
    # user surface validates at spec time above, and failing every
    # later write for it would wedge the table
    t.meta["auto_index"] = ["secondary_index(ghost)"]
    t.upsert(df_of(spark, [(2, 1, "b")]))
    assert t.snapshot().count() == 2
    # a REAL maintenance failure after the durable publish still says
    # so explicitly (retrying the write would duplicate rows)
    t.meta["auto_index"] = ["secondary_index(val)"]
    orig = TableServices.build_secondary_index

    def _boom(self, *a, **k):
        raise OSError("disk full")

    TableServices.build_secondary_index = _boom
    try:
        with pytest.raises(RuntimeError, match="durably published"):
            t.upsert(df_of(spark, [(3, 1, "c")]))
    finally:
        TableServices.build_secondary_index = orig
    # the commit IS there; retrying would duplicate — snapshot shows it
    assert t.snapshot().count() == 3


def _pdf(spark, rows):
    return spark.createDataFrame(
        rows, "id long, ver long, val string, st string"
    )


def test_bootstrap_partitioned_layout(spark, tmp_path):
    """r12 verdict item 4: bootstrap adopts a HIVE-PARTITIONED source
    in place — partition values parse from the col=val path segments
    into the manifest partition dict + stats, so pruning / incremental
    / partition-local upsert rewrite all work with zero copy."""
    src = str(tmp_path / "psrc")
    _pdf(
        spark,
        [(i, 1, f"v{i}", ["F", "O", "P"][i % 3]) for i in range(90)],
    ).repartition(3).write.partitionBy("st").parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "ptbl"), src, key="id", precombine="ver",
        partition_fields=["st"],
    )
    assert not os.path.exists(os.path.join(t.path, "data"))
    snap = t.snapshot()
    assert snap.count() == 90
    # partition values surface typed from the source's own hive dirs
    assert rows_of(snap.where("id = 4"), "id", "st") == [(4, "O")]
    assert {r["_commit_time"] for r in snap.collect()} == {
        t.meta["bootstrap_commit"]
    }
    # every external entry carries the parsed partition dict
    entries = t.current_files()
    assert entries and all(
        e.get("external") and e["partition"]["st"] in ("F", "O", "P")
        for e in entries
    )
    # manifest-level partition pruning: only F files are scanned
    f_files = [e for e in entries if e["partition"]["st"] == "F"]
    pruned = t.snapshot(filters={"st": "F"})
    assert sorted({r["st"] for r in pruned.collect()}) == ["F"]
    assert pruned.count() == 30
    # upsert rewrites ONLY the affected partition's file(s)
    t.upsert(_pdf(spark, [(4, 2, "v4b", "O")]))
    snap2 = t.snapshot()
    assert snap2.count() == 90
    got = {r["id"]: (r["ver"], r["val"], r["st"]) for r in snap2.collect()}
    assert got[4] == (2, "v4b", "O") and got[3] == (1, "v3", "F")
    live_ext = [e for e in t.current_files() if e.get("external")]
    # F/P partitions' externals all survive; at least one O file retired
    assert {e["partition"]["st"] for e in live_ext} >= {"F", "P"}
    assert len(live_ext) < len(entries)
    # incremental window picks up exactly the upserted key
    assert rows_of(
        t.incremental(t.meta["bootstrap_commit"]), "id"
    ) == [(4,)]


def test_bootstrap_partitioned_validation(spark, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "pv")
    _pdf(spark, [(1, 1, "a", "F")]).write.partitionBy("st").parquet(src)
    with _pytest.raises(ValueError, match="cannot be partition fields"):
        Table.bootstrap(
            spark, str(tmp_path / "pv1"), src, key="st", precombine="ver",
            partition_fields=["st"],
        )
    with _pytest.raises(ValueError, match="not discovered"):
        Table.bootstrap(
            spark, str(tmp_path / "pv2"), src, key="id", precombine="ver",
            partition_fields=["nope"],
        )
    # non-uniform layout (a file outside any col=val dir) fails loud —
    # either at Spark's own discovery (CONFLICTING_DIRECTORY_STRUCTURES)
    # or at the engine's per-file segment check, never a silent adopt
    src2 = str(tmp_path / "pv3src")
    _pdf(spark, [(1, 1, "a", "F")]).write.partitionBy("st").parquet(src2)
    spark.createDataFrame(
        [(2, 1)], "id long, ver long"
    ).write.mode("append").parquet(src2 + "/stray")
    with _pytest.raises(Exception, match="uniform hive-style|CONFLICTING"):
        Table.bootstrap(
            spark, str(tmp_path / "pv3"), src2, key="id", precombine="ver",
            partition_fields=["st"],
        )


def test_bootstrap_stream_unpartitioned(spark, tmp_path):
    """r12 verdict item 4: read_stream sees EXTERNAL (bootstrapped)
    files — they form the bootstrap commit's vintage branch over the
    source glob, meta column coalesced to the bootstrap commit — and
    managed commits written after bootstrap stream through the open
    glob alongside."""
    src = str(tmp_path / "bs_src")
    df_of(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1).write.parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "bs_tbl"), src, key="id", precombine="ver"
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("bs_stream_u")
        .option("checkpointLocation", str(tmp_path / "ckpt_u"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("bs_stream_u")
        assert rows_of(got, "id", "val") == [(1, "a"), (2, "b")]
        bc = t.meta["bootstrap_commit"]
        assert {r["_commit_time"] for r in got.collect()} == {bc}
        # a post-bootstrap upsert streams through the managed glob
        t.upsert(df_of(spark, [(3, 1, "c")]))
        q.processAllAvailable()
        got = rows_of(spark.table("bs_stream_u"), "id", "val")
        assert (3, "c") in got and len(got) == 3
    finally:
        q.stop()


def test_bootstrap_stream_partitioned(spark, tmp_path):
    """Streaming over a PARTITIONED bootstrap: partition columns
    reconstitute from the SOURCE-relative col=val segments (no
    commit-dir anchor on external paths)."""
    src = str(tmp_path / "bsp_src")
    _pdf(
        spark, [(1, 1, "a", "F"), (2, 1, "b", "O")]
    ).coalesce(1).write.partitionBy("st").parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "bsp_tbl"), src, key="id", precombine="ver",
        partition_fields=["st"],
    )
    q = (
        t.read_stream()
        .writeStream.format("memory")
        .queryName("bs_stream_p")
        .option("checkpointLocation", str(tmp_path / "ckpt_p"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("bs_stream_p")
        assert rows_of(got, "id", "val", "st") == [
            (1, "a", "F"), (2, "b", "O"),
        ]
        t.upsert(_pdf(spark, [(3, 1, "c", "P")]))
        q.processAllAvailable()
        got = rows_of(spark.table("bs_stream_p"), "id", "st")
        assert (3, "P") in got and len(got) == 3
    finally:
        q.stop()


def test_bootstrap_stream_refuses_mutated_source(spark, tmp_path):
    """r13 verdict item 5: the read-only-source contract is guarded
    mechanically — the bootstrap commit records a fingerprint of the
    adopted listing and read_stream fails loud when the source glob
    has grown, instead of silently streaming non-table data. Engine
    activity (upserts retiring externals) must NOT trip the probe."""
    src = str(tmp_path / "grd_src")
    df_of(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1).write.parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "grd_tbl"), src, key="id", precombine="ver"
    )
    assert t.meta["bootstrap_fingerprint"]["count"] >= 1
    # engine writes never mutate the source: stream still starts
    t.upsert(df_of(spark, [(2, 2, "b2")]))
    t.read_stream()
    # a file dropped into the source AFTER bootstrap refuses the stream
    df_of(spark, [(9, 1, "x")]).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="adopted READ-ONLY"):
        t.read_stream()
    # pre-r14 bootstraps (no recorded fingerprint) keep the documented
    # contract: the stream still builds
    t.meta.pop("bootstrap_fingerprint")
    t.read_stream()


def test_bootstrap_partitioned_compaction_migrates(spark, tmp_path):
    """Compaction over a partitioned bootstrap migrates external files
    into managed hive dirs (snapshot unchanged); the retired externals
    are never physically deleted (not engine-owned)."""
    src = str(tmp_path / "csrc")
    _pdf(
        spark, [(i, 1, f"v{i}", ["F", "O"][i % 2]) for i in range(20)]
    ).coalesce(1).write.partitionBy("st").parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "ctbl"), src, key="id", precombine="ver",
        partition_fields=["st"],
    )
    ext_paths = [e["path"] for e in t.current_files()]
    TableServices(t).compact()
    assert not any(e.get("external") for e in t.current_files())
    assert rows_of(t.snapshot(), "id", "st") == [
        (i, ["F", "O"][i % 2]) for i in range(20)
    ]
    for p in ext_paths:
        assert os.path.exists(p), "externals must survive compaction"
    # post-compaction partition pruning works off managed stats
    assert t.snapshot(filters={"st": "F"}).count() == 10


def test_bootstrap_partitioned_catalog_sync_incremental(spark, tmp_path):
    """Catalog sync over a partitioned bootstrap: the first sync CTASes
    the adopted snapshot; a later partition-local upsert syncs
    O(changed partitions) — attribution reads the partition dicts the
    bootstrap parsed from the source layout."""
    import uuid

    src = str(tmp_path / "ssrc")
    _pdf(
        spark, [(i, 1, f"v{i}", ["F", "O"][i % 2]) for i in range(20)]
    ).coalesce(1).write.partitionBy("st").parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "stbl"), src, key="id", precombine="ver",
        partition_fields=["st"],
    )
    svc = TableServices(t)
    ident = f"eng_bsync_{uuid.uuid4().hex[:8]}"
    try:
        assert svc.sync_spark_catalog(
            ident, location=str(tmp_path / "mirror")
        ) == ["*"]
        assert spark.table(ident).count() == 20
        t.upsert(_pdf(spark, [(2, 2, "v2b", "F")]))
        # only the F partition refreshes
        assert svc.sync_spark_catalog(ident) == ["F"]
        got = {r["id"]: r["val"] for r in spark.table(ident).collect()}
        assert got[2] == "v2b" and len(got) == 20
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ident}")


def test_bootstrap_partitioned_special_and_null_values(spark, tmp_path):
    """Partition-value parse parity with Spark's own hive encoding:
    url-escaped characters (space, %, =, /) and the null sentinel must
    round-trip through the bootstrap's segment parse exactly as a
    plain spark.read of the source does, and the manifest partition
    dicts must prune correctly on them."""
    src = str(tmp_path / "wsrc")
    rows = [
        (1, 1, "a", "has space"),
        (2, 1, "b", "pct%val"),
        (3, 1, "c", "eq=sign"),
        (4, 1, "d", None),
        (5, 1, "e", "sl/ash"),
    ]
    _pdf(spark, rows).coalesce(1).write.partitionBy("st").parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "wtbl"), src, key="id", precombine="ver",
        partition_fields=["st"],
    )
    expect = sorted((r[0], r[3]) for r in rows)
    assert rows_of(t.snapshot(), "id", "st") == expect
    # dict parse matches Spark's decode (incl. the null sentinel)
    got = {
        e["partition"]["st"] for e in t.current_files()
    }
    assert got == {"has space", "pct%val", "eq=sign", None, "sl/ash"}
    # manifest-level pruning on an escaped value
    assert rows_of(
        t.snapshot(filters={"st": "eq=sign"}).where("st = 'eq=sign'"),
        "id",
    ) == [(3,)]


def test_bootstrap_stream_refuses_in_place_overwrite(spark, tmp_path):
    """r14 review finding: the fingerprint hashes per-file SIZES too,
    so an in-place overwrite of an adopted file (same path, new bytes)
    refuses the stream — not just listing growth."""
    import glob as _glob
    import os

    src = str(tmp_path / "ow_src")
    df_of(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1).write.parquet(src)
    t = Table.bootstrap(
        spark, str(tmp_path / "ow_tbl"), src, key="id", precombine="ver"
    )
    t.read_stream()
    # overwrite an adopted parquet IN PLACE with different-size content
    victim = _glob.glob(os.path.join(src, "*.parquet"))[0]
    tmp_out = str(tmp_path / "ow_newfile")
    df_of(
        spark, [(1, 2, "a-rewritten-much-longer-value"), (2, 2, "bb")]
    ).coalesce(1).write.parquet(tmp_out)
    new_part = _glob.glob(os.path.join(tmp_out, "*.parquet"))[0]
    os.replace(new_part, victim)
    with pytest.raises(ValueError, match="adopted READ-ONLY"):
        t.read_stream()


def test_shallow_clone_diverges_without_touching_source(spark, tmp_path):
    """r14: zero-copy clone — the clone commit adopts the source's live
    files as externals (stats copied, zero bytes moved); upserts to the
    clone rewrite only affected rows into clone-managed files while the
    source snapshot stays byte-identical; source writes after the clone
    are invisible to the clone."""
    src = Table.create(
        spark, str(tmp_path / "src"), key="id", precombine="ver",
        table_name="clone_src",
    )
    src.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]))
    clone = Table.shallow_clone(spark, str(tmp_path / "cl"), src)
    assert all(e.get("external") for e in clone.current_files())
    assert rows_of(clone.snapshot(), "id", "val") == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # cloned rows keep SOURCE commit times (provenance)
    src_commit = src.commits()[-1]
    assert {r["_commit_time"] for r in clone.snapshot().collect()} == {
        src_commit
    }
    # divergent write: clone changes, source does not
    clone.upsert(df_of(spark, [(2, 2, "b2"), (4, 1, "d")]))
    assert rows_of(clone.snapshot(), "id", "val") == [
        (1, "a"), (2, "b2"), (3, "c"), (4, "d"),
    ]
    assert rows_of(src.snapshot(), "id", "val") == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # source write after the clone: invisible to the clone
    src.upsert(df_of(spark, [(9, 1, "z")]))
    assert rows_of(clone.snapshot(), "id") == [(1,), (2,), (3,), (4,)]
    # clone incremental feed starts EMPTY (adopted rows predate it)
    inc = clone.incremental(clone.commits()[0])
    assert rows_of(inc, "id") == [(2,), (4,)]
    # clone cleaner never deletes the shared (source-owned) files
    TableServices(clone).clean(retain_commits=0)
    assert rows_of(src.snapshot(), "id", "val") == [
        (1, "a"), (2, "b"), (3, "c"), (9, "z"),
    ]


def test_shallow_clone_v1_refusals(spark, tmp_path):
    """Fail-loud scope: MOR, partitioned, renamed, and external-bearing
    sources are refused with actionable messages."""
    mor = Table.create(
        spark, str(tmp_path / "m"), key="id", precombine="ver",
        table_name="m", table_type="mor",
    )
    mor.bulk_insert(df_of(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="COW"):
        Table.shallow_clone(spark, str(tmp_path / "c1"), mor)
    ren = Table.create(
        spark, str(tmp_path / "r"), key="id", precombine="ver",
        table_name="r",
    )
    ren.bulk_insert(df_of(spark, [(1, 1, "a")]))
    ren.alter_rename_column("val", "v2")
    with pytest.raises(ValueError, match="renamed"):
        Table.shallow_clone(spark, str(tmp_path / "c2"), ren)
    empty = Table.create(
        spark, str(tmp_path / "e"), key="id", precombine="ver",
        table_name="e",
    )
    with pytest.raises(ValueError, match="no commits"):
        Table.shallow_clone(spark, str(tmp_path / "c3"), empty)
    # a clone of a clone (external live files) is refused
    srcx = Table.create(
        spark, str(tmp_path / "sx"), key="id", precombine="ver",
        table_name="sx",
    )
    srcx.bulk_insert(df_of(spark, [(1, 1, "a")]))
    c = Table.shallow_clone(spark, str(tmp_path / "c4"), srcx)
    with pytest.raises(ValueError, match="external live"):
        Table.shallow_clone(spark, str(tmp_path / "c5"), c)


def test_shallow_clone_multi_commit_source_no_phantom_incrementals(
    spark, tmp_path
):
    """r14 review (top finding): commit ids are per-table counters —
    with a 2-commit source, adopted bytes carry stamp 2, and a clone
    timeline restarting at 1 would surface them as phantom post-clone
    changes. The clone timeline seeds above the pinned source commit."""
    src = Table.create(
        spark, str(tmp_path / "ms"), key="id", precombine="ver",
        table_name="ms",
    )
    src.bulk_insert(df_of(spark, [(1, 1, "a"), (2, 1, "b")]))
    src.upsert(df_of(spark, [(2, 2, "b2")]))  # commit 2: stamps '...2'
    clone = Table.shallow_clone(spark, str(tmp_path / "mc"), src)
    first = clone.commits()[0]
    assert int(first) > int(src.commits()[-1])
    # incremental from the clone's first commit: EMPTY, no phantoms
    assert clone.incremental(first).count() == 0
    clone.upsert(df_of(spark, [(3, 1, "c")]))
    assert rows_of(clone.incremental(first), "id") == [(3,)]
    # behavioral config carries over; explicit 0 means unlimited, not
    # inherit (None inherits)
    src2 = Table.create(
        spark, str(tmp_path / "cfg"), key="id", precombine="ver",
        table_name="cfg", constraints={"pos": "amt > 0"},
        max_records_per_file=1000,
    )
    src2.bulk_insert(spark.createDataFrame(
        [(1, 1, 10.0, "a")],
        "id long, ver long, amt double, tag string"))
    c2 = Table.shallow_clone(spark, str(tmp_path / "cfgc"), src2)
    assert c2.meta["constraints"] == {"pos": "amt > 0"}
    assert c2.meta["max_records_per_file"] == 1000
    c2.upsert(spark.createDataFrame(
        [(9, 1, -5.0, "x")],
        "id long, ver long, amt double, tag string"))
    # violating row is quarantined (prod behavior), not committed
    assert rows_of(c2.snapshot().where("id = 9"), "id") == []
    assert rows_of(c2.quarantine(), "id") == [(9,)]
    c3 = Table.shallow_clone(
        spark, str(tmp_path / "cfgc0"), src2, max_records_per_file=0
    )
    assert c3.meta["max_records_per_file"] == 0
    # partitioned sources are refused (the one v1 guard previously
    # untested)
    p = Table.create(
        spark, str(tmp_path / "ps"), key="id", precombine="ver",
        table_name="ps", partition_fields=["tag"],
    )
    p.bulk_insert(spark.createDataFrame(
        [(1, 1, 10.0, "x")],
        "id long, ver long, amt double, tag string"))
    with pytest.raises(ValueError, match="unpartitioned"):
        Table.shallow_clone(spark, str(tmp_path / "pc"), p)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_merge_delete_flag_keeps_row_whose_update_is_quarantined(
    spark, tpath, table_type
):
    """merge(delete_col=...) rewrites only the keys it actually applies:
    an update diverted by a constraint leaves the stored row in place on
    COW exactly as on MOR, while a flagged delete still deletes."""
    t = Table.create(
        spark, tpath, key="id", precombine="ver", table_type=table_type,
        constraints={"pos": "v >= 0"},
    )
    schema = "id long, ver long, v long"
    t.upsert(spark.createDataFrame([(1, 1, 10), (2, 1, 20)], schema))
    src = spark.createDataFrame(
        [(1, 2, -5, False), (2, 2, 0, True)], schema + ", _del boolean"
    )
    t.merge(src, delete_col="_del")
    assert rows_of(t.snapshot(), "id", "v") == [(1, 10)]
    assert rows_of(t.quarantine(), "id") == [(1,)]


def _count_jobs(spark, label, fn):
    """Spark jobs and tasks one call issues: run ``fn`` under its own
    job group and read the group back from the status tracker. Tasks
    are the completed ones, so a skipped stage counts none."""
    sc = spark.sparkContext
    group = f"job-budget-{label}"
    sc.setJobGroup(group, label)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        stage.numCompletedTasks
        for job in jobs
        for sid in tracker.getJobInfo(job).stageIds
        if (stage := tracker.getStageInfo(sid)) is not None
    )
    return len(jobs), tasks


# Spark jobs per commit type on the fixture below, as measured before the
# COW commit paths were folded onto one rewrite kernel. A commit that
# starts issuing more jobs fails here instead of in the next benchmark.
# Delete and partial_update were budgeted 9 and 12 while AQE could add a
# broadcast at run time to the touched-files semi-join of a key frame
# the optimizer cannot size (a createDataFrame batch; 8 and 11 without
# it). That join, and the by-source MERGE INTO's membership joins, are
# now planned as sort-merge joins, so the count is the same on every run.
JOB_BUDGETS = {
    "cow_upsert": 10,
    "cow_merge_delete_flag": 8,
    "cow_delete": 8,
    "cow_delete_where_scan": 3,
    "cow_delete_where_partition": 0,
    "cow_update_where": 3,
    "cow_partial_update": 11,
    "cow_merge_into": 9,
    "cow_merge_into_insert_collision": 12,
    "mor_upsert": 2,
    "mor_delete": 2,
    # MERGE INTO rows counted inside the whole module; the MOR rows
    # after MOR MERGE INTO stopped deduping its claimed rows (before:
    # 15, 18 and 9)
    "mor_merge_into": 10,
    "mor_merge_into_insert_collision": 18,
    "cow_merge_by_source_delete": 7,
    "mor_merge_by_source_delete": 5,
    # file indexes, counted before record, secondary and expression
    # indexes were folded onto one build/prune module
    "record_index_build_full": 2,
    "secondary_index_build_full": 3,
    "expression_index_build_full": 2,
    "record_index_upsert": 16,
    "record_index_build_incremental": 2,
    "secondary_index_build_incremental": 3,
    "expression_index_build_incremental": 2,
    "secondary_index_snapshot": 4,
    "expression_index_read_where": 3,
    # keyed writes whose candidates go through the key probe (bucket,
    # range and bloom tests in one Spark job); counted after the three
    # tests were folded into that one pass (before, run alone: 12, 14
    # and 12). Run alone, the range-pruned upsert issues one job and one
    # task fewer (9 and 22) than inside the whole module.
    "bloom_upsert": 11,
    "bucket_upsert": 13,
    "range_pruned_upsert": 10,
    # a table of 48 live files, past the 32 paths at which Spark's
    # parquet reader lists them with a Spark job of one task per path;
    # counted after scans took their file index from the manifest
    # (before, run alone: 3, 1 and 8 jobs; 53, 48 and 105 tasks)
    "wide_snapshot_count": 2,
    "wide_incremental": 0,
    "wide_upsert": 6,
}
# Spark tasks of the key-probe rows, counted like their jobs (before,
# run alone: 25, 32 and 28), of the wide-table rows, of the MERGE INTO
# rows (MOR before the claimed rows' dedup went: 113, 127 and 68), and
# of the COW upsert and MERGE INTO after the rewrite sized its output to
# the read-split count (before, inside the whole module: 22 and 26; the
# MERGE INTO now touches one larger file of a table holding 4 files
# where there were 7), and of the COW delete (16 before, inside the
# module). The files each COW commit writes are pinned by
# test_cow_rewrite_writes_read_split_sized_files.
TASK_BUDGETS = {
    "cow_upsert": 22,
    "cow_delete": 16,
    "cow_merge_into": 27,
    "mor_merge_into": 53,
    "mor_merge_into_insert_collision": 122,
    "cow_merge_by_source_delete": 26,
    "mor_merge_by_source_delete": 28,
    "bloom_upsert": 24,
    "bucket_upsert": 31,
    "range_pruned_upsert": 23,
    "wide_snapshot_count": 5,
    "wide_incremental": 0,
    "wide_upsert": 25,
}


def test_commit_job_budgets(spark, tmp_path):
    schema = "id long, ver long, val string"

    def three_files(t):
        for lo in (0, 20, 40):
            t.bulk_insert(
                spark.range(lo, lo + 20).coalesce(1)
                .selectExpr("id", "1L AS ver", "'v' AS val")
            )
        return t

    def rows(*r):
        return spark.createDataFrame(list(r), schema)

    cow = three_files(Table.create(
        spark, str(tmp_path / "cow"), key="id", precombine="ver"
    ))
    parted = Table.create(
        spark, str(tmp_path / "parted"), key="id", precombine="ver",
        partition_fields=["grp"],
    )
    parted.bulk_insert(
        spark.range(0, 30).coalesce(1).selectExpr(
            "id", "1L AS ver", "concat('g', cast(id % 3 AS string)) AS grp"
        )
    )
    mor = three_files(Table.create(
        spark, str(tmp_path / "mor"), key="id", precombine="ver",
        table_type="mor",
    ))
    indexed = three_files(Table.create(
        spark, str(tmp_path / "indexed"), key="id", precombine="ver"
    ))
    svc = TableServices(indexed)
    bloomed = three_files(Table.create(
        spark, str(tmp_path / "bloom"), key="id", precombine="ver",
        index_type="bloom",
    ))
    bucketed = three_files(Table.create(
        spark, str(tmp_path / "bucket"), key="id", precombine="ver",
        index_type="bucket", bucket_count=4,
    ))
    # one key per file over PRUNE_MIN_FILES files: range tests apply
    ranged = Table.create(
        spark, str(tmp_path / "ranged"), key="id", precombine="ver",
        max_records_per_file=1,
    )
    ranged.bulk_insert(
        spark.range(0, 20).coalesce(1).selectExpr("id", "1L AS ver", "'v' AS val")
    )
    wide = Table.create(
        spark, str(tmp_path / "wide"), key="id", precombine="ver",
        max_records_per_file=1,
    )
    wide.bulk_insert(
        spark.range(0, 48).coalesce(1).selectExpr("id", "1L AS ver", "'v' AS val")
    )
    upd = [("update", None, {"val": "s.val"})]
    ins = [("insert", None, None)]
    by_src = [("delete", "t.id > 55", None)]
    calls = {
        "cow_upsert": lambda: cow.upsert(rows((5, 2, "u"), (100, 1, "n"))),
        "cow_merge_delete_flag": lambda: cow.merge(
            spark.createDataFrame(
                [(6, 2, "m", False), (25, 2, "x", True)],
                schema + ", _del boolean",
            ),
            delete_col="_del",
        ),
        "cow_delete": lambda: cow.delete(
            spark.createDataFrame([(7,)], "id long")
        ),
        "cow_delete_where_scan": lambda: cow.delete_where("id = 45"),
        "cow_delete_where_partition": lambda: parted.delete_where(
            "grp = 'g1'"
        ),
        "cow_update_where": lambda: cow.update_where(
            {"val": "'w'"}, "id = 8"
        ),
        "cow_partial_update": lambda: cow.partial_update(rows((9, 3, "p"))),
        "cow_merge_into": lambda: cow.merge_into(
            rows((10, 3, "q"), (200, 1, "r")), "t.id = s.id",
            matched=upd, not_matched=ins,
        ),
        # ON is not pure key equality: the unmatched source row carries a
        # key the table holds, so the insert-collision rewrite runs
        "cow_merge_into_insert_collision": lambda: cow.merge_into(
            rows((11, 9, "c")), "t.id = s.id AND t.ver = s.ver",
            matched=upd, not_matched=ins,
        ),
        "cow_merge_by_source_delete": lambda: cow.merge_into(
            rows((1, 2, "b")), "t.id = s.id", not_matched_by_source=by_src,
        ),
        "mor_upsert": lambda: mor.upsert(rows((5, 2, "u"), (100, 1, "n"))),
        "mor_delete": lambda: mor.delete(
            spark.createDataFrame([(7,)], "id long")
        ),
        "mor_merge_into": lambda: mor.merge_into(
            rows((10, 3, "q"), (200, 1, "r")), "t.id = s.id",
            matched=upd, not_matched=ins,
        ),
        # key 10 no longer has val 'v': its source row is unmatched and
        # inserts a key the table holds, next to a delete and an update
        "mor_merge_into_insert_collision": lambda: mor.merge_into(
            rows((10, 4, "c"), (12, 2, "x"), (13, 2, "k")),
            "t.id = s.id AND t.val = 'v'",
            matched=[("delete", "s.val = 'x'", None), *upd], not_matched=ins,
        ),
        "mor_merge_by_source_delete": lambda: mor.merge_into(
            rows((1, 2, "b")), "t.id = s.id", not_matched_by_source=by_src,
        ),
        "record_index_build_full": lambda: svc.build_record_index(),
        "secondary_index_build_full": lambda: svc.build_secondary_index(
            "val"
        ),
        "expression_index_build_full": lambda: svc.build_expression_index(
            "upper(val)", name="uval"
        ),
        "record_index_upsert": lambda: indexed.upsert(
            rows((5, 2, "u"), (100, 1, "n"))
        ),
        "record_index_build_incremental": lambda: svc.build_record_index(
            incremental=True
        ),
        "secondary_index_build_incremental": (
            lambda: svc.build_secondary_index("val", incremental=True)
        ),
        "expression_index_build_incremental": (
            lambda: svc.build_expression_index(
                "upper(val)", name="uval", incremental=True
            )
        ),
        "secondary_index_snapshot": lambda: indexed.snapshot(
            filters={"val": "u"}
        ).collect(),
        "expression_index_read_where": lambda: indexed.read_where(
            "upper(val) = 'N'"
        ).collect(),
        "bloom_upsert": lambda: bloomed.upsert(rows((5, 2, "u"), (100, 1, "n"))),
        "bucket_upsert": lambda: bucketed.upsert(
            rows((5, 2, "u"), (100, 1, "n"))
        ),
        "range_pruned_upsert": lambda: ranged.upsert(
            rows((5, 2, "u"), (100, 1, "n"))
        ),
        "wide_snapshot_count": lambda: wide.snapshot().count(),
        "wide_incremental": lambda: wide.incremental(None),
        # rewrites 40 of the 48 files
        "wide_upsert": lambda: wide.upsert(
            spark.range(0, 40).selectExpr("id", "2L AS ver", "'w' AS val")
        ),
    }
    used = {name: _count_jobs(spark, name, fn) for name, fn in calls.items()}
    print("jobs, tasks per commit:", used)
    over = {
        n: (used[n][0], b) for n, b in JOB_BUDGETS.items() if used[n][0] > b
    } | {
        f"{n} tasks": (used[n][1], b)
        for n, b in TASK_BUDGETS.items()
        if used[n][1] > b
    }
    assert not over, f"commits over their budget (used, budget): {over}"
    assert rows_of(cow.snapshot().where("id = 11"), "val") == [("c",)]
    assert parted.snapshot().where("grp = 'g1'").count() == 0
    assert rows_of(mor.snapshot().where("id IN (5, 7)"), "id", "val") == [
        (5, "u")
    ]
    for t in (cow, mor):
        assert t.snapshot().where("id > 55").count() == 0
    assert rows_of(
        mor.snapshot().where("id IN (10, 12, 13)"), "id", "val"
    ) == [(10, "c"), (13, "k")]
    # each index pruned the read it served down to one of four files
    live = indexed.current_files()
    assert len(live) == 4
    assert len(indexed._prune_by_secondary_index(live, "val", "u")) == 1
    assert len(indexed._prune_by_expression_index(
        live, "upper(val) = 'N'"
    )) == 1
    assert rows_of(indexed.read_where("upper(val) = 'N'"), "id") == [(100,)]
    # the key probe narrowed each keyed write's candidates
    for stats in (bloomed._last_bloom_prune, bucketed._last_bucket_prune):
        assert stats["kept"] < stats["candidates"], stats
    keys = spark.createDataFrame([(5,)], "id long")
    kept = ranged._prune_by_keys(ranged.current_files(), keys)
    assert [e["stats"].get("id") for e in kept] == [[5, 5]]
    for t in (bloomed, bucketed, ranged):
        assert rows_of(t.snapshot().where("id IN (5, 100)"), "id", "val") == [
            (5, "u"), (100, "n")
        ]
    assert rows_of(wide.snapshot().groupBy("val").count(), "val", "count") == [
        ("v", 8), ("w", 40)
    ]


@pytest.mark.parametrize(
    "op", ["upsert", "delete", "merge_into", "record_index_upsert"]
)
def test_keyed_write_on_partition_value_with_space_percent_plus(
    spark, tmp_path, op
):
    """``_metadata.file_path`` percent-encodes a partition value's space
    and '%'; the touched-file lookup and the index prune must decode it
    once to find the manifest's path ('+' stays as it is), or the write
    misses the file and the old row survives beside the new one."""
    schema = "id long, ts long, state string"
    t = Table.create(
        spark, str(tmp_path / "t"), key="id", precombine="ts",
        partition_fields=["state"],
    )
    states = ["New York", "a%b", "a+b", "Ohio"]
    t.insert(spark.createDataFrame(
        [(i, 1, s) for i, s in enumerate(states)], schema
    ))
    batch = spark.createDataFrame(
        [(i, 2, s) for i, s in enumerate(states)], schema
    )
    expect = [(i, 2, s) for i, s in enumerate(states)]
    if op == "upsert":
        t.upsert(batch)
    elif op == "delete":
        t.delete(batch.select("id"))
        expect = []
    elif op == "merge_into":
        t.merge_into(
            batch, "t.id = s.id",
            matched=[("update", None, {"ts": "s.ts"})],
            not_matched=[("insert", None, None)],
        )
    else:
        TableServices(t).build_record_index()
        t.upsert(batch)
    assert rows_of(t.snapshot(), "id", "ts", "state") == expect


def test_cow_rewrite_publishes_no_empty_file(spark, tpath):
    """A rewrite whose write task got no rows publishes no 0-row file:
    such a file has no key stats, so it would stay a candidate of every
    later keyed write until compaction."""
    t = make_table(spark, tpath, max_records_per_file=1)
    t.bulk_insert(
        spark.range(0, 20).coalesce(1).selectExpr("id", "1L AS ver", "'v' AS val")
    )
    t.upsert(df_of(spark, [(5, 2, "u"), (100, 1, "n")]))
    added = t._manifest(t.latest_commit())["files_added"]
    assert sorted(e["rows"] for e in added) == [1, 1]
    assert all(e["stats"].get("id") for e in added)
    write_dir = os.path.join(t.path, *added[0]["path"].split("/")[:2])
    assert len([f for f in os.listdir(write_dir) if f.endswith(".parquet")]) == 2
    assert rows_of(t.snapshot(), "id", "val")[4:7] == [
        (4, "v"), (5, "u"), (6, "v")
    ]
    assert t.snapshot().count() == 21


def test_cow_rewrite_writes_read_split_sized_files(spark, tpath):
    """A COW commit coalesces its output to Spark's read-split count, so
    a small unpartitioned table stays one file whatever the
    partitioning of the frames written into it: the first load, upserts,
    delete, update_where and merge_into each leave one live file."""
    t = make_table(spark, tpath)
    model = {}

    def upsert(lo, hi, ver):
        t.upsert(
            spark.range(lo, hi).repartition(4)
            .selectExpr("id", f"{ver}L AS ver", f"'u{ver}' AS val")
        )
        model.update({i: (ver, f"u{ver}") for i in range(lo, hi)})

    def one_file():
        return len(t.current_files()) == 1

    upsert(0, 200, 1)
    assert one_file()
    upsert(150, 300, 2)
    assert one_file()
    upsert(290, 400, 3)
    assert one_file()
    t.delete(spark.createDataFrame([(3,), (160,), (399,)], "id long"))
    for k in (3, 160, 399):
        del model[k]
    assert one_file()
    t.update_where({"val": "'w'"}, "id >= 100 AND id < 120")
    for k in range(100, 120):
        model[k] = (model[k][0], "w")
    assert one_file()
    src = spark.createDataFrame(
        [(k, 9, f"m{k}") for k in (5, 250, 500, 501)],
        "id long, ver long, val string",
    ).repartition(4)
    t.merge_into(
        src, "t.id = s.id",
        matched=[("update", None, {"val": "s.val"})],
        not_matched=[("insert", None, None)],
    )
    for k in (5, 250):
        model[k] = (model[k][0], f"m{k}")
    for k in (500, 501):
        model[k] = (9, f"m{k}")
    assert one_file()
    got = {r["id"]: (r["ver"], r["val"]) for r in t.snapshot().collect()}
    assert got == model
    # Past one read split the rewrite writes ceil(est / split) files:
    # four more files, then an update of every row with a split of
    # half the table's bytes (minPartitionNum 1, so the split is
    # maxPartitionBytes) — each of the two files is one read split.
    t.bulk_insert(
        spark.range(1000, 1400).repartition(4)
        .selectExpr("id", "1L AS ver", "'b' AS val")
    )
    model.update({i: (1, "b") for i in range(1000, 1400)})
    assert len(t.current_files()) == 5
    est = sum(e["size"] for e in t.current_files())
    split = est // 2 + 1
    confs = {
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.files.minPartitionNum": "1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t.update_where({"val": "'z'"}, "id >= 0")
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(t.current_files()) == -(-est // split) == 2
    model = {k: (v, "z") for k, (v, _) in model.items()}
    got = {r["id"]: (r["ver"], r["val"]) for r in t.snapshot().collect()}
    assert got == model


def test_rewrite_sizing_leaves_stages_that_do_real_work(spark, tmp_path):
    """The read-split coalesce runs the output's last stage in fewer
    tasks, so it applies only to a stage that just reads: a scan, a
    broadcast probe, the final step of an aggregate over its shuffle.
    An aggregate whose input is already partitioned by its key keeps
    no shuffle of its own, so its stage holds the upstream work."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        _last_stage_is_light,
    )

    path = str(tmp_path / "src")
    spark.range(100).selectExpr(
        "id", "id % 3 AS ver", "cast(id AS string) AS val"
    ).write.parquet(path)
    a = spark.read.parquet(path)
    agg = a.groupBy("id").agg(F.max("ver").alias("ver"))
    assert _last_stage_is_light(a)
    assert _last_stage_is_light(agg)
    assert _last_stage_is_light(
        a.join(F.broadcast(a.select("id")), "id", "left_anti")
    )
    assert _last_stage_is_light(a.unionByName(agg, allowMissingColumns=True))
    assert not _last_stage_is_light(agg.groupBy("id").agg(F.max("ver")))
    assert not _last_stage_is_light(
        a.join(a.select("id").hint("merge"), "id", "left_anti")
    )
    assert not _last_stage_is_light(
        a.withColumn(
            "r", F.row_number().over(Window.partitionBy("ver").orderBy("id"))
        )
    )
    assert not _last_stage_is_light(a.select(F.explode(F.array("id", "ver"))))
    cached = spark.read.parquet(path).persist()
    assert not _last_stage_is_light(cached.select("id", "val"))
    cached.unpersist()


def test_join_side_of_unknown_size_keeps_its_sort_merge_join(spark, tmp_path):
    """A key frame the optimizer cannot size (rows from a Python list)
    is joined by sort-merge on every run, so AQE cannot turn the join
    into a broadcast on some runs and not others; a frame read from
    files keeps the planner's choice."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        _merge_join_if_unsized,
    )

    path = str(tmp_path / "src")
    spark.range(100).write.parquet(path)
    a = spark.read.parquet(path)
    keys = spark.createDataFrame([(7,), (8,)], "id long")
    j = a.join(_merge_join_if_unsized(keys), "id", "left_semi")
    assert sorted(r.id for r in j.collect()) == [7, 8]
    final = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in final and "BroadcastHashJoin" not in final
    sized = a.select("id")
    assert _merge_join_if_unsized(sized) is sized


def test_rewrite_family_cow_matches_mor(spark, tmp_path):
    """Every keyed mutation lands the same rows on a COW table (file
    rewrite) as on a MOR table (delta append), step by step; on COW the
    rows of files a commit did not rewrite keep their ``_commit_time``."""
    schema = "id long, ver long, val string"

    def rows(*r):
        return spark.createDataFrame(list(r), schema)

    tables = {}
    for tt in ("cow", "mor"):
        t = Table.create(
            spark, str(tmp_path / tt), key="id", precombine="ver",
            table_type=tt,
        )
        for lo in (0, 10, 20):
            t.bulk_insert(
                spark.range(lo, lo + 10).coalesce(1)
                .selectExpr("id", "1L AS ver", "'v' AS val")
            )
        tables[tt] = t
    steps = [
        ("upsert", lambda t: t.upsert(rows((5, 2, "u"), (100, 1, "n")))),
        ("merge", lambda t: t.merge(
            spark.createDataFrame(
                [(6, 2, "m", False), (25, 2, "x", True),
                 (101, 1, "n2", None)],
                schema + ", _del boolean",
            ),
            delete_col="_del",
        )),
        ("delete", lambda t: t.delete(
            spark.createDataFrame([(7,), (26,)], "id long")
        )),
        ("delete_where", lambda t: t.delete_where("id = 15")),
        ("update_where", lambda t: t.update_where(
            {"val": "concat(val, '!')"}, "id BETWEEN 8 AND 9"
        )),
        # id 11 arrives with an older precombine and loses
        ("partial_update", lambda t: t.partial_update(
            rows((10, 3, "p"), (11, 0, "old"))
        )),
        ("merge_into", lambda t: t.merge_into(
            rows((12, 3, "q"), (13, 3, "del"), (200, 1, "r")),
            "t.id = s.id",
            matched=[
                ("delete", "s.val = 'del'", None),
                ("update", None, {"val": "s.val", "ver": "s.ver"}),
            ],
            not_matched=[("insert", None, None)],
        )),
        ("apply_cdc_feed", lambda t: t.apply_cdc_feed(
            spark.createDataFrame(
                [(14, 5, "c1", "u"), (16, 5, None, "d"), (300, 5, "i", "c")],
                schema + ", _op string",
            )
        )),
    ]
    cow, mor = tables["cow"], tables["mor"]
    cols = cow.snapshot().columns
    for name, op in steps:
        live_before = {e["path"] for e in cow.current_files()}
        stamp_before = {
            r["id"]: r["_commit_time"] for r in cow.snapshot().collect()
        }
        commits = {tt: op(t) for tt, t in tables.items()}
        assert commits["cow"] == commits["mor"], name
        snaps = [
            sorted(tuple(r) for r in t.snapshot().select(*cols).collect())
            for t in (cow, mor)
        ]
        assert snaps[0] == snaps[1], name
        removed = set(cow._manifest(commits["cow"])["files_removed"])
        untouched = [
            e for e in cow.current_files()
            if e["path"] in live_before - removed
        ]
        assert untouched, name
        kept = cow._read_entries(untouched).collect()
        assert kept and all(
            stamp_before[r["id"]] == r["_commit_time"] for r in kept
        ), name
