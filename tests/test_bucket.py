"""Bucket index (Hudi ``hoodie.index.type=BUCKET`` analog): every key
pins to ``pmod(hash(key), bucket_count)``; writes range-partition on the
bucket id so per-file bucket stats are tight, and merges/point reads
prune candidates by bucket with ZERO index I/O. Creation-time structural
mode; the count can later change via ``resize_buckets`` — files record
the modulus they were written under, so mixed generations and time
travel prune exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
    execute_ddl,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    BUCKET_COL,
    Table,
)


@pytest.fixture
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def _make(spark, path, n_buckets=8, **kw):
    return Table.create(
        spark, path, key="k", precombine="v",
        index_type="bucket", bucket_count=n_buckets, **kw
    )


def _interleaved(spark, n=10000, nfiles=8):
    return (
        spark.range(0, n)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(nfiles, "k")
    )


def test_bucket_create_validation(spark, tpath):
    with pytest.raises(ValueError, match="bucket_count"):
        Table.create(spark, tpath, key="k", precombine="v", index_type="bucket")
    with pytest.raises(ValueError, match="bucket_count"):
        Table.create(spark, tpath, key="k", precombine="v", bucket_count=4)


def test_bucket_files_carry_tight_ranges(spark, tpath):
    t = _make(spark, tpath)
    t.bulk_insert(_interleaved(spark))
    entries = t.current_files()
    assert entries
    seen = set()
    for e in entries:
        lo, hi = e["stats"][BUCKET_COL]
        # range partitioning on the bucket column keeps per-file spans
        # tight — at 10k uniform rows over 8 buckets every file holds
        # at most a couple of adjacent buckets
        assert 0 <= lo <= hi <= 7
        assert hi - lo <= 1
        seen.update(range(lo, hi + 1))
    assert seen == set(range(8))
    # internal column never surfaces in reads
    assert BUCKET_COL not in t.snapshot().columns


def test_bucket_merge_prune_bounded_by_batch_buckets(spark, tpath):
    t = _make(spark, tpath)
    # interleaved KEY layout: the min/max key-range prune alone keeps
    # every file; the bucket prune must bound candidates anyway
    t.bulk_insert(_interleaved(spark))
    batch = spark.createDataFrame(
        [(5, 100), (9999, 200), (4242, 300)], "k long, v long"
    )
    t.upsert(batch)
    stats = t._last_bucket_prune
    assert stats is not None
    assert stats["buckets"] <= 3
    assert stats["kept"] <= stats["buckets"] + 1
    assert stats["kept"] < stats["candidates"]
    # the rewrite keeps the bucket layout (range-partitioned by bucket,
    # tight per-file bucket spans), not the read-split sizing
    added = t._manifest(t.latest_commit())["files_added"]
    assert len(added) == 3
    assert all(
        e["stats"][BUCKET_COL][1] - e["stats"][BUCKET_COL][0] <= 1
        for e in added
    )
    got = {
        r["k"]: r["v"]
        for r in t.snapshot().where(F.col("k").isin(5, 9999, 4242, 7)).collect()
    }
    assert got == {5: 100, 9999: 200, 4242: 300, 7: 14}
    assert t.snapshot().count() == 10000


def test_bucket_correct_under_many_random_batches(spark, tpath):
    import random

    rng = random.Random(11)
    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=6))
    expect = {k: 2 * k for k in range(2000)}
    for i in range(3):
        ks = rng.sample(range(2500), 40)
        rows = [(k, 10000 + i * 100 + k) for k in ks]
        for k, v in rows:
            expect[k] = v
        # no false negatives: every file holding a batch key is a candidate
        entries = t.current_files()
        keys = spark.createDataFrame([(k,) for k in ks], "k long")
        kept = t._prune_by_keys(entries, keys)
        assert all(e in kept for e in t._touched(entries, keys))
        t.upsert(spark.createDataFrame(rows, "k long, v long"))
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == expect


def test_bucket_point_read_prunes_to_one_bucket(spark, tpath):
    t = _make(spark, tpath)
    t.bulk_insert(_interleaved(spark))
    entries = t.current_files()
    pruned = t._prune_by_bucket_value(entries, 4242)
    assert 1 <= len(pruned) <= 2 < len(entries)
    row = t.snapshot(filters={"k": 4242}).where("k = 4242").collect()
    assert [(r["k"], r["v"]) for r in row] == [(4242, 8484)]
    # memoized per (value, modulus): second lookup resolves driver-side
    assert (4242, 8) in t._bucket_value_cache


def test_bucket_int_batch_widening_stable(spark, tpath):
    # int-keyed batch vs long-keyed table: canonical cast-to-long before
    # hashing keeps the bucket assignment identical
    t = _make(spark, tpath, n_buckets=16)
    t.bulk_insert(_interleaved(spark, n=1000, nfiles=4))
    batch_int = spark.createDataFrame([(7, 777)], "k int, v long")
    t.upsert(batch_int)
    assert t._last_bucket_prune["buckets"] == 1
    got = t.snapshot(filters={"k": 7}).where("k = 7").collect()
    assert [(r["k"], r["v"]) for r in got] == [(7, 777)]


def test_bucket_string_key(spark, tpath):
    t = Table.create(
        spark, tpath, key="name", precombine="v",
        index_type="bucket", bucket_count=4,
    )
    df = spark.range(0, 500).select(
        F.concat(F.lit("user-"), F.col("id")).alias("name"),
        F.col("id").alias("v"),
    )
    t.bulk_insert(df.repartition(4, "name"))
    t.upsert(spark.createDataFrame([("user-42", 9999)], "name string, v long"))
    assert t._last_bucket_prune["kept"] < t._last_bucket_prune["candidates"]
    got = t.snapshot(filters={"name": "user-42"}).where(
        "name = 'user-42'"
    ).collect()
    assert [(r["name"], r["v"]) for r in got] == [("user-42", 9999)]


def test_bucket_unsupported_key_type_raises_at_write(spark, tpath):
    t = Table.create(
        spark, tpath, key="k", precombine="v",
        index_type="bucket", bucket_count=4,
    )
    df = spark.range(3).select(
        (F.col("id") * 1.5).alias("k"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="integral/string"):
        t.bulk_insert(df)


def test_bucket_mor_deltas_and_point_read(spark, tpath):
    t = Table.create(
        spark, tpath, key="k", precombine="v", table_type="mor",
        index_type="bucket", bucket_count=8,
    )
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=8))
    t.upsert(spark.createDataFrame([(5, 999), (1234, 888)], "k long, v long"))
    # the delta file carries bucket stats too
    deltas = [e for e in t.current_files() if e.get("kind") == "delta"]
    assert deltas and all(BUCKET_COL in e["stats"] for e in deltas)
    # point read prunes base files to the key's bucket, merge still wins
    entries = t.current_files()
    pruned = t._prune_by_bucket_value(entries, 5)
    assert len(pruned) < len(entries)
    got = t.snapshot(filters={"k": 5}).where("k = 5").collect()
    assert [(r["k"], r["v"]) for r in got] == [(5, 999)]
    t.delete_where("k = 1234")
    assert t.snapshot().where("k = 1234").count() == 0


def test_bucket_partitioned_table_combo(spark, tpath):
    t = Table.create(
        spark, tpath, key="k", precombine="v",
        partition_fields=["grp"], index_type="bucket", bucket_count=4,
    )
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.col("id").alias("v"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    t.bulk_insert(df)
    for e in t.current_files():
        assert "grp=" in e["path"]
        assert BUCKET_COL in e["stats"]
    t.upsert(
        spark.createDataFrame([(7, 7777, "1")], "k long, v long, grp string")
    )
    got = t.snapshot().where("k = 7").collect()
    assert [(r["k"], r["v"], r["grp"]) for r in got] == [(7, 7777, "1")]
    assert t.snapshot().count() == 1000


def test_bucket_ddl_lifecycle(spark, tmp_path):
    cat: dict[str, Table] = {}
    loc = str(tmp_path / "ddl_tbl")
    execute_ddl(
        spark,
        f"""
        CREATE TABLE tb (k bigint, v bigint) USING engine
        LOCATION '{loc}'
        TBLPROPERTIES (
          primaryKey = 'k', preCombineField = 'v',
          indexType = 'bucket', bucketCount = 8
        )
        """,
        cat,
    )
    t = cat["tb"]
    assert t.meta["index_type"] == "bucket" and t.meta["bucket_count"] == 8
    rows = [
        tuple(r)
        for r in execute_ddl(spark, "SHOW INDEXES ON tb", cat).collect()
    ]
    assert ("bucket_index", "bucket", "k % 8") in rows
    stmt = execute_ddl(spark, "SHOW CREATE TABLE tb", cat).collect()[0][0]
    assert "indexType = 'bucket'" in stmt and "bucketCount = 8" in stmt
    with pytest.raises(ValueError, match="creation-time"):
        execute_ddl(
            spark, "CREATE INDEX bucket_index ON tb USING bucket_index()", cat
        )
    # write through the table and confirm pruning engages
    t.bulk_insert(_interleaved(spark, n=1000, nfiles=4))
    t.upsert(spark.createDataFrame([(5, 42)], "k long, v long"))
    assert t._last_bucket_prune is not None


def test_bucket_compaction_preserves_layout(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=6))
    for i in range(3):
        t.upsert(
            spark.createDataFrame([(i * 7 + 1, 9000 + i)], "k long, v long")
        )
    svc = TableServices(t)
    # the bucket layout IS the clustering: competing orders are refused
    with pytest.raises(ValueError, match="bucket"):
        svc.compact(sort_cols=["v"])
    with pytest.raises(ValueError, match="bucket"):
        svc.compact(zorder_cols=["k", "v"])
    svc.compact()
    entries = t.current_files()
    for e in entries:
        lo, hi = e["stats"][BUCKET_COL]
        assert hi - lo <= 1
        # key-sorted within buckets → key stats exist and are tight-ish
        assert e["stats"]["k"][0] <= e["stats"]["k"][1]
    got = {r["k"]: r["v"] for r in t.snapshot().where("k in (1, 8, 15)").collect()}
    assert got == {1: 9000, 8: 9001, 15: 9002}
    assert t.snapshot().count() == 2000


def test_bucket_prune_fails_open_on_cross_class_keys(spark, tpath):
    # a keys frame typed in a different class than the table's key
    # (Spark would implicitly cast in the semi-join) must NOT prune —
    # its buckets are computed in the wrong domain
    t = Table.create(
        spark, tpath, key="name", precombine="v",
        index_type="bucket", bucket_count=4,
    )
    df = spark.range(0, 100).select(
        F.col("id").cast("string").alias("name"), F.col("id").alias("v")
    )
    t.bulk_insert(df.repartition(4, "name"))
    entries = t.current_files()
    int_keys = spark.createDataFrame([(5,), (7,)], "name long")
    assert t._key_probe(entries, int_keys) == entries


def test_bucket_point_value_out_of_domain_fails_open(spark, tpath):
    t = Table.create(
        spark, tpath, key="k", precombine="v",
        index_type="bucket", bucket_count=4,
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(i, i) for i in range(100)], "k int, v long"
        )
    )
    # out-of-range literal for an int key: plain tables scan-and-miss;
    # bucket tables must not crash the read
    assert t.read_where("k = 3000000000").count() == 0
    # cross-class filter value: the bucket value-prune must fail open
    # (no crash); the generic stats prune still narrows files, which is
    # the filters= contract (superset of matching rows)
    assert t.snapshot(filters={"k": 5.5}).count() >= 0
    got = t.read_where("k = 42").collect()
    assert [(r["k"], r["v"]) for r in got] == [(42, 42)]


def test_bucket_refuses_bloom_conversion(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=200, nfiles=2))
    with pytest.raises(ValueError, match="structural"):
        TableServices(t).build_bloom_index()
    with pytest.raises(ValueError, match="structural"):
        TableServices(t).drop_bloom_index()
    assert t.meta["index_type"] == "bucket"
    cat = {"tb": t}
    with pytest.raises(ValueError, match="reserved"):
        execute_ddl(
            spark,
            "CREATE INDEX bucket_index ON tb USING expression_index(k % 2)",
            cat,
        )
    with pytest.raises(ValueError, match="cannot be dropped"):
        execute_ddl(spark, "DROP INDEX bucket_index ON tb", cat)


# ---------------------------------------------------------------------------
# resize_buckets
# ---------------------------------------------------------------------------


def _svc(t):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    return TableServices(t)


def test_resize_rewrite_preserves_data_and_time_travel(spark, tpath):
    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=6))
    pre = t.latest_commit()
    t.upsert(spark.createDataFrame([(7, 700)], "k long, v long"))
    c = _svc(t).resize_buckets(8)
    assert c is not None and t._manifest(c)["action"] == "replace"
    assert t.meta["bucket_count"] == 8
    assert all(e.get("bucket_n") == 8 for e in t.current_files())
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[7] == 700 and len(got) == 2000
    # post-resize merge prunes under the NEW modulus
    t.upsert(spark.createDataFrame([(42, 4242)], "k long, v long"))
    assert t._last_bucket_prune["moduli"] == [8]
    assert t._last_bucket_prune["kept"] < t._last_bucket_prune["candidates"]
    # time travel BEFORE the resize: old entries prune by their OWN
    # recorded modulus (4), not the table's current 8
    old = t.snapshot(as_of=pre, filters={"k": 42}).where("k = 42").collect()
    assert [(r["k"], r["v"]) for r in old] == [(42, 84)]


def test_resize_metadata_only_mixed_generations(spark, tpath):
    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=6))
    assert _svc(t).resize_buckets(16, rewrite=False) is None
    assert t.meta["bucket_count"] == 16
    # new writes land under 16 while old files keep modulus 4
    t.upsert(spark.createDataFrame([(5, 500), (1999, 1)], "k long, v long"))
    assert t._last_bucket_prune["moduli"] == [4]  # candidates all old-gen
    live = t.current_files()
    assert {e.get("bucket_n") for e in live} == {4, 16}
    # a second merge sees BOTH generations and resolves per modulus
    t.upsert(spark.createDataFrame([(5, 501)], "k long, v long"))
    assert t._last_bucket_prune["moduli"] == [4, 16]
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[5] == 501 and got[1999] == 1 and got[6] == 12
    assert len(got) == 2000
    # point reads hit both generations correctly
    assert t.snapshot(filters={"k": 5}).where("k = 5").collect()[0]["v"] == 501
    assert t.snapshot(filters={"k": 8}).where("k = 8").collect()[0]["v"] == 16
    # a bare compact converges the layout to one generation
    _svc(t).compact()
    assert {e.get("bucket_n") for e in t.current_files()} == {16}


def test_resize_validation(spark, tpath, tmp_path):
    plain = Table.create(
        spark, str(tmp_path / "plain"), key="k", precombine="v"
    )
    with pytest.raises(ValueError, match="bucket"):
        _svc(plain).resize_buckets(8)
    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=100, nfiles=2))
    with pytest.raises(ValueError, match=">= 1"):
        _svc(t).resize_buckets(0)
    assert _svc(t).resize_buckets(4) is None  # same count: no-op
    assert int(t.latest_commit()) == 1  # no commit published


def _strip_bucket_n(t):
    """Simulate a pre-resize-support layout: strip the recorded modulus
    from the latest manifest's entries."""
    import json

    mpath = t._commits_dir() + "/" + t.latest_commit() + ".json"
    man = json.load(open(mpath))
    for e in man["files_added"]:
        e.pop("bucket_n", None)
    json.dump(man, open(mpath, "w"))
    return Table.load(t.spark, t.path)


def test_resize_covers_legacy_entries_via_recorded_old_count(spark, tpath):
    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=200, nfiles=4))
    t2 = _strip_bucket_n(t)
    pre = t2.latest_commit()
    # metadata-only resize on a LEGACY layout: the first resize stamps
    # legacy_bucket_count=4, so legacy files keep pruning under 4
    assert _svc(t2).resize_buckets(8, rewrite=False) is None
    assert t2.meta["legacy_bucket_count"] == 4
    for k in range(0, 20):
        got = t2.snapshot(filters={"k": k}).where(f"k = {k}").collect()
        assert [(r["k"], r["v"]) for r in got] == [(k, 2 * k)], k
    # merges against the legacy generation stay exact too
    t2.upsert(spark.createDataFrame([(7, 777)], "k long, v long"))
    assert t2.snapshot().where("k = 7").collect()[0]["v"] == 777
    assert t2.snapshot().count() == 200
    # the rewrite mode re-stamps everything under the new count
    c = _svc(t2).resize_buckets(16, rewrite=True)
    assert c is not None
    assert all(e.get("bucket_n") == 16 for e in t2.current_files())
    # time travel to the LEGACY commit still point-reads exactly
    # (review repro: without legacy_bucket_count these returned empty)
    for k in (0, 1, 4, 5, 6):
        got = t2.snapshot(as_of=pre, filters={"k": k}).where(
            f"k = {k}"
        ).collect()
        assert [(r["k"], r["v"]) for r in got] == [(k, 2 * k)], k


def test_resize_via_call_procedure(spark, tpath):
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_dml import (
        call_procedure,
    )

    t = _make(spark, tpath, n_buckets=4)
    t.bulk_insert(_interleaved(spark, n=200, nfiles=2))
    out = call_procedure(
        spark,
        "CALL run_clustering(table => 'tb', bucket_count => 8)",
        {"tb": t},
    ).collect()
    assert out[0]["state"] == "completed"
    assert t.meta["bucket_count"] == 8
    with pytest.raises(ValueError, match="own strategy"):
        call_procedure(
            spark,
            "CALL run_clustering(table => 'tb', bucket_count => 4, "
            "small_file_rows => 10)",
            {"tb": t},
        )
