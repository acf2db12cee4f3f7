"""Bloom file index (engine/bloom.py + Table bloom hooks): the
reference's ``hoodie.index.type = BLOOM`` write config re-expressed as
per-commit sidecar filters consulted by the upsert key-lookup prune and
key-equality snapshot reads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.bloom import (
    BLOOM_K,
    bloom_build,
    bloom_decode,
    hash_pairs_array,
    might_contain,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_ddl import (
    execute_ddl,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
    TableServices,
)


@pytest.fixture
def tpath(tmp_path):
    return str(tmp_path / "tbl")


def _interleaved(spark, n=10000, nfiles=8):
    """Keys hash-scattered across files: every file spans ~the whole key
    domain, so the min/max range prune keeps every file."""
    return (
        spark.range(0, n)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(nfiles, "k")
    )


# -- pure filter math ---------------------------------------------------


def test_bloom_no_false_negatives():
    b = bloom_build(list(range(1000)))
    h1, h2 = hash_pairs_array(list(range(1000)))
    # every inserted key must hit — false negatives are correctness bugs
    assert might_contain(bloom_decode(b), h1, h2).all()


def test_bloom_false_positive_rate_bounded():
    b = bloom_build(list(range(1000)))
    probes = [f"absent-{i}" for i in range(2000)]
    h1, h2 = hash_pairs_array(probes)
    fp = int(might_contain(bloom_decode(b), h1, h2).sum())
    # sized for ~1% at 10 bits/key, k=7; allow generous slack
    assert fp / len(probes) < 0.05


def test_bloom_int_and_str_canonicalization_agree():
    # build from python ints (pyarrow to_pylist domain), probe with the
    # same ints from Spark rows — str() canonicalization must agree
    b = bloom_decode(bloom_build([5, 42, 9999]))
    assert might_contain(b, *hash_pairs_array([5])).tolist() == [True]
    # absent → only a (rare) false positive, one answer per key
    assert might_contain(b, *hash_pairs_array([6])).shape == (1,)
    assert bloom_build([5])["k"] == BLOOM_K


def test_bloom_empty_probe_and_empty_build():
    b = bloom_build([])
    h1, h2 = hash_pairs_array([])
    assert might_contain(bloom_decode(b), h1, h2).shape == (0,)


# -- write-side sidecars + merge pruning --------------------------------


def test_bloom_sidecar_written_per_commit(spark, tpath):
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark))
    bdir = os.path.join(tpath, "_index", "bloom")
    names = sorted(os.listdir(bdir))
    # one sidecar per write dir, named by the uuid-suffixed dir TOKEN
    # (not the bare commit id — see test_bloom_sidecar_occ_loser_orphaned)
    entries = t.current_files()
    tokens = sorted({e["path"].split("/")[1] for e in entries})
    assert names == [f"{tok}.json" for tok in tokens]
    assert all(tok.startswith(f"{t.commits()[0]}-") for tok in tokens)
    # every live file covered
    blooms = t._bloom_for_entries(entries)
    assert all(b is not None for b in blooms)


def test_bloom_sidecar_occ_loser_orphaned(spark, tpath):
    # an OCC loser wrote data + sidecar for the same COMMIT ID before
    # losing the manifest race; its sidecar is keyed by its own dir
    # token, so the winner's coverage is untouched
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, n=500, nfiles=4))
    commit = t.commits()[0]
    bdir = os.path.join(tpath, "_index", "bloom")
    with open(os.path.join(bdir, f"{commit}-deadbeef.json"), "w") as fh:
        fh.write('{"files": {}}')  # loser's sidecar: covers nothing
    t2 = Table.load(spark, tpath)
    blooms = t2._bloom_for_entries(t2.current_files())
    assert all(b is not None for b in blooms)


def test_bloom_backfill_repairs_partial_sidecar(spark, tpath):
    # a transient per-file build failure leaves that file OUT of the
    # sidecar (never a poisoned complete-looking sidecar); a re-run
    # builds exactly the gap — coverage is tracked per file, not per
    # sidecar existence
    import json

    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=1000, nfiles=4))
    TableServices(t).build_bloom_index()
    bdir = os.path.join(tpath, "_index", "bloom")
    (name,) = os.listdir(bdir)
    sp = os.path.join(bdir, name)
    with open(sp) as fh:
        side = json.load(fh)
    assert len(side["files"]) == 4
    dropped = sorted(side["files"])[0]
    del side["files"][dropped]
    with open(sp, "w") as fh:
        json.dump(side, fh)
    t2 = Table.load(spark, tpath)
    assert sum(
        b is None for b in t2._bloom_for_entries(t2.current_files())
    ) == 1
    TableServices(t2).build_bloom_index()
    t3 = Table.load(spark, tpath)
    blooms = t3._bloom_for_entries(t3.current_files())
    assert all(b is not None for b in blooms)


def test_bloom_backfill_reads_legacy_sidecar(spark, tpath):
    # a sidecar under the legacy per-commit name still covers its files:
    # the backfill sees the coverage the key probe sees and builds nothing
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, n=500, nfiles=4))
    commit = t.commits()[0]
    bdir = os.path.join(tpath, "_index", "bloom")
    (name,) = os.listdir(bdir)
    os.rename(os.path.join(bdir, name), os.path.join(bdir, f"{commit}.json"))
    t2 = Table.load(spark, tpath)
    assert all(b is not None for b in t2._bloom_for_entries(t2.current_files()))
    assert TableServices(t2).build_bloom_index() == commit
    assert os.listdir(bdir) == [f"{commit}.json"]


def test_bloom_prunes_interleaved_merge_candidates(spark, tpath):
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, nfiles=8))
    batch = spark.createDataFrame(
        [(5, 100), (9999, 200), (4242, 300)], "k long, v long"
    )
    t.upsert(batch)
    stats = t._last_bloom_prune
    assert stats is not None and stats["candidates"] == 8
    # 3 scattered keys land in ≤3 files (+ rare false positives); the
    # range prune alone would have kept all 8
    assert stats["kept"] <= 4
    snap = t.snapshot()
    got = {
        r["k"]: r["v"]
        for r in snap.where(F.col("k").isin(5, 9999, 4242, 7)).collect()
    }
    assert got == {5: 100, 9999: 200, 4242: 300, 7: 14}
    assert snap.count() == 10000


def test_bloom_upsert_correct_under_many_random_batches(spark, tpath):
    import random

    rng = random.Random(7)
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, n=2000, nfiles=6))
    expect = {k: 2 * k for k in range(2000)}
    for i in range(3):
        ks = rng.sample(range(2500), 40)  # mix of updates and inserts
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


def test_bloom_filters_past_broadcast_cap_still_prune(spark, tpath, monkeypatch):
    """Past BLOOM_BROADCAST_CAP the probe ships the filters that fit;
    the other files keep only their other tests, never a dropped file."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        bloom,
    )

    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, nfiles=8))
    entries = t.current_files()
    sizes = [b["m"] // 8 for b in t._bloom_for_entries(entries)]
    monkeypatch.setattr(bloom, "BLOOM_BROADCAST_CAP", sum(sizes[:3]))
    keys = spark.createDataFrame([(5,), (9999,), (4242,)], "k long")
    kept = t._key_probe(entries, keys)
    assert t._last_bloom_prune["covered"] == 3
    assert len(kept) < len(entries)
    assert all(e in kept for e in t._touched(entries, keys))


def test_bloom_many_filters_narrow_by_key_envelope_first(
    spark, tpath, monkeypatch
):
    """Past BLOOM_NARROW_BYTES of filters on a table with key ranges
    (time-ordered keys), the probe takes the batch's key envelope first:
    only the files it overlaps stay candidates and ship their filters,
    and the kept set is the one the single-pass probe finds."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        bloom,
    )
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        PRUNE_MIN_FILES,
    )

    n = PRUNE_MIN_FILES + 4
    t = Table.create(
        spark,
        tpath,
        key="k",
        precombine="v",
        index_type="bloom",
        max_records_per_file=50,
    )
    t.bulk_insert(
        spark.range(0, 50 * n)
        .select(F.col("id").alias("k"), F.col("id").alias("v"))
        .coalesce(1)
    )
    entries = t.current_files()
    assert len(entries) == n
    keys = spark.createDataFrame([(160,), (171,), (199,)], "k long")
    one_pass = t._key_probe(entries, keys)
    assert t._last_bloom_prune["covered"] == n
    monkeypatch.setattr(bloom, "BLOOM_NARROW_BYTES", 0)
    assert t._key_probe(entries, keys) == one_pass
    assert t._last_bloom_prune["candidates"] == 1
    assert t._last_bloom_prune["covered"] == 1
    assert [e["stats"]["k"] for e in one_pass] == [[150, 199]]


def test_bloom_point_lookup_read_prunes_files(spark, tpath):
    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, nfiles=8))
    entries = t.current_files()
    pruned = t._prune_by_bloom_value(entries, 4242)
    assert 1 <= len(pruned) < len(entries)
    # and the snapshot filter path returns the right row
    row = t.snapshot(filters={"k": 4242}).where("k = 4242").collect()
    assert [(r["k"], r["v"]) for r in row] == [(4242, 8484)]


def test_bloom_point_lookup_never_false_negative(spark, tpath):
    import random

    t = Table.create(spark, tpath, key="k", precombine="v", index_type="bloom")
    t.bulk_insert(_interleaved(spark, n=3000, nfiles=8))
    for k in random.Random(3).sample(range(3000), 15):
        es = t._prune_by_bloom_value(t.current_files(), k)
        assert t._read_entries(es).where(F.col("k") == k).count() == 1


def test_bloom_uncovered_files_fall_through(spark, tpath):
    # files written BEFORE the flag stay uncovered (kept), files after
    # are covered — staleness-safe like the record index
    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=1000, nfiles=4))
    t.meta["index_type"] = "bloom"  # enable without backfill
    batch = spark.createDataFrame([(1001, 1), (1002, 2)], "k long, v long")
    t.upsert(batch)  # this commit writes its own sidecar
    blooms = t._bloom_for_entries(t.current_files())
    assert any(b is None for b in blooms) and any(b is not None for b in blooms)
    # prune keeps every uncovered file
    keys = spark.createDataFrame([(5,)], "k long")
    kept = t._key_probe(t.current_files(), keys)
    uncovered = sum(1 for b in blooms if b is None)
    assert len(kept) >= uncovered


def test_bloom_backfill_service_and_drop(spark, tpath):
    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=1000, nfiles=4))
    t.upsert(spark.createDataFrame([(5, 99)], "k long, v long"))
    svc = TableServices(t)
    newest = svc.build_bloom_index()
    assert newest == t.commits()[-1]
    t2 = Table.load(spark, tpath)
    assert all(b is not None for b in t2._bloom_for_entries(t2.current_files()))
    # backfill is incremental: a re-run rewrites nothing
    mtimes = {
        f: os.path.getmtime(os.path.join(tpath, "_index", "bloom", f))
        for f in os.listdir(os.path.join(tpath, "_index", "bloom"))
    }
    TableServices(t2).build_bloom_index()
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(tpath, "_index", "bloom", f)) == m
    TableServices(t2).drop_bloom_index()
    assert t2.meta.get("index_type") is None
    keys = spark.createDataFrame([(5,)], "k long")
    assert t2._key_probe(t2.current_files(), keys) == t2.current_files()


def test_bloom_rejects_unsupported_key_type(spark, tpath):
    df = spark.range(3).select(
        (F.col("id") * 1.5).alias("k"), F.col("id").alias("v")
    )
    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(df)
    cat = {"tb": t}
    with pytest.raises(ValueError, match="integral/string"):
        execute_ddl(
            spark, "CREATE INDEX bloom_index ON tb USING bloom_index()", cat
        )
    # the failed CREATE must leave NO metadata trace: no bloom flag on
    # disk, nothing in SHOW INDEXES
    t2 = Table.load(spark, tpath)
    assert t2.meta.get("index_type") is None
    assert execute_ddl(spark, "SHOW INDEXES ON tb", cat).collect() == []


def test_bloom_mor_delta_files_covered(spark, tpath):
    t = Table.create(
        spark, tpath, key="k", precombine="v", table_type="mor",
        index_type="bloom",
    )
    t.bulk_insert(_interleaved(spark, n=500, nfiles=4))
    t.upsert(spark.createDataFrame([(5, 999)], "k long, v long"))
    blooms = t._bloom_for_entries(t.current_files())
    assert all(b is not None for b in blooms)
    got = t.snapshot().where("k = 5").collect()
    assert [(r["k"], r["v"]) for r in got] == [(5, 999)]


def test_bloom_ddl_lifecycle(spark, tpath):
    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=500, nfiles=4))
    cat = {"tb": t}
    execute_ddl(spark, "CREATE INDEX bloom_index ON tb USING bloom_index()", cat)
    rows = [tuple(r) for r in execute_ddl(spark, "SHOW INDEXES ON tb", cat).collect()]
    assert ("bloom_index", "bloom", "k") in rows
    with pytest.raises(ValueError, match="canonical"):
        execute_ddl(spark, "CREATE INDEX myname ON tb USING bloom_index()", cat)
    execute_ddl(spark, "DROP INDEX bloom_index ON tb", cat)
    rows = [tuple(r) for r in execute_ddl(spark, "SHOW INDEXES ON tb", cat).collect()]
    assert rows == []
    with pytest.raises(ValueError, match="no index"):
        execute_ddl(spark, "DROP INDEX bloom_index ON tb", cat)


def test_bloom_reserved_names_and_drop_fallthrough(spark, tpath):
    # CREATE reserves the canonical bloom/record names for their kinds —
    # an expression index so named could never be dropped through DDL
    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=500, nfiles=4))
    cat = {"tb": t}
    with pytest.raises(ValueError, match="reserved"):
        execute_ddl(
            spark,
            "CREATE INDEX bloom_index ON tb USING expression_index(k % 10)",
            cat,
        )
    with pytest.raises(ValueError, match="reserved"):
        execute_ddl(
            spark,
            "CREATE INDEX record_index ON tb USING expression_index(k % 10)",
            cat,
        )
    # a pre-reservation expression index named bloom_index (API-built)
    # is still droppable: DROP's bloom intercept falls through when the
    # table isn't bloom-flagged
    TableServices(t).build_expression_index("k % 10", name="bloom_index")
    execute_ddl(spark, "DROP INDEX bloom_index ON tb", cat)
    with pytest.raises(ValueError, match="no index"):
        execute_ddl(spark, "DROP INDEX bloom_index ON tb", cat)


def test_bloom_backfill_newest_reflects_coverage(spark, tpath, monkeypatch):
    """The returned "newest covered commit" must not name a commit whose
    files all failed to read (r10 advice item): a token that builds no
    filters stays out of the watermark until a repair run covers it."""
    import learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.bloom as bloom_mod

    t = Table.create(spark, tpath, key="k", precombine="v")
    t.bulk_insert(_interleaved(spark, n=200, nfiles=2))
    t.upsert(spark.createDataFrame([(5, 99)], "k long, v long"))
    c1, c2 = t.commits()
    real = bloom_mod.bloom_for_parquet_file

    def fail_newest(path, key):
        # simulate a transient read failure for every c2 file
        return None if f"/{c2}-" in path or f"/{c2}." in path else real(path, key)

    monkeypatch.setattr(bloom_mod, "bloom_for_parquet_file", fail_newest)
    newest = TableServices(t).build_bloom_index()
    assert newest == c1  # c2 produced no sidecar entries — not covered
    # repair run with reads working again advances the watermark
    monkeypatch.setattr(bloom_mod, "bloom_for_parquet_file", real)
    t2 = Table.load(spark, tpath)
    assert TableServices(t2).build_bloom_index() == c2
    assert all(
        b is not None for b in t2._bloom_for_entries(t2.current_files())
    )
