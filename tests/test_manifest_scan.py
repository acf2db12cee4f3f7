"""The manifest scan against Spark's own parquet reader.

Every batch read of a table builds its relation from the manifest
(``table._manifest_scan``): one ``FileStatus`` per live entry, no
listing. Each test here wraps that function so that every scan group a
read builds is also built the old way, with
``spark.read.schema(s).parquet(*paths)``, and checks that the two agree
on rows, schema and column order, ``inputFiles()`` and the
``_metadata`` file path, size and modification time.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from datetime import date

import pytest

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
    table as table_mod,
)
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
)

META = (
    "_metadata.file_path",
    "_metadata.file_size",
    "_metadata.file_modification_time",
)


@pytest.fixture()
def scans(monkeypatch):
    """Record (manifest scan, reader scan) for every scan group built
    while the fixture is active."""
    pairs = []
    manifest_scan = table_mod._manifest_scan

    def both(spark, files, base, schema):
        got = manifest_scan(spark, files, base, schema)
        reader = spark.read if base is None else spark.read.option(
            "basePath", base
        )
        ref = reader.schema(schema).parquet(*(p for p, _, _ in files))
        pairs.append((got, ref))
        return got

    monkeypatch.setattr(table_mod, "_manifest_scan", both)
    return pairs


def _rows(df):
    return Counter(tuple(r) for r in df.select("*", *META).collect())


def assert_same_scans(pairs, min_groups=1):
    assert len(pairs) >= min_groups
    for got, ref in pairs:
        assert got.columns == ref.columns
        assert got.schema == ref.schema
        assert sorted(got.inputFiles()) == sorted(ref.inputFiles())
        assert _rows(got) == _rows(ref)


def _read_all(t):
    """One full read through every scan group of the live file set."""
    return t._read_entries(t.current_files(), with_file=True).collect()


def test_unpartitioned(spark, tmp_path, scans):
    t = Table.create(spark, str(tmp_path / "t"), key="id", precombine="ver")
    t.bulk_insert(spark.range(0, 30).selectExpr("id", "1L AS ver", "'a' AS val"))
    t.upsert(spark.range(25, 40).selectExpr("id", "2L AS ver", "'b' AS val"))
    assert len(_read_all(t)) == 40
    assert_same_scans(scans)


def test_hive_partitioned_with_awkward_values(spark, tmp_path, scans):
    t = Table.create(
        spark, str(tmp_path / "t"), key="id", precombine="ver",
        partition_fields=["d", "state"],
    )
    states = ["New York", "a%b", "a+b", None]
    t.insert(
        spark.createDataFrame(
            [
                (i, 1, date(2024, 1, 1 + i % 2), states[i % 4])
                for i in range(16)
            ],
            "id long, ver long, d date, state string",
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(i, 2, date(2024, 1, 1 + i % 2), states[i % 4]) for i in (1, 2, 3)],
            "id long, ver long, d date, state string",
        )
    )
    assert len(_read_all(t)) == 16
    got = {(r["d"], r["state"]) for r in t.snapshot().collect()}
    assert {s for _, s in got} == set(states)
    assert_same_scans(scans, min_groups=2)


def test_renamed_column_vintages(spark, tmp_path, scans):
    t = Table.create(spark, str(tmp_path / "t"), key="id", precombine="ver")
    t.insert(spark.createDataFrame([(1, 1, 5)], "id long, ver long, amt long"))
    t.alter_rename_column("amt", "amount")
    t.insert(spark.createDataFrame([(2, 1, 6)], "id long, ver long, amount long"))
    assert sorted((r["id"], r["amount"]) for r in _read_all(t)) == [(1, 5), (2, 6)]
    # one group per name vintage, each scanned under its physical names
    assert_same_scans(scans, min_groups=2)


def test_mor_with_tombstones(spark, tmp_path, scans):
    t = Table.create(
        spark, str(tmp_path / "t"), key="id", precombine="ver",
        table_type="mor",
    )
    t.bulk_insert(spark.range(0, 10).selectExpr("id", "1L AS ver", "'a' AS val"))
    t.upsert(spark.range(3, 6).selectExpr("id", "2L AS ver", "'b' AS val"))
    t.delete(spark.createDataFrame([(7,)], "id long"))
    assert any(e.get("kind") == "delta" for e in t.current_files())
    assert sorted(r["id"] for r in t.snapshot().collect()) == [
        i for i in range(10) if i != 7
    ]
    assert_same_scans(scans)


def test_bootstrapped(spark, tmp_path, scans):
    src = str(tmp_path / "src")
    spark.range(0, 40).selectExpr("id", "1L AS ver", "'s' AS val").repartition(
        4
    ).write.parquet(src)
    t = Table.bootstrap(spark, str(tmp_path / "t"), src, key="id", precombine="ver")
    assert all("size" in e for e in t.current_files())
    t.upsert(spark.createDataFrame([(3, 2, "u")], "id long, ver long, val string"))
    # managed and external files scan as separate groups
    assert len(_read_all(t)) == 40
    assert t.snapshot().where("id = 3").collect()[0]["val"] == "u"
    assert_same_scans(scans, min_groups=2)


def test_shallow_clone(spark, tmp_path, scans):
    src = Table.create(spark, str(tmp_path / "s"), key="id", precombine="ver")
    src.bulk_insert(spark.range(0, 20).selectExpr("id", "1L AS ver", "'a' AS val"))
    clone = Table.shallow_clone(spark, str(tmp_path / "c"), src)
    clone.upsert(spark.createDataFrame([(1, 2, "c")], "id long, ver long, val string"))
    assert len(_read_all(clone)) == 20
    assert_same_scans(scans, min_groups=2)


def test_entry_without_size_is_stated(spark, tmp_path, scans):
    """A manifest written before entries carried ``size`` and ``mtime``
    scans the same: the missing status comes from one stat per file."""
    path = str(tmp_path / "t")
    t = Table.create(spark, path, key="id", precombine="ver")
    t.bulk_insert(spark.range(0, 20).selectExpr("id", "1L AS ver", "'a' AS val"))
    manifest = os.path.join(path, "_commits", f"{t.latest_commit()}.json")
    with open(manifest) as f:
        m = json.load(f)
    for e in m["files_added"]:
        del e["size"], e["mtime"]
    with open(manifest, "w") as f:
        json.dump(m, f)
    t = Table.load(spark, path)
    assert not any("size" in e for e in t.current_files())
    assert len(_read_all(t)) == 20
    assert_same_scans(scans)
