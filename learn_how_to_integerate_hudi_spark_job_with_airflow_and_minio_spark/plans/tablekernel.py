"""Driver-gated correctness queries for the Table kernel (SURVEY §2.2).

Each query materializes an engine table in a scratch dir from the
*driver's own deterministic testdata*, exercises a write-path operator
(upsert K1/K2, delete, compaction K7, checkpointed incremental pull
S5/S6), and returns a DataFrame whose expected content is exactly
SQL-expressible over the raw parquet — so DuckDB can oracle the kernel
itself, not just read-side queries.

Update batches are derived from the data (keys ≡ 0 mod 5 get
``o_totalprice * 2`` — exact in binary floating point — and status
``'U'``), keeping both sides bit-deterministic.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import CheckpointStore
from ..session import load_tables
from ..table import META_COL, Table, TableServices
from .catalog import register

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]

_UPSERTED_SQL = """
    SELECT o_orderkey,
           o_custkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           o_orderdate
    FROM orders
"""


def _update_batch(orders: DataFrame) -> DataFrame:
    return (
        orders.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
        .select(*_COLS)
    )


def _build_orders_table(
    spark: SparkSession, sf_dir: str
) -> tuple[Table, str, str, DataFrame]:
    """Scratch table with two commits: full orders, then the mod-5 update."""
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate", table_name="orders"
    )
    c1 = t.upsert(orders)
    c2 = t.upsert(_update_batch(orders))
    return t, c1, c2, orders


@register(
    "table_upsert_snapshot",
    oracle=_UPSERTED_SQL,
    doc="K1/K2 upsert kernel: full load + keyed update batch, then snapshot "
    "— existing keys replaced, others byte-preserved (COW)",
)
def table_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _, _, _ = _build_orders_table(spark, sf_dir)
    return t.snapshot().drop(META_COL)


@register(
    "table_incremental_read",
    oracle="""
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 5 = 0
    """,
    doc="S5 incremental query: only rows committed after the checkpoint "
    "(begin = first commit) — Hudi incremental-view semantics",
)
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, _, _ = _build_orders_table(spark, sf_dir)
    return t.incremental(begin=c1).drop(META_COL)


@register(
    "table_delete_snapshot",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderkey % 7 <> 0
    """,
    doc="Hudi 'delete' op analog: COW anti-join rewrite of affected files",
)
def table_delete_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate", table_name="orders"
    )
    t.upsert(orders)
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t.snapshot().drop(META_COL)


@register(
    "table_compaction_snapshot",
    oracle=_UPSERTED_SQL,
    doc="K7 clustering/compaction: sort-and-size rewrite preserves the row "
    "multiset (snapshot identical before/after)",
)
def table_compaction_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _, _, _ = _build_orders_table(spark, sf_dir)
    TableServices(t).compact(sort_cols=["o_orderkey"], target_records_per_file=4096)
    return t.snapshot().drop(META_COL)


@register(
    "incremental_pipeline_gold",
    oracle="""
        SELECT c.c_custkey    AS customer_id,
               c.c_name       AS customer_name,
               c.c_mktsegment AS segment,
               o.o_orderkey   AS order_id,
               'U'            AS order_status,
               o.o_totalprice * 2 AS order_value
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey % 5 = 0
    """,
    doc="The reference's whole Lab2 pipeline as one checked query "
    "(incremental_etl_orders.py:27-496): silver upserts → checkpointed "
    "INC pull of orders + FULL customers → SQL join → gold upsert → "
    "gold snapshot; checkpoint advances only after the gold write "
    "(SURVEY §2.6 ordering fix)",
)
def incremental_pipeline_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.loaders import Loaders

    scratch = tempfile.mkdtemp(prefix="engine_pipe_")
    t, c1, _, _ = _build_orders_table(spark, sf_dir)
    store = CheckpointStore(f"{scratch}/ckpt")
    # simulate a consumer that already processed the first commit
    store.put(
        "orders",
        {"last_processed_commit": c1, "table_name": "orders", "path": t.path,
         "inserted_time": "bootstrap"},
    )
    payload = [
        {"source_type": "ENGINE", "table_name": "orders",
         "spark_table_name": "orders_inc", "path": t.path, "type": "INC"},
        {"source_type": "PARQUET", "table_name": "customer",
         "spark_table_name": "customers_full", "path": f"{sf_dir}/customer.parquet",
         "type": "FULL"},
    ]
    loaders = Loaders(payload, spark, checkpoint_store=store)
    loaders.load()
    gold_df = spark.sql(
        """
        SELECT c.c_custkey    AS customer_id,
               c.c_name       AS customer_name,
               c.c_mktsegment AS segment,
               o.o_orderkey   AS order_id,
               o.o_orderstatus AS order_status,
               o.o_totalprice AS order_value
        FROM customers_full c
        JOIN orders_inc o ON c.c_custkey = o.o_custkey
        """
    ).drop(META_COL)
    gold = Table.create(
        spark, f"{scratch}/gold", key="order_id", precombine="order_id",
        table_name="gold_orders_with_customers",
    )
    gold.upsert(gold_df)
    loaders.commit_checkpoints()  # after the gold write commits (§2.6 fix)
    return gold.snapshot().drop(META_COL)


@register(
    "table_time_travel",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="MVCC time travel: snapshot(as_of=first commit) after a later "
    "update commit returns the original table state (manifest replay)",
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, _, _ = _build_orders_table(spark, sf_dir)
    return t.snapshot(as_of=c1).drop(META_COL)


@register(
    "table_partition_pruning",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderstatus = 'F'
    """,
    doc="K3 partitioned table + stats-based partition pruning: files are "
    "co-located by partition value at write, the manifest's min/max "
    "stats prune non-matching files before the scan (hive-style "
    "partition-pruning analog)",
)
def table_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        partition_fields=["o_orderstatus"], table_name="orders_part",
    )
    t.bulk_insert(orders)
    return (
        t.snapshot(filters={"o_orderstatus": "F"})
        .where(F.col("o_orderstatus") == "F")  # stats pruning is file-level; exact filter on top
        .drop(META_COL)
    )


@register(
    "table_clean_snapshot",
    oracle=_UPSERTED_SQL,
    doc="K6 cleaner: physically GC files retired beyond the retention "
    "window; live snapshot is byte-identical before and after",
)
def table_clean_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _, _, orders = _build_orders_table(spark, sf_dir)
    t.upsert(_update_batch(orders))  # third commit so something is GC-able
    TableServices(t).clean(retain_commits=1)
    return t.snapshot().drop(META_COL)


@register(
    "q00_inmemory_ingest",
    oracle="""
        SELECT *
        FROM (VALUES (1, 'john', 100000), (2, 'jane', 120000))
             AS t(customer_id, name, salary)
    """,
    doc="S1 in-memory row ingest (the reference's createDataFrame path: "
    "list-of-rows with schema from keys, hudi_spark_minio.py:38-65)",
)
def q00_inmemory_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        {"customer_id": 1, "name": "john", "salary": 100000},
        {"customer_id": 2, "name": "jane", "salary": 120000},
    ]
    return spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        schema="customer_id int, name string, salary int",
    )


@register(
    "table_merge_mixed",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 7 <> 0
    """,
    doc="MERGE INTO semantics (Table.merge): one source batch carrying "
    "updates (keys mod 5) and deletes (keys mod 7, delete flag) applied "
    "in a single COW commit — matched update / matched delete / "
    "not-matched insert",
)
def table_merge_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate", table_name="orders"
    )
    t.upsert(orders)
    updates = (
        orders.where((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("_delete", F.lit(False))
    )
    deletes = orders.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "_delete", F.lit(True)
    )
    t.merge(updates.unionByName(deletes), delete_col="_delete")
    return t.snapshot().drop(META_COL)


@register(
    "sql_catalog_attach",
    oracle="""
        SELECT o_orderstatus AS status, COUNT(*) AS n, max(o_orderkey) AS max_key
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="SQL-over-views surface (reference's temp-view catalog, SURVEY "
    "§1.1): attach an engine table's snapshot as a named view and run an "
    "arbitrary SQL string against it",
)
def sql_catalog_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate", table_name="orders"
    )
    t.upsert(orders)
    return sql_over(
        spark,
        {"eng_orders": t.path},
        """
        SELECT o_orderstatus AS status, COUNT(*) AS n, max(o_orderkey) AS max_key
        FROM eng_orders
        GROUP BY o_orderstatus
        """,
    )


@register(
    "sql_catalog_pruned_select",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders
        WHERE o_orderkey >= 500 AND o_orderkey <= 4000
        GROUP BY o_orderstatus
    """,
    doc="Manifest-pruned SQL read surface: attach binds the view through "
    "Table.read_where, so the key-range predicate consults per-file "
    "min/max stats BEFORE the scan is planned — a selective SQL-string "
    "reader touches only the files whose key range overlaps, instead of "
    "listing every live file (the read-side analog of the upsert "
    "key-prune envelope; at 10⁵ files this is the difference between a "
    "point query and a table scan)",
)
def sql_catalog_pruned_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders",
    )
    # range-partition on the key before the sorted bulk load → files
    # carry DISJOINT key ranges, so the stats prune has something to cut
    t.bulk_insert(orders.repartitionByRange(8, F.col("o_orderkey")))
    return sql_over(
        spark,
        {"eng_orders_rw": t.path},
        """
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS spend
        FROM eng_orders_rw
        GROUP BY o_orderstatus
        """,
        where={"eng_orders_rw": "o_orderkey >= 500 AND o_orderkey <= 4000"},
    )


@register(
    "quality_report",
    oracle="""
        SELECT 'not_null_o_custkey' AS rule,
               CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations,
               COUNT(*) AS total
        FROM orders
        UNION ALL
        SELECT 'in_set_o_orderpriority',
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                              OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*)
        FROM orders
        UNION ALL
        SELECT 'in_range_o_totalprice',
               CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 300000
                              OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*)
        FROM orders
        UNION ALL
        SELECT 'unique_o_orderkey',
               COUNT(*) - COUNT(DISTINCT o_orderkey),
               COUNT(*)
        FROM orders
    """,
    doc="data-quality expectations (operators/quality.py): not-null / "
    "value-set / range / key-uniqueness rules evaluated in one "
    "conditional-count pass + one distinct pass",
)
def quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import InRange, InSet, NotNull, check

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return check(
        orders,
        [
            NotNull("o_custkey"),
            InSet("o_orderpriority", ("1-URGENT", "2-HIGH")),
            InRange("o_totalprice", 0, 300000),
        ],
        unique=["o_orderkey"],
    )


@register(
    "table_restore",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="RESTORE (rollback): manifest-only commit that reverts the live "
    "file set to an earlier commit's state — after restoring past the "
    "update commit, the snapshot equals the original load",
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, _, _ = _build_orders_table(spark, sf_dir)
    t.restore(c1)
    return t.snapshot().drop(META_COL)


# -- MERGE_ON_READ (reference table_type param, create_hudi_tables.py:110,124) --

_MOR_MERGED_SQL = """
    SELECT o_orderkey,
           o_custkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           o_orderdate
    FROM orders
    WHERE o_orderkey % 7 <> 0
"""


def _build_mor_table(spark: SparkSession, sf_dir: str) -> Table:
    """MOR table with three commits: base bulk load, an update DELTA
    (appended, nothing rewritten), and a tombstone DELTA deleting mod-7
    keys."""
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_mor_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_mor",
        table_type="mor",
    )
    t.bulk_insert(orders)
    t.upsert(_update_batch(orders))
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t


@register(
    "table_mor_snapshot",
    oracle=_MOR_MERGED_SQL,
    doc="MERGE_ON_READ snapshot: base + update delta + tombstone delta "
    "merged at read (latest commit per key wins, tombstones filtered) — "
    "the Hudi MOR snapshot view; writes were pure appends",
)
def table_mor_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _build_mor_table(spark, sf_dir)
    return t.snapshot().drop(META_COL)


@register(
    "table_mor_read_optimized",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="MOR read-optimized view (_ro): base files only, no merge cost — "
    "returns the pre-delta bulk-load state until compaction folds the "
    "deltas in",
)
def table_mor_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _build_mor_table(spark, sf_dir)
    return t.read_optimized().drop(META_COL)


@register(
    "table_mor_compaction",
    oracle=_MOR_MERGED_SQL,
    doc="MOR compaction: deltas folded into new base files (merged rows, "
    "tombstoned keys physically dropped); afterwards the read-optimized "
    "view equals the snapshot view",
)
def table_mor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _build_mor_table(spark, sf_dir)
    TableServices(t).compact(sort_cols=["o_orderkey"], target_records_per_file=4096)
    # after compaction the _ro view is the merged state — return IT so the
    # oracle checks compaction output, not the merge-at-read path again
    return t.read_optimized().drop(META_COL)


@register(
    "table_insert_overwrite_dynamic",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="Hudi insert_overwrite with dynamic partition semantics: a batch "
    "touching only partition o_orderstatus='F' replaces that partition's "
    "files and leaves every other partition byte-untouched",
)
def table_insert_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_iow_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="orders_iow",
    )
    t.bulk_insert(orders)
    replacement = (
        orders.where(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
    )
    t.insert_overwrite(replacement, dynamic=True)
    return t.snapshot().drop(META_COL)


@register(
    "table_cdc_changes",
    oracle="""
        SELECT o_orderkey,
               CAST(NULL AS BIGINT)    AS o_custkey,
               CAST(NULL AS VARCHAR)   AS o_orderstatus,
               CAST(NULL AS DOUBLE)    AS o_totalprice,
               CAST(NULL AS TIMESTAMP) AS o_orderdate,
               'delete' AS _change_type
        FROM orders
        WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               o_orderdate,
               'update' AS _change_type
        FROM orders
        WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
    """,
    doc="CDC view (Hudi cdc query type): per-key change type between two "
    "commits via a keyed full-outer diff of the MVCC snapshots — "
    "update batch (mod-5) and delete batch (mod-7) surface as "
    "update/delete rows with the new values (null for deletes)",
)
def table_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, _, orders = _build_orders_table(spark, sf_dir)
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t.changes(begin=c1).drop(META_COL)


@register(
    "table_schema_evolution",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CASE WHEN o_orderkey % 5 = 0 THEN 'web' ELSE NULL END AS channel
        FROM orders
    """,
    doc="schema evolution on append: a later upsert carries a NEW column "
    "(channel); files written before the column existed surface it as "
    "NULL through the manifest schema — no mergeSchema footer sweep, no "
    "rewrite of old files",
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="engine_evo_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate", table_name="evo"
    )
    t.upsert(orders)
    widened = orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
        "channel", F.lit("web")
    )
    t.upsert(widened)
    return t.snapshot().select("o_orderkey", "o_custkey", "o_totalprice", "channel")


@register(
    "table_zorder_compaction",
    oracle=_UPSERTED_SQL,
    doc="Z-order clustering compaction: Morton-interleaved quantile "
    "buckets of (o_custkey, o_totalprice) as the range-sort key — tight "
    "per-file stats on BOTH columns for multi-dimension pruning; row "
    "multiset unchanged (same oracle as the upsert snapshot)",
)
def table_zorder_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _, _, _ = _build_orders_table(spark, sf_dir)
    TableServices(t).compact(
        zorder_cols=["o_custkey", "o_totalprice"], target_records_per_file=4096
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_mor_partitioned_pruning",
    # The MOR x hive-partitioning interaction: base files live under
    # o_orderstatus=<v>/ dirs, deltas are unpartitioned appends, and a
    # partition-filtered snapshot must (a) merge deltas into the right
    # partitions and (b) still return exactly the batch-SQL answer.
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 7 <> 0 AND o_orderstatus = 'O'
    """,
    doc="MOR snapshot over a hive-partitioned table filtered to one "
    "partition: update + tombstone deltas merge into partitioned base "
    "files; the o_orderstatus predicate prunes base-file directories "
    "before the merge join (mod-5 updates keep status 'O' here so rows "
    "stay in their partition)",
)
def table_mor_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_morp_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="orders_morp",
        table_type="mor",
    )
    t.bulk_insert(orders)
    # update batch preserves each row's partition value (price-only
    # change) — the partition-stable MOR update path
    t.upsert(
        orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
    )
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return (
        t.snapshot()
        .where(F.col("o_orderstatus") == "O")
        .drop(META_COL)
    )


@register(
    "table_mor_incremental",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
    """,
    doc="MOR incremental query: keys whose WINNING merged version landed "
    "after the base load — deltas merged BEFORE the commit-window filter "
    "so each changed key emits once, merged (tombstoned keys invisible, "
    "matching Hudi incremental semantics for hard deletes)",
)
def table_mor_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_mori_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_mori",
        table_type="mor",
    )
    c1 = t.bulk_insert(orders)
    t.upsert(_update_batch(orders))
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t.incremental(begin=c1).drop(META_COL)


@register(
    "table_incremental_between",
    oracle="""
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 5 = 0
    """,
    doc="S5 incremental query with BOTH bounds (hoodie begin/end "
    "instanttime analog, incremental_etl_orders.py:217-227): after a "
    "third commit touches the mod-7 keys, incremental(begin=c1, end=c2) "
    "must return exactly commit 2's mod-5 update set — the end bound "
    "excludes commit 3 and pins each key's winning version to c2's "
    "file set",
)
def table_incremental_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, c2, orders = _build_orders_table(spark, sf_dir)
    third = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("o_orderstatus", F.lit("V"))
        .select(*_COLS)
    )
    t.upsert(third)
    return t.incremental(begin=c1, end=c2).drop(META_COL)


@register(
    "table_mor_cdc_changes",
    oracle="""
        SELECT o_orderkey,
               CAST(NULL AS BIGINT)    AS o_custkey,
               CAST(NULL AS VARCHAR)   AS o_orderstatus,
               CAST(NULL AS DOUBLE)    AS o_totalprice,
               CAST(NULL AS TIMESTAMP) AS o_orderdate,
               'delete' AS _change_type
        FROM orders
        WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               o_orderdate,
               'update' AS _change_type
        FROM orders
        WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
    """,
    doc="CDC over a MERGE_ON_READ table (K12 x cdc query type): update "
    "delta (mod-5) and tombstone delete delta (mod-7) between two "
    "commits surface as update/delete rows through the same keyed "
    "snapshot diff as COW — the merge view resolves delta winners and "
    "drops tombstones before the diff, so CDC is table-type agnostic",
)
def table_mor_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_mor_cdc_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders",
        table_type="mor",
    )
    c1 = t.upsert(orders)
    t.upsert(_update_batch(orders))
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t.changes(begin=c1).drop(META_COL)


@register(
    "table_savepoint",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="savepoint pins a commit against the cleaner (Hudi `savepoint "
    "create` analog): after savepointing the initial load, two further "
    "update commits, and an aggressive clean(retain_commits=0) that GCs "
    "every other retired file, time travel to the savepointed commit "
    "still returns the original table state — the files it needs were "
    "unconditionally protected",
)
def table_savepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, c1, _, orders = _build_orders_table(spark, sf_dir)
    t.savepoint(c1)
    t.upsert(_update_batch(orders))  # third commit: more files retire
    TableServices(t).clean(retain_commits=0)
    return t.snapshot(as_of=c1).drop(META_COL)


@register(
    "table_bootstrap_upsert",
    oracle=_UPSERTED_SQL,
    doc="metadata-only bootstrap (Hudi METADATA_ONLY bootstrap analog) "
    "over the driver's READ-ONLY orders.parquet: the first commit "
    "references the source file in place (absolute-path external "
    "manifest entry + footer-derived key stats) — zero bytes copied; "
    "the subsequent upsert rewrites affected rows into engine-managed "
    "files and retires the external file from the live set without "
    "ever writing to (or deleting from) the source location",
)
def table_bootstrap_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath

    path = tempfile.mkdtemp(prefix="engine_bs_")
    t = Table.bootstrap(
        spark,
        path,
        posixpath.join(sf_dir, "orders.parquet"),
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_bootstrap",
    )
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    t.upsert(_update_batch(orders))
    return t.snapshot().select(*_COLS)


@register(
    "table_record_index_upsert",
    oracle=_UPSERTED_SQL,
    doc="record-level index (Hudi RLI analog): the table is loaded in "
    "two interleaved-key-range commits (range stats overlap fully, so "
    "stats pruning alone keeps every file for any batch), the index is "
    "built as an async table service (one distributed scan, "
    "hash-partitioned key->file rows), and the subsequent upsert "
    "prunes candidates by EXACT key containment before the merge — "
    "the snapshot still equals source-with-updates",
)
def table_record_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_rli_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_rli",
    )
    t.upsert(orders.where(F.col("o_orderkey") % 2 == 0))
    t.upsert(orders.where(F.col("o_orderkey") % 2 == 1))
    TableServices(t).build_record_index()
    t.upsert(_update_batch(orders))
    return t.snapshot().drop(META_COL)


@register(
    "table_cdc_before_after",
    # Three ops against the initial load: mod-5 updates (not mod-7),
    # brand-new keys (mod-11, shifted by 20M so they can't collide),
    # mod-7 deletes. The oracle rebuilds each op's before/after images
    # straight from the raw orders.
    oracle="""
        SELECT o_orderkey,
               o_totalprice * 2 AS o_totalprice,
               o_totalprice AS o_totalprice_before,
               'update' AS _change_type
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 20000000,
               o_totalprice + 1,
               CAST(NULL AS DOUBLE),
               'insert'
        FROM orders WHERE o_orderkey % 11 = 0
        UNION ALL
        SELECT o_orderkey,
               CAST(NULL AS DOUBLE),
               o_totalprice,
               'delete'
        FROM orders WHERE o_orderkey % 7 = 0
    """,
    doc="CDC with BEFORE and AFTER images (Hudi cdc "
    "supplemental-logging data_before_after analog): updates carry "
    "both values, inserts a null before-image, deletes a null "
    "after-image — emitted from a keyed full-outer snapshot diff, no "
    "change log maintained on the write path",
)
def table_cdc_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_cdcba_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_cdc",
    )
    c1 = t.upsert(orders)
    inserts = (
        orders.where(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 20000000)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
    )
    t.upsert(_update_batch(orders).unionByName(inserts))
    t.delete(orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    return t.changes_full(begin=c1).select(
        "o_orderkey", "o_totalprice", "o_totalprice_before", "_change_type"
    )


@register(
    "table_archive_timeline",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2048
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="archived timeline (Hudi archive analog): 12 commits (initial "
    "load + 11 point-update commits doubling mod-97 prices), then "
    "archive_timeline folds everything at or below the live-set "
    "checkpoint into ONE consolidated file — the active _commits/ dir "
    "stays bounded while the snapshot (and deep time travel / CDC / "
    "cleaner replay) still sees full history",
)
def table_archive_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*cols)
    path = tempfile.mkdtemp(prefix="engine_arch_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_arch",
    )
    t.upsert(orders)
    hot = orders.where(F.col("o_orderkey") % 97 == 0)
    for _ in range(11):
        hot = hot.withColumn("o_totalprice", F.col("o_totalprice") * 2)
        t.upsert(hot)
    archived = TableServices(t).archive_timeline(keep_active=2)
    assert archived, "nothing archived — checkpoint cadence changed?"
    return t.snapshot().drop(META_COL)


@register(
    "table_partial_update",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               CASE WHEN o_orderkey % 4 = 1 THEN 'P'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        UNION ALL
        SELECT o_orderkey + 20000000,
               CAST(NULL AS BIGINT)  AS o_custkey,
               'N'                   AS o_orderstatus,
               CAST(NULL AS DOUBLE)  AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 100 = 17
    """,
    doc="partial-column upsert (Hudi PARTIAL_UPDATE payload semantics): "
    "the batch carries only (key, precombine, status, price); matched "
    "rows take non-null batch values per column — a NULL price keeps the "
    "old value, and o_custkey (omitted from the batch entirely) survives "
    "untouched; unmatched keys insert with nulls for missing columns. "
    "One key-equi join over affected files only",
)
def table_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_pu_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_pu",
    )
    t.bulk_insert(orders)
    # updates: %4==1 keys — status always 'P'; price +1000 only for
    # %8==1, else NULL (= keep old); o_custkey deliberately absent.
    updates = orders.where(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey",
        "o_orderdate",
        F.lit("P").alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 8 == 1, F.col("o_totalprice") + 1000.0
        ).alias("o_totalprice"),
    )
    # inserts: brand-new keys carrying only (key, precombine, status).
    inserts = orders.where(F.col("o_orderkey") % 100 == 17).select(
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "o_orderdate",
        F.lit("N").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    t.partial_update(updates.unionByName(inserts))
    return t.snapshot().drop(META_COL)


@register(
    "table_secondary_index_lookup",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
        WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
    """,
    doc="secondary index on a non-key column (Hudi 1.0 secondary-index "
    "analog): per-file distinct (value, file) pairs built async; an "
    "equality filter on o_custkey prunes to exactly the files "
    "containing that customer. Range stats are blind here — the column "
    "is uncorrelated with the key-sorted file layout — so without the "
    "index every file survives pruning",
)
def table_secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_si_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_si", max_records_per_file=2000,
    )
    t.bulk_insert(orders)
    TableServices(t).build_secondary_index("o_custkey")
    target = orders.agg(F.min("o_custkey")).first()[0]
    return (
        t.snapshot(filters={"o_custkey": target})
        .where(F.col("o_custkey") == target)  # pruning is file-level
        .drop(META_COL)
    )


@register(
    "table_drop_column",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END
                   AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="metadata-only DROP COLUMN (Delta/Iceberg shape): a commit whose "
    "schema omits o_custkey — zero data rewritten, reads project the "
    "column away via the explicit manifest schema, and a post-drop "
    "upsert proceeds against the narrowed schema; time travel before "
    "the drop still sees the column (pinned in pytest)",
)
def table_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_dc_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_dc",
    )
    t.bulk_insert(orders)
    t.alter_drop_column("o_custkey")
    # post-drop writes run against the narrowed schema
    t.upsert(
        orders.where(F.col("o_orderkey") % 5 == 0)
        .drop("o_custkey")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_write_constraints_quarantine",
    # _violation order = constraint declaration order (min_price first),
    # mirrored by the oracle's CASE concatenation.
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CASE
                   WHEN o_totalprice <= 50000 AND o_orderstatus = 'P'
                       THEN 'min_price,no_pending'
                   WHEN o_totalprice <= 50000 THEN 'min_price'
                   ELSE 'no_pending'
               END AS _violation
        FROM orders
        WHERE o_totalprice <= 50000 OR o_orderstatus = 'P'
    """,
    doc="write-side expectations with quarantine (Delta-DLT shape): rows "
    "failing any declared SQL constraint (false OR null) divert to the "
    "table's quarantine store with the failed-constraint names; only "
    "clean rows reach the merge. The gated result is the quarantine "
    "content itself; the clean snapshot is pinned in pytest",
)
def table_write_constraints_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_cq_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_cq",
        constraints={
            "min_price": "o_totalprice > 50000",
            "no_pending": "o_orderstatus <> 'P'",
        },
    )
    t.upsert(orders)
    return t.quarantine().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "_violation"
    )


@register(
    "table_partition_evolution",
    oracle=_UPSERTED_SQL,
    doc="partition-spec evolution (Iceberg shape): the table starts "
    "unpartitioned, evolves to hive-partitioning on o_orderstatus, and "
    "the update batch lands under the new spec while the original files "
    "stay untouched — one snapshot reads both vintages (old files carry "
    "the column in data, new files in directory names)",
)
def table_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_pe_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_pe",
    )
    t.bulk_insert(orders)
    t.alter_partition_spec(["o_orderstatus"])
    t.upsert(_update_batch(orders))
    return t.snapshot().drop(META_COL)


@register(
    "table_delete_where",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
        WHERE NOT (o_totalprice > 100000.0 AND o_orderstatus = 'F')
    """,
    doc="predicate delete (Hudi Spark-SQL DELETE FROM / Delta delete-"
    "with-condition analog): one provenance-tagged scan finds the files "
    "containing matches, only those files rewrite minus the matching "
    "rows; untouched files keep their original _commit_time. NULL "
    "predicates keep the row (SQL DELETE semantics)",
)
def table_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_delw_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_delw",
    )
    t.bulk_insert(orders)
    t.delete_where(
        (F.col("o_totalprice") > 100000.0) & (F.col("o_orderstatus") == "F")
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_update_where",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 9 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="predicate update (Hudi Spark-SQL UPDATE / Delta update analog): "
    "SET expressions evaluated against the old row, applied only to "
    "matching rows; one provenance-tagged scan finds containing files, "
    "only those rewrite, non-matching rows in them byte-preserved with "
    "their original _commit_time",
)
def table_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_updw_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_updw",
    )
    t.bulk_insert(orders)
    t.update_where(
        {"o_orderstatus": F.lit("X"), "o_totalprice": "o_totalprice * 2"},
        F.col("o_orderkey") % 9 == 0,
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_merge_into",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'M'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N',
               CAST(500.0 AS DOUBLE), o_orderdate
        FROM orders
        WHERE o_orderkey % 1000 = 0
    """,
    doc="SQL MERGE INTO surface (Hudi/Delta Spark-SQL MERGE; the "
    "reference's user interface is SQL strings over views, "
    "incremental_etl_orders.py:467-478): the statement string is parsed "
    "by sql_dml and compiled onto the keyed merge kernel in ONE commit. "
    "Exercises clause ORDER (conditional DELETE before the catch-all "
    "UPDATE), mixed-alias SET expressions (t.col + s.col), and "
    "NOT MATCHED INSERT(...) VALUES(...) — affected files rewrite once, "
    "untouched files keep their original _commit_time",
)
def table_sql_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sql_dml

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_sqlmi_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_mi",
    )
    t.bulk_insert(orders)
    upd = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("act"),
        F.lit(1000.0).alias("bump"),
    )
    ins = orders.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey", "o_orderdate",
        F.lit("I").alias("act"), F.lit(500.0).alias("bump"),
    )
    upd.unionByName(ins).createOrReplaceTempView("engine_merge_src")
    sql_dml.execute(
        spark,
        """
        MERGE INTO orders_mi t USING engine_merge_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.act = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M',
                                     o_totalprice = t.o_totalprice + s.bump
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
                                      o_totalprice, o_orderdate)
             VALUES (s.o_orderkey, s.o_custkey, 'N', s.bump, s.o_orderdate)
        """,
        {"orders_mi": t},
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_mor_sql_merge_into",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'M'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N',
               CAST(500.0 AS DOUBLE), o_orderdate
        FROM orders
        WHERE o_orderkey % 1000 = 0
    """,
    doc="SQL MERGE INTO on a MERGE_ON_READ table: the same statement as "
    "table_sql_merge_into compiles to ONE delta commit (updated full "
    "rows + tombstones + inserts, no rewrite — O(changes) append, "
    "never a torn merge) and the read-side newest-commit-wins merge "
    "reconciles to the identical final state the COW rewrite produces",
)
def table_mor_sql_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sql_dml

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_sqlmi_mor_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_mi_mor", table_type="mor",
    )
    t.bulk_insert(orders)
    upd = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("act"),
        F.lit(1000.0).alias("bump"),
    )
    ins = orders.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey", "o_orderdate",
        F.lit("I").alias("act"), F.lit(500.0).alias("bump"),
    )
    upd.unionByName(ins).createOrReplaceTempView("engine_merge_src_mor")
    sql_dml.execute(
        spark,
        """
        MERGE INTO orders_mi_mor t USING engine_merge_src_mor s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.act = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M',
                                     o_totalprice = t.o_totalprice + s.bump
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
                                      o_totalprice, o_orderdate)
             VALUES (s.o_orderkey, s.o_custkey, 'N', s.bump, s.o_orderdate)
        """,
        {"orders_mi_mor": t},
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_merge_by_source",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'S'
                    ELSE 'X' END AS o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice + CAST(100.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 3 = 0 OR o_orderkey % 7 <> 0
    """,
    doc="MERGE WHEN NOT MATCHED BY SOURCE (the ANSI/Delta/Spark-4 third "
    "clause family — the sync-table staple): target rows absent from "
    "the feed take the first by-source clause whose condition holds "
    "(conditional DELETE, then a catch-all stale-flag UPDATE), matched "
    "rows refresh, all in ONE commit. By-source clauses disable the "
    "key prune and rewrite every live file on COW — the documented "
    "cost of 'any target row may be claimed' (DuckDB 1.0 has no MERGE; "
    "oracle is the equivalent CASE/filter over the same parquet)",
)
def table_sql_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sql_dml

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_sqlbs_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_bs",
    )
    t.bulk_insert(orders)
    # the "still in the feed" subset: keys ≡ 0 (mod 3)
    orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit(100.0).alias("bump")
    ).createOrReplaceTempView("engine_bs_src")
    sql_dml.execute(
        spark,
        """
        MERGE INTO orders_bs t USING engine_bs_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_orderstatus = 'S',
                                     o_totalprice = t.o_totalprice + s.bump
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 7 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'X'
        """,
        {"orders_bs": t},
    )
    return t.snapshot().drop(META_COL)


@register(
    "sql_catalog_auto_pruned_join",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey >= 1000 AND o.o_orderkey <= 5000
        GROUP BY c.c_mktsegment
    """,
    doc="AUTOMATIC manifest pruning on the SQL-string surface: sql_over "
    "scans the query's own top-level WHERE conjuncts, attributes the "
    "o_orderkey range to the orders view via its alias, and binds that "
    "view pre-pruned (read_where) — the reader wrote plain SQL, no "
    "API change, and the selective predicate stopped paying the "
    "full-file-set listing. Attribution is double fail-closed "
    "(strict col-op-literal conjuncts; ambiguous/self-join/OR shapes "
    "extract nothing)",
)
def sql_catalog_auto_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    t = load_tables(spark, sf_dir, "orders", "customer")
    path_o = tempfile.mkdtemp(prefix="engine_tbl_")
    to = Table.create(
        spark, path_o, key="o_orderkey", precombine="o_orderdate",
        table_name="orders",
    )
    to.bulk_insert(
        t["orders"].select(*_COLS).repartitionByRange(8, F.col("o_orderkey"))
    )
    path_c = tempfile.mkdtemp(prefix="engine_tbl_")
    tc = Table.create(
        spark, path_c, key="c_custkey", precombine="c_custkey",
        table_name="customer",
    )
    tc.bulk_insert(
        t["customer"].select("c_custkey", "c_name", "c_mktsegment")
    )
    return sql_over(
        spark,
        {"eng_ord_ap": to.path, "eng_cust_ap": tc.path},
        """
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS spend
        FROM eng_ord_ap o
        JOIN eng_cust_ap c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey >= 1000 AND o.o_orderkey <= 5000
        GROUP BY c.c_mktsegment
        """,
    )


@register(
    "table_sql_merge_evolution",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate,
               CASE WHEN o_orderkey % 4 = 0 THEN 'HIGH' END AS o_priority
        FROM orders
    """,
    doc="MERGE WITH SCHEMA EVOLUTION (Delta 3.1 / Spark-4 shape): the "
    "source carries a column the target has never seen; the statement "
    "widens the target schema in the same commit — matched rows take "
    "the value, every pre-existing row surfaces NULL through the "
    "manifest-schema read (no file rewrite for the widening itself, "
    "the table's ordinary evolution-on-append machinery). Without the "
    "WITH SCHEMA EVOLUTION prefix the same statement raises",
)
def table_sql_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import sql_dml

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_sqlevo_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_evo",
    )
    t.bulk_insert(orders)
    orders.where(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", F.lit("HIGH").alias("o_priority")
    ).createOrReplaceTempView("engine_evo_src")
    sql_dml.execute(
        spark,
        """
        MERGE WITH SCHEMA EVOLUTION INTO orders_evo t
        USING engine_evo_src s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_priority = s.o_priority
        """,
        {"orders_evo": t},
    )
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_call_procedures",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="CALL procedure surface (Hudi Spark-SQL procedures over the "
    "table services): create_savepoint pins the initial commit, two "
    "update commits land, run_clustering rewrites sort-and-size, "
    "run_clean GCs beyond a 1-commit window (the savepoint is what "
    "keeps the pinned state readable), rollback_to_savepoint restores "
    "it, one more update commit lands, and rollback_to_instant (the "
    "unpinned Hudi rollback procedure) restores the restore — the "
    "final snapshot equals the original load, so the oracle checks "
    "savepoint/cleaner/double-rollback interplay end-to-end",
)
def table_sql_call_procedures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_dml import call_procedure

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_call_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_call",
    )
    c1 = t.bulk_insert(orders)
    tabs = {"orders_call": t}
    call_procedure(
        spark, f"CALL create_savepoint(table => 'orders_call', "
        f"commit_time => '{c1}')", tabs,
    )
    t.upsert(_update_batch(orders))
    t.upsert(_update_batch(orders).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    ))
    call_procedure(
        spark,
        "CALL run_clustering(table => 'orders_call', order => 'o_orderkey')",
        tabs,
    )
    call_procedure(
        spark,
        "CALL run_clean(table => 'orders_call', retain_commits => 1)",
        tabs,
    )
    rb = call_procedure(
        spark, f"CALL rollback_to_savepoint(table => 'orders_call', "
        f"instant_time => '{c1}')", tabs,
    ).collect()[0]["commit"]
    t.upsert(_update_batch(orders))
    call_procedure(
        spark, f"CALL rollback_to_instant(table => 'orders_call', "
        f"instant_time => '{rb}')", tabs,
    )
    return t.snapshot().drop(META_COL)


@register(
    "sql_catalog_time_travel",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               max(o_orderkey) AS max_key,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="Time-travel SQL syntax on the view catalog: `FROM v VERSION AS "
    "OF 1` in a plain SQL string binds the view to the table state at "
    "commit 1 (Delta/Spark-v2 syntax, which Spark itself cannot plan "
    "over temp views) — run after a later update commit, the query "
    "aggregates the ORIGINAL load, proving the clause rebinds the "
    "manifest replay and not just the text",
)
def sql_catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tt_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_tt",
    )
    t.bulk_insert(orders)
    t.upsert(_update_batch(orders))
    return sql_over(
        spark,
        {"eng_orders_tt": t},
        """
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               max(o_orderkey) AS max_key,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS spend
        FROM eng_orders_tt VERSION AS OF 1
        GROUP BY o_orderstatus
        """,
    )


@register(
    "table_sql_ddl_lifecycle",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               CASE WHEN o_totalprice > 200000 THEN 'HIGH' END AS priority_flag
        FROM orders
    """,
    doc="SQL DDL lifecycle (sql_ddl.execute_ddl — the Hudi Spark-SQL "
    "DDL family over engine tables): CREATE TABLE with a declared "
    "column list + structural TBLPROPERTIES, positional INSERT INTO "
    "SELECT mapped onto the declared schema, metadata-only ALTER TABLE "
    "ADD COLUMNS (no file rewritten; old rows null-surface the new "
    "column via the manifest-schema read), then UPDATE fills it for "
    "high-value orders — the oracle checks the full statement chain "
    "produced exactly a CASE projection of the raw input",
)
def table_sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_ddl import execute_ddl
    from ..sql_dml import execute

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    orders.createOrReplaceTempView("ddl_orders_src")
    base = tempfile.mkdtemp(prefix="engine_ddl_")
    cat: dict[str, Table] = {}
    execute_ddl(
        spark,
        """
        CREATE TABLE orders_ddl (
            o_orderkey bigint, o_custkey bigint, o_orderstatus string,
            o_totalprice double, o_orderdate timestamp_ntz
        ) USING engine
        TBLPROPERTIES (primaryKey = 'o_orderkey',
                       preCombineField = 'o_orderdate')
        """,
        cat,
        base_dir=base,
    )
    execute(
        spark,
        "INSERT INTO orders_ddl SELECT * FROM ddl_orders_src",
        cat,
    )
    execute_ddl(
        spark, "ALTER TABLE orders_ddl ADD COLUMNS (priority_flag string)",
        cat,
    )
    execute(
        spark,
        "UPDATE orders_ddl SET priority_flag = 'HIGH' "
        "WHERE o_totalprice > 200000",
        cat,
    )
    return cat["orders_ddl"].snapshot().drop(META_COL)


@register(
    "table_sql_ctas",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_totalprice > 150000
    """,
    doc="CREATE TABLE AS SELECT through the DDL surface: the CTAS "
    "query (a filtered projection of the attached source view) defines "
    "the new MOR table's schema and first commit, ALTER TABLE RENAME "
    "TO rekeys the catalog entry, and the renamed handle serves the "
    "snapshot — oracled by running the same SELECT in DuckDB",
)
def table_sql_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_ddl import execute_ddl

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    orders.createOrReplaceTempView("ctas_orders_src")
    base = tempfile.mkdtemp(prefix="engine_ctas_")
    cat: dict[str, Table] = {}
    execute_ddl(
        spark,
        """
        CREATE TABLE orders_top USING engine
        TBLPROPERTIES (primaryKey = 'o_orderkey',
                       preCombineField = 'o_orderdate', type = 'mor')
        AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
           FROM ctas_orders_src WHERE o_totalprice > 150000
        """,
        cat,
        base_dir=base,
    )
    execute_ddl(spark, "ALTER TABLE orders_top RENAME TO top_orders", cat)
    return cat["top_orders"].snapshot().drop(META_COL)


@register(
    "sql_session_statement_pipeline",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0
                                       THEN o_totalprice * 2
                                       ELSE o_totalprice END
                              AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                   AS spend
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="SqlSession one-entry-point router: a ;-script runs CREATE "
    "TABLE (DDL) + INSERT INTO SELECT (DML reading the source view) + "
    "UPDATE (predicate write) + OPTIMIZE (maintenance) through "
    "session.sql dispatch, then the final SELECT routes through the "
    "auto-pruning read surface — one statement stream over one shared "
    "catalog, the reference's SQL-strings-only interface end-to-end",
)
def sql_session_statement_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    orders.createOrReplaceTempView("sess_orders_src")
    sess = SqlSession(
        spark, base_dir=tempfile.mkdtemp(prefix="engine_sess_")
    )
    sess.script(
        """
        CREATE TABLE ord (
            o_orderkey bigint, o_custkey bigint, o_orderstatus string,
            o_totalprice double, o_orderdate timestamp_ntz
        ) USING engine
        TBLPROPERTIES (primaryKey = 'o_orderkey',
                       preCombineField = 'o_orderdate');
        INSERT INTO ord SELECT * FROM sess_orders_src;
        UPDATE ord SET o_totalprice = o_totalprice * 2
            WHERE o_orderkey % 5 = 0;
        OPTIMIZE ord;
        """
    )
    return sess.sql(
        """
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS STRING) AS DOUBLE) AS spend
        FROM ord
        GROUP BY o_orderstatus
        """
    )


@register(
    "table_sql_insert_overwrite",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 3
                    WHEN o_orderstatus = 'P' THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="INSERT OVERWRITE as a SQL statement string (Hudi's "
    "insert_overwrite write op, reachable from SqlSession): a static "
    "PARTITION (o_orderstatus = 'F') spec replaces exactly that "
    "partition with tripled prices, then a dynamic-mode overwrite "
    "(spark.sql.sources.partitionOverwriteMode=dynamic, the conf the "
    "reference's jobs set) replaces only partition 'P' with doubled "
    "prices — partition 'O' is never rewritten; both engines replay "
    "the replace as a CASE over the raw parquet",
)
def table_sql_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    orders.createOrReplaceTempView("iow_sql_src")
    path = tempfile.mkdtemp(prefix="engine_iow_sql_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="ordiow",
    )
    t.bulk_insert(orders)
    sess = SqlSession(spark, tables={"ordiow": t})
    sess.sql(
        """
        INSERT OVERWRITE ordiow PARTITION (o_orderstatus = 'F')
        SELECT o_orderkey, o_custkey, o_totalprice * 3, o_orderdate
        FROM iow_sql_src WHERE o_orderstatus = 'F'
        """
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, None)
    spark.conf.set(mode_key, "dynamic")
    try:
        sess.sql(
            """
            INSERT OVERWRITE TABLE ordiow
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice * 2, o_orderdate
            FROM iow_sql_src WHERE o_orderstatus = 'P'
            """
        )
    finally:
        if prev is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, prev)
    return t.snapshot().drop(META_COL)


@register(
    "sql_catalog_table_changes",
    oracle="""
        SELECT o_orderkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice
        FROM orders
        WHERE o_orderkey % 5 = 0
    """,
    doc="table_changes() TVF: the SQL-string form of incremental reads "
    "(Hudi 0.14's hudi_table_changes table-valued function — the "
    "reference's flagship consumption mode, previously API-only via "
    "attach(query_type='incremental')). The window ('1','2') over a "
    "3-commit table returns ONLY the mod-5 update commit's keys at "
    "their commit-2 values — begin-exclusive (the load commit is out), "
    "end-inclusive, and commit 3's mod-7 rewrite is invisible, proving "
    "the TVF rebinds the manifest replay to the window, not a text "
    "filter over the live snapshot",
)
def sql_catalog_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    t, _, _, orders = _build_orders_table(spark, sf_dir)
    # third commit AFTER the window: must not leak into ('1','2')
    t.upsert(
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 4)
        .withColumn("o_orderstatus", F.lit("X"))
        .select(*_COLS)
    )
    return sql_over(
        spark,
        {"eng_orders_tc": t},
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM table_changes(eng_orders_tc, 'latest_state', '1', '2')
        """,
    )


@register(
    "table_sql_truncate_restore",
    oracle="""
        SELECT 'live' AS state, CAST(0 AS BIGINT) AS n,
               CAST(0 AS DOUBLE) AS spend
        UNION ALL
        SELECT 'as_of_2' AS state, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0
                                       THEN o_totalprice * 2
                                       ELSE o_totalprice END
                              AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                   AS spend
        FROM orders
    """,
    doc="TRUNCATE TABLE through the SqlSession router: a ;-script runs "
    "CREATE + INSERT INTO SELECT (commit 1) + UPDATE (commit 2) + "
    "TRUNCATE (commit 3, manifest-only — one commit retires every live "
    "file, zero data files touched), then the live read counts 0 rows "
    "while VERSION AS OF 2 still aggregates the full updated load — "
    "truncate is a timeline event, not a deletion, until VACUUM "
    "reclaims the bytes",
)
def table_sql_truncate_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    orders.createOrReplaceTempView("trunc_src")
    sess = SqlSession(spark, base_dir=tempfile.mkdtemp(prefix="engine_trunc_"))
    sess.script(
        """
        CREATE TABLE trunc_t (
            o_orderkey bigint, o_custkey bigint, o_orderstatus string,
            o_totalprice double, o_orderdate timestamp_ntz
        ) USING engine
        TBLPROPERTIES (primaryKey = 'o_orderkey',
                       preCombineField = 'o_orderdate');
        INSERT INTO trunc_t SELECT * FROM trunc_src;
        UPDATE trunc_t SET o_totalprice = o_totalprice * 2
            WHERE o_orderkey % 5 = 0;
        TRUNCATE TABLE trunc_t;
        """
    )
    agg = (
        "COUNT(*) AS n, "
        "COALESCE(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
        "AS STRING) AS DOUBLE), CAST(0 AS DOUBLE)) AS spend"
    )
    live = sess.sql(f"SELECT 'live' AS state, {agg} FROM trunc_t")
    as_of = sess.sql(
        f"SELECT 'as_of_2' AS state, {agg} FROM trunc_t VERSION AS OF 2"
    )
    return live.unionAll(as_of)


@register(
    "sql_catalog_pruned_cte",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders
        WHERE o_orderkey >= 500 AND o_orderkey <= 4000
          AND o_totalprice > 100000
        GROUP BY o_orderstatus
    """,
    doc="Auto-pruning through a CTE query (narrow r9 relaxation of the "
    "r8 any-WITH bail): the main FROM's key-range conjuncts bind the "
    "view manifest-pruned because the CTE list parses strictly, no CTE "
    "shadows the view, and the view is not read inside any CTE body; "
    "the cross-relation threshold comparison stays unextracted "
    "(fail-closed) and is applied exactly by Catalyst — same rows as "
    "the unpruned plan, a fraction of the files",
)
def sql_catalog_pruned_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog_api import sql_over

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_tbl_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders",
    )
    t.bulk_insert(orders.repartitionByRange(8, F.col("o_orderkey")))
    return sql_over(
        spark,
        {"eng_orders_cte": t},
        """
        WITH params AS (SELECT CAST(100000 AS DOUBLE) AS thresh)
        SELECT o.o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS spend
        FROM eng_orders_cte o, params p
        WHERE o.o_orderkey >= 500 AND o.o_orderkey <= 4000
          AND o.o_totalprice > p.thresh
        GROUP BY o.o_orderstatus
        """,
    )


@register(
    "table_sql_show_partitions",
    oracle="""
        SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS partition
        FROM orders
    """,
    doc="SHOW PARTITIONS through the SqlSession router (Hudi/Spark "
    "SHOW PARTITIONS): distinct live partition tuples rendered "
    "hive-style from the MANIFEST's per-file partition values — a "
    "metadata-plane read that lists and opens zero data files; at 10^5 "
    "files the answer comes from the already-loaded manifest entries",
)
def table_sql_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_showp_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="ordshowp",
    )
    t.bulk_insert(orders)
    sess = SqlSession(spark, tables={"ordshowp": t})
    return sess.sql("SHOW PARTITIONS ordshowp")


@register(
    "sql_session_cdc_merge_pipeline",
    oracle=_UPSERTED_SQL,
    doc="the reference's incremental-ETL idiom in PURE SQL strings: "
    "bronze takes a full load (commit 1) then the mod-5 update batch "
    "(commit 2); gold is seeded with the commit-1 state; one MERGE "
    "INTO gold USING (SELECT ... FROM table_changes(bronze, "
    "'latest_state', '1')) folds exactly the changed keys forward — "
    "the TVF binds the begin-exclusive incremental window (O(delta) "
    "rows cross the statement, never the bronze table) and the merge "
    "key-prunes gold's files; result equals the upserted snapshot",
)
def sql_session_cdc_merge_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    bpath = tempfile.mkdtemp(prefix="engine_cdcm_b_")
    gpath = tempfile.mkdtemp(prefix="engine_cdcm_g_")
    bronze = Table.create(
        spark, bpath, key="o_orderkey", precombine="o_orderdate",
        table_name="bronze_cdcm",
    )
    bronze.upsert(orders)
    bronze.upsert(_update_batch(orders))
    gold = Table.create(
        spark, gpath, key="o_orderkey", precombine="o_orderdate",
        table_name="gold_cdcm",
    )
    gold.upsert(orders)  # seeded with the commit-1 state
    sess = SqlSession(spark, tables={"bronze_cdcm": bronze, "gold_cdcm": gold})
    sess.sql(
        """
        MERGE INTO gold_cdcm USING (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate
            FROM table_changes(bronze_cdcm, 'latest_state', '1')
        ) s ON gold_cdcm.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET
            o_custkey = s.o_custkey, o_orderstatus = s.o_orderstatus,
            o_totalprice = s.o_totalprice, o_orderdate = s.o_orderdate
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    return gold.snapshot().drop(META_COL)


@register(
    "table_expression_index_pruning",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders
        WHERE year(o_orderdate) = 1996
        GROUP BY o_orderstatus
    """,
    doc="expression/functional index (Hudi 1.0 analog): the manifest's "
    "per-column stats are blind to year(o_orderdate), so an async-"
    "built index stores each file's min/max of the EXPRESSION; "
    "read_where drops files whose envelope cannot satisfy the "
    "year = 1996 conjunct before any scan is planned (3 of ~10 "
    "date-clustered files at sf0.01, pinned in tests) — the same "
    "prune-before-plan envelope as key stats, extended to computed "
    "values; the exact predicate still applies afterwards. The index "
    "is built through the SQL surface (Hudi 1.0's CREATE INDEX ... "
    "USING expression_index), so the whole path is statement-drivable",
)
def table_expression_index_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_exi_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_exi",
    )
    # date-clustered layout → tight per-file year envelopes
    t.bulk_insert(orders.repartitionByRange(8, F.col("o_orderdate")))
    sess = SqlSession(spark, tables={"orders_exi": t})
    sess.sql(
        "CREATE INDEX order_year ON orders_exi "
        "USING expression_index(year(o_orderdate))"
    )
    # the SELECT string auto-prunes: the single-relation expression
    # conjunct matches the registered index, so the view binds through
    # read_where with the envelope consulted — no API call anywhere
    return sess.sql(
        """
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS STRING) AS DOUBLE) AS spend
        FROM orders_exi
        WHERE year(o_orderdate) = 1996
        GROUP BY o_orderstatus
        """
    )


@register(
    "table_bloom_index_upsert",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 997 = 0 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="BLOOM index upsert (the reference's hoodie.index.type=BLOOM, "
    "create_hudi_tables.py write configs): the table is loaded with "
    "keys HASH-INTERLEAVED across many small files, so every file "
    "spans ~the whole key domain and the min/max range prune keeps "
    "all of them; per-file bloom filters (built executor-side in the "
    "commit's stats pass, per-commit sidecars under _index/bloom/) "
    "let the sparse mod-997 update batch prune its merge candidates "
    "to just the files that might hold a touched key — the query "
    "asserts the prune actually dropped files before returning the "
    "snapshot for exact oracle comparison",
)
def table_bloom_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_bloomq_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_bloom",
        max_records_per_file=500,
        index_type="bloom",
    )
    # interleaved layout: hash-repartition on the key → every file's
    # [min,max] covers ~the full domain (range prune keeps everything)
    t.bulk_insert(orders.repartition(8, "o_orderkey"))
    batch = (
        orders.where(F.col("o_orderkey") % 997 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
        .select(*_COLS)
    )
    t.upsert(batch)
    stats = t._last_bloom_prune
    assert stats is not None and stats["covered"] == stats["candidates"]
    if stats["candidates"] >= 16:
        # sparse scattered batch on an interleaved layout: membership
        # pruning must beat the (useless-here) range prune
        assert stats["kept"] < stats["candidates"], stats
    return t.snapshot().drop(META_COL)


@register(
    "table_bucket_index_upsert",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 8
                    ) THEN 'K' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 8
                    ) THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="BUCKET index upsert (Hudi hoodie.index.type=BUCKET — the "
    "zero-I/O alternative to the reference's BLOOM write config, "
    "create_hudi_tables.py storage knobs): every key pins to "
    "pmod(hash(key), 16); writes range-partition on the bucket id so "
    "per-file bucket stats are tight, and the 8-key point batch "
    "prunes merge candidates to ≈ its bucket count with NO index "
    "read at all (no sidecars, no index table — pure manifest math). "
    "On keys hash-interleaved across files the min/max range prune "
    "keeps everything; the query asserts the bucket prune dropped "
    "files and bounded candidates by the batch's buckets. At 100 TB "
    "this is the O(1)-metadata upsert path: candidate files per "
    "commit ≤ touched buckets, independent of table size",
)
def table_bucket_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_bucketq_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_bucket",
        index_type="bucket",
        bucket_count=16,
    )
    # interleaved KEY layout: hash-repartition on the key → every file's
    # key [min,max] covers ~the full domain, so the range prune is
    # useless here — exactly the shape the bucket layout fixes
    t.bulk_insert(orders.repartition(8, "o_orderkey"))
    # fixed-size point batch (8 smallest keys — deterministic at every
    # SF, keys are unique): ≤ 8 touched buckets out of 16 no matter how
    # big the table gets
    low8 = [
        r[0]
        for r in orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(8)
        .collect()
    ]
    batch = (
        orders.where(F.col("o_orderkey").isin(low8))
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("o_orderstatus", F.lit("K"))
        .select(*_COLS)
    )
    t.upsert(batch)
    stats = t._last_bucket_prune
    assert stats is not None, "bucket prune did not run"
    assert stats["buckets"] <= 8, stats
    # tight ranges (≤2 adjacent buckets per file) bound the candidates
    # structurally by the batch's buckets
    assert stats["kept"] <= 2 * stats["buckets"], stats
    if stats["candidates"] >= 14:
        assert stats["kept"] < stats["candidates"], stats
    return t.snapshot().drop(META_COL)


@register(
    "table_small_file_clustering",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="size-based INCREMENTAL clustering (Hudi's "
    "SparkSizeBasedClusteringPlanStrategy / small-file limit, via "
    "CALL run_clustering(small_file_rows => N)): the table is loaded "
    "as two healthy bulk files plus four small insert commits — the "
    "steady-state shape of a frequently-fed table. The service "
    "rewrites ONLY the files under the threshold (10% of table rows, "
    "scale-invariant) into key-clustered right-sized ones; the query "
    "asserts the healthy files survive at their ORIGINAL manifest "
    "paths (zero I/O on them — at 100 TB this is O(day's dribble), "
    "never O(table), unlike full compaction) and the file count "
    "shrank, then returns the snapshot for exact oracle comparison "
    "(identity: clustering must never change content)",
)
def table_small_file_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_dml import call_procedure
    from ..table import TableServices  # noqa: F401 (service surface)

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_sfc_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_sfc",
    )
    key = F.col("o_orderkey")
    t.bulk_insert(orders.where(key % 5 != 0).repartition(2))
    for j in range(4):
        t.insert(orders.where(key % 20 == 5 * j), dedup_batch=False)
    before = {e["path"]: e["rows"] for e in t.current_files()}
    threshold = max(2, int(sum(before.values()) * 0.10))
    big_paths = {p for p, r in before.items() if r >= threshold}
    assert big_paths, before
    out = call_procedure(
        spark,
        f"CALL run_clustering(table => 'orders_sfc', "
        f"small_file_rows => {threshold})",
        {"orders_sfc": t},
    ).collect()[0]
    assert out["state"] == "completed", out
    after = {e["path"]: e["rows"] for e in t.current_files()}
    # healthy files untouched, at their original manifest paths
    assert big_paths <= set(after), (big_paths, set(after))
    assert len(after) < len(before), (len(after), len(before))
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_alter_column_type",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_custkey + 3000000000
                    ELSE o_custkey END AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate
        FROM orders
    """,
    doc="metadata-only type WIDENING through SQL (Hudi 1.0 / Spark "
    "ALTER TABLE .. ALTER COLUMN .. TYPE — type promotion): the table "
    "is loaded with o_custkey narrowed to INT, then one ALTER COLUMN "
    "statement publishes a BIGINT schema WITHOUT touching a data file "
    "(the commit's added/removed file lists are asserted empty — at "
    "100 TB the alternative is a full-corpus rewrite); Spark's "
    "parquet reader upcasts the old int32 pages at scan time. The "
    "post-alter upsert writes values past the int range (custkey + "
    "3e9), proving the widened domain end-to-end; time travel before "
    "the alter still reads the narrow type",
)
def table_sql_alter_column_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_ddl import execute_ddl

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_altct_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_altct",
    )
    t.bulk_insert(orders.withColumn("o_custkey", F.col("o_custkey").cast("int")))
    assert dict(t.snapshot().dtypes)["o_custkey"] == "int"
    c = execute_ddl(
        spark,
        "ALTER TABLE orders_altct ALTER COLUMN o_custkey TYPE bigint",
        {"orders_altct": t},
    )
    man = t._manifest(c)
    assert man["files_added"] == [] and man["files_removed"] == [], man
    batch = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_custkey", F.col("o_custkey") + F.lit(3000000000))
        .select(*_COLS)
    )
    t.upsert(batch)
    snap = t.snapshot()
    assert dict(snap.dtypes)["o_custkey"] == "bigint"
    return snap.drop(META_COL)


@register(
    "table_sql_rename_column",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_amount,
               o_orderdate
        FROM orders
    """,
    doc="metadata-only column RENAME through SQL (Hudi 1.0 / Iceberg "
    "ALTER TABLE .. RENAME COLUMN — completes the schema-evolution "
    "triad next to DROP COLUMN and TYPE widening): one statement "
    "publishes the renamed schema plus an Iceberg-style field-id map "
    "WITHOUT touching a data file (added/removed asserted empty — at "
    "100 TB the alternative is a full-corpus rewrite). Files written "
    "BEFORE the rename keep the old physical name and every read "
    "resolves them per commit vintage (scan under the old name, alias "
    "back — Catalyst pushes filters through the alias, so pruning and "
    "pushdown are unchanged); the post-rename upsert writes under the "
    "new name, so the final snapshot mixes both vintages and the "
    "oracle hash proves the mapping is exact row-for-row",
)
def table_sql_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_ddl import execute_ddl

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_rencol_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_ren",
    )
    t.bulk_insert(orders)
    c = execute_ddl(
        spark,
        "ALTER TABLE orders_ren RENAME COLUMN o_totalprice TO o_amount",
        {"orders_ren": t},
    )
    man = t._manifest(c)
    assert man["files_added"] == [] and man["files_removed"] == [], man
    assert man["field_ids"]["o_amount"] == "o_totalprice", man["field_ids"]
    batch = (
        orders.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_amount", F.col("o_totalprice") * 2)
        .drop("o_totalprice")
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_amount",
            "o_orderdate",
        )
    )
    t.upsert(batch)
    snap = t.snapshot()
    assert "o_amount" in snap.columns and "o_totalprice" not in snap.columns
    return snap.drop(META_COL)


@register(
    "table_sql_drop_partition",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderstatus <> 'F'
    """,
    doc="ALTER TABLE … DROP PARTITION through the SqlSession router "
    "(Spark/Hudi SQL partition drop; Hudi's delete_partition write "
    "op): one MANIFEST-ONLY commit retires the named partition's live "
    "files — no data file read, written, or deleted, so the drop is "
    "O(manifest) at any scale, and time travel to earlier commits "
    "still reads the rows; literals resolve through the table-typed "
    "hive codec (Table.delete_partition)",
)
def table_sql_drop_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_dropp_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="orders_dropp",
    )
    t.bulk_insert(orders)
    sess = SqlSession(spark, tables={"orders_dropp": t})
    sess.sql("ALTER TABLE orders_dropp DROP PARTITION (o_orderstatus = 'F')")
    man = t._manifest(t.latest_commit())
    assert man["action"] == "delete_partition" and man["files_added"] == []
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_show_indexes",
    oracle="""
        SELECT * FROM (VALUES
            ('bloom_index', 'bloom', 'o_orderkey'),
            ('o_custkey', 'secondary', 'o_custkey'),
            ('yr', 'expression', 'year(o_orderdate)')
        ) AS t(index_name, index_type, target)
    """,
    doc="SHOW INDEXES metadata surface (Hudi 1.0): after CREATE INDEX "
    "statements build the bloom (hoodie.index.type=BLOOM analog), "
    "secondary, and expression indexes through the SqlSession router, "
    "SHOW INDEXES enumerates exactly the structures the kernel's "
    "pruners consult — from meta flags and the _index/ directory, "
    "zero data files opened; the literal oracle pins name, type, and "
    "target for all three index families",
)
def table_sql_show_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_showix_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_showix",
    )
    t.bulk_insert(orders)
    sess = SqlSession(spark, tables={"orders_showix": t})
    sess.sql(
        "CREATE INDEX bloom_index ON orders_showix USING bloom_index()"
    )
    sess.sql(
        "CREATE INDEX o_custkey ON orders_showix "
        "USING secondary_index(o_custkey)"
    )
    sess.sql(
        "CREATE INDEX yr ON orders_showix "
        "USING expression_index(year(o_orderdate))"
    )
    return sess.sql("SHOW INDEXES ON orders_showix")


@register(
    "table_concurrent_writers",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'A'
                    WHEN o_orderkey % 10 = 5 THEN 'B'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                    WHEN o_orderkey % 10 = 5 THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="multi-writer optimistic concurrency (Hudi OCC over the "
    "reference's single-writer InProcessLockProvider baseline): two "
    "threads upsert DISJOINT key sets through separate table handles "
    "released by a barrier, racing the same next-commit id; the "
    "manifest publish is an atomic exclusive create, so the "
    "filesystem picks exactly one winner and the loser re-runs its "
    "merge against the winner's state under occ_retries — the final "
    "snapshot equals both updates applied in either order (disjoint "
    "keys ⇒ deterministic), which the oracle pins exactly",
)
def table_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import threading

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_occ_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_occ",
    )
    t.bulk_insert(orders)

    def batch(mod_val: int, mult: int, status: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderkey") % 10 == mod_val)
            .withColumn("o_totalprice", F.col("o_totalprice") * mult)
            .withColumn("o_orderstatus", F.lit(status))
            .select(*_COLS)
        )

    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(mod_val: int, mult: int, status: str) -> None:
        try:
            handle = Table.load(spark, path)  # per-writer handle
            b = batch(mod_val, mult, status)
            barrier.wait(timeout=120)
            handle.upsert(b, occ_retries=5)
        except BaseException as exc:  # surfaced after join
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(0, 2, "A")),
        threading.Thread(target=writer, args=(5, 3, "B")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    if errors:
        raise errors[0]
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_delete_partition_pred",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM orders
        WHERE NOT (o_orderstatus = 'F')
          AND NOT (o_orderstatus = 'P' AND o_orderkey < 1000)
    """,
    doc="partition-aligned DELETE fast path through plain SQL strings: "
    "DELETE FROM t WHERE o_orderstatus = 'F' retires the whole "
    "partition MANIFEST-ONLY (zero rows read or written — the commit "
    "adds no files, asserted), because every top-level conjunct is a "
    "partition-column comparison the hive directory value proves "
    "per-file; the second DELETE mixes in a key conjunct, so only "
    "partially-matching files rewrite (fail-closed exact scan). At "
    "10^5 files the common retention DELETE costs O(manifest), like "
    "Hudi's delete_partition, without leaving the DML surface",
)
def table_sql_delete_partition_pred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_fdel_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="orders_fdel",
    )
    t.bulk_insert(orders)
    sess = SqlSession(spark, tables={"orders_fdel": t})
    sess.sql("DELETE FROM orders_fdel WHERE o_orderstatus = 'F'")
    man = t._manifest(t.latest_commit())
    assert man["action"] == "delete" and man["files_added"] == []
    assert len(man["files_removed"]) >= 1
    sess.sql(
        "DELETE FROM orders_fdel "
        "WHERE o_orderstatus = 'P' AND o_orderkey < 1000"
    )
    return t.snapshot().drop(META_COL)


from .common import dsum as _dsum  # noqa: E402 — module-tail extension
from .common import sql_dsum as _sql_dsum  # noqa: E402


@register(
    "table_sql_delete_update_subquery",
    oracle=f"""
        WITH kept AS (
            SELECT * FROM orders
            WHERE o_custkey NOT IN (
                SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        )
        SELECT CASE WHEN o_totalprice >
                        (SELECT max(o_totalprice) / 2 FROM kept)
                    THEN 'X' ELSE o_orderstatus END AS status,
               COUNT(*) AS n,
               {_sql_dsum("o_totalprice")} AS total
        FROM kept
        GROUP BY 1
    """,
    doc="DELETE and UPDATE statements with SUBQUERY predicates through "
    "SqlSession (Hudi/Spark-SQL DML accepts IN/NOT IN/EXISTS/scalar "
    "subqueries; the engine's expression path cannot host them, so the "
    "router evaluates the WHERE via spark.sql over the pre-statement "
    "snapshot and feeds the matched keys to the index-pruned kernels): "
    "the DELETE removes orders of negative-balance customers via an "
    "IN-subquery over a plain Spark view (cross-relation binding), the "
    "UPDATE restamps status via a SELF-REFERENCING scalar subquery "
    "(max/2 is exact in binary, so the threshold compare is "
    "bit-deterministic across engines). The scan phase is full-snapshot "
    "by nature (a subquery predicate is not manifest-prunable); the "
    "write phase stays bounded by affected files via the key prunes",
)
def table_sql_delete_update_subquery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sql_session import SqlSession

    tbls = load_tables(spark, sf_dir, "orders", "customer")
    orders = tbls["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_subq_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_subq",
    )
    t.bulk_insert(orders)
    vname = "subq_cust_v"
    tbls["customer"].select("c_custkey", "c_acctbal").createOrReplaceTempView(
        vname
    )
    sess = SqlSession(spark, tables={"orders_subq": t})
    try:
        sess.sql(
            f"DELETE FROM orders_subq WHERE o_custkey IN "
            f"(SELECT c_custkey FROM {vname} WHERE c_acctbal < 0)"
        )
    finally:
        spark.catalog.dropTempView(vname)
    sess.sql(
        "UPDATE orders_subq SET o_orderstatus = 'X' WHERE o_totalprice > "
        "(SELECT max(o_totalprice) / 2 FROM orders_subq)"
    )
    return (
        t.snapshot()
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice").alias("total"),
        )
    )


@register(
    "table_bucket_resize",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4
                    ) THEN 'K'
                    WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4 OFFSET 4
                    ) THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4
                    ) THEN o_totalprice * 3
                    WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4 OFFSET 4
                    ) THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="bucket-count RESIZE (Hudi's consistent-hashing bucket index "
    "answers the same problem — a day-1 bucket count that no longer "
    "fits the table — via clustering): files record the modulus they "
    "were written under, so (1) a METADATA-ONLY resize flips new "
    "writes to the new count while existing files keep pruning by "
    "their own recorded modulus — no O(table) rewrite on the write "
    "path, the 100 TB migration mode; (2) CALL run_clustering("
    "bucket_count => N) is the one-replace-commit full re-layout. "
    "The query drives both: a 16-bucket load, a metadata-only flip to "
    "8 (first point upsert still prunes the old generation under 16), "
    "a mixed-generation upsert, then the CALL rewrite to 32 — every "
    "live file re-stamped, snapshot byte-equal to the same updates on "
    "a plain table (the oracle)",
)
def table_bucket_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_dml import call_procedure
    from ..table import TableServices

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_bresize_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_rsz",
        index_type="bucket",
        bucket_count=16,
    )
    t.bulk_insert(orders.repartition(8, "o_orderkey"))
    low8 = [
        r[0]
        for r in orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(8)
        .collect()
    ]

    def batch(keys: list, mult: int, status: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderkey").isin(keys))
            .withColumn("o_totalprice", F.col("o_totalprice") * mult)
            .withColumn("o_orderstatus", F.lit(status))
            .select(*_COLS)
        )

    # metadata-only flip 16 -> 8: zero files rewritten
    pre = t.latest_commit()
    assert TableServices(t).resize_buckets(8, rewrite=False) is None
    assert t.latest_commit() == pre, "metadata-only resize published files"
    t.upsert(batch(low8[:4], 3, "K"))
    stats = t._last_bucket_prune
    assert stats is not None and stats["moduli"] == [16], stats
    assert stats["buckets"] <= 4 and stats["kept"] <= 2 * stats["buckets"], stats
    # mixed generations: the 4-key second batch prunes each candidate
    # file under ITS recorded modulus
    t.upsert(batch(low8[4:], 2, "R"))
    stats = t._last_bucket_prune
    assert stats is not None and 16 in stats["moduli"], stats
    assert set(stats["moduli"]) <= {8, 16}, stats
    # full re-layout through the SQL surface: one replace commit
    out = call_procedure(
        spark,
        "CALL run_clustering(table => 'orders_rsz', bucket_count => 32)",
        {"orders_rsz": t},
    ).collect()
    assert out[0]["state"] == "completed"
    assert all(e.get("bucket_n") == 32 for e in t.current_files())
    return t.snapshot().drop(META_COL)


@register(
    "table_sql_optimize_partition",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="partition-scoped compaction through plain SQL (Delta's "
    "OPTIMIZE t WHERE, the maintenance shape Hudi schedules via "
    "clustering partition regex): OPTIMIZE .. WHERE o_orderstatus = "
    "'F' rewrites ONLY the files whose hive partition value proves "
    "the predicate — O(partition) instead of O(table) per run, the "
    "only affordable compaction cadence at 10^5 files. Fail-closed "
    "as an ERROR on non-provable predicates (non-partition column, "
    "OR) — never a silent full rewrite. The query asserts the other "
    "partitions' files survive at their original manifest paths and "
    "the oracle pins bit-identical content",
)
def table_sql_optimize_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_session import SqlSession

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_optw_")
    # scale-invariant file budget (~24 files at any SF): the point is
    # the partition-scoped REWRITE SCOPE, not small-file pressure — a
    # fixed mrpf would mean O(SF) files and the per-file stats/commit
    # constants would dominate the row (the bloom-row lesson)
    nrows = orders.count()
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        max_records_per_file=max(400, nrows // 24),
        table_name="orders_opt",
    )
    t.bulk_insert(orders)
    before = {e["path"] for e in t.current_files()}
    scoped = {p for p in before if "o_orderstatus=F" in p}
    others = before - scoped
    assert scoped and others
    sess = SqlSession(spark, tables={"orders_opt": t})
    sess.sql("OPTIMIZE orders_opt WHERE o_orderstatus = 'F'")
    after = {e["path"] for e in t.current_files()}
    assert others <= after, "unscoped partitions must keep their files"
    assert not (scoped & after), "scoped partition must be rewritten"
    return t.snapshot().drop(META_COL)


@register(
    "table_auto_index_upsert",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4
                    ) THEN 'A' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey IN (
                        SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 4
                    ) THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
    """,
    doc="AUTO-INDEX maintenance (Hudi metadata-table behavior — "
    "hoodie.metadata.record.index.enable: the record index updates "
    "WITH each commit instead of via an async CALL): the table is "
    "created with auto_index=['record_index']; every commit extends "
    "the index over its NEW files only (O(commit) per write), so the "
    "4-key point batch (smallest keys — hash-interleaved layout makes "
    "range stats useless) prunes merge candidates by "
    "EXACT containment with no build_record_index call ever made. "
    "The query asserts index coverage equals the live set after each "
    "commit and that the prune dropped files",
)
def table_auto_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_autoidx_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_autoidx",
        auto_index=["record_index"],
    )
    # interleaved KEY layout: hash-repartition → every file's key range
    # covers ~the whole domain, so only exact containment prunes
    t.bulk_insert(orders.repartition(8, "o_orderkey"))
    covered = set(t._index_meta("record")["files"])
    assert covered == {e["path"] for e in t.current_files()}
    low4 = [
        r[0]
        for r in orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(4)
        .collect()
    ]
    batch = (
        orders.where(F.col("o_orderkey").isin(low4))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("A"))
        .select(*_COLS)
    )
    # exact containment keeps at most |batch| = 4 of the 8 files
    entries = t.current_files()
    keys = batch.select("o_orderkey").distinct()
    pruned = t._prune_by_keys(entries, keys)
    assert len(pruned) < len(entries), (len(pruned), len(entries))
    t.upsert(batch)
    covered2 = set(t._index_meta("record")["files"])
    # every LIVE file is covered (the commit's new files were indexed
    # in-commit); rewritten files' old paths stay in the covered set as
    # inert dead mappings — the index contract, so superset not equality
    assert {e["path"] for e in t.current_files()} <= covered2
    assert covered < covered2
    return t.snapshot().drop(META_COL)


@register(
    "table_catalog_sync",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN 'U'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate
            FROM orders
        )
        WHERE o_orderstatus <> 'P'
    """,
    doc="Spark-catalog sync (the engine-native analog of the Hudi "
    "hive-sync the reference carries disabled, "
    "create_hudi_tables.py:130-138): the partitioned engine table "
    "syncs its snapshot into a REAL session-catalog parquet table any "
    "Spark SQL client can read. First sync is a partitioned CTAS; "
    "after the mod-5 upsert (which MOVES keys into a new 'U' "
    "partition) the second sync rewrites ONLY the touched partitions "
    "via dynamic partition-overwrite (O(changed partitions), derived "
    "from the commit manifests — asserted, plus untouched-partition "
    "bytes asserted identical in tests/test_catalog_sync.py); the "
    "manifest-only DROP PARTITION then propagates as a catalog "
    "partition drop. The returned frame reads back through "
    "spark.table() — the full external-reader round trip",
)
def table_catalog_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..table import TableServices

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_csync_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_name="orders_csync",
    )
    t.bulk_insert(orders)
    svc = TableServices(t)
    ident = f"eng_sync_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="engine_csync_loc_")
    assert svc.sync_spark_catalog(ident, location=loc) == ["*"]
    t.upsert(_update_batch(orders))
    refreshed = svc.sync_spark_catalog(ident, location=loc)
    # O(changed partitions): the mod-5 move touches the three source
    # partitions plus the new U target — never a full-table rewrite
    assert set(refreshed) == {"F", "O", "P", "U"}, refreshed
    t.delete_partition({"o_orderstatus": "P"})
    assert svc.sync_spark_catalog(ident, location=loc) == ["P"]
    # no DROP here: the returned frame is LAZY — the caller collects it
    # after this function returns, so the catalog entry must survive
    # (idents are uuid-unique; entries are session-scoped, files live
    # in the run's scratch dir)
    return spark.table(ident).select(*_COLS)


@register(
    "table_cdc_apply_feed",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
                    AS BIGINT) AS _seq
        FROM orders
        WHERE o_orderkey % 7 <> 0
    """,
    doc="Debezium/DeltaStreamer CDC-feed apply (Table.apply_cdc_feed): "
    "one event batch mixing creates (all orders, seq 1), updates "
    "(mod-5, doubled price, seq 2) and deletes (mod-7, seq 3) folds "
    "into the table in ONE commit — the batch resolves to the last "
    "event per key in FEED order first (a mod-35 key whose history is "
    "create→update→delete must delete; plain merge() would delete any "
    "mixed key), then routes through the merge kernel. A second, LATE "
    "batch of stale updates (seq 0) is applied and fully discarded by "
    "precombine ordering — replay cannot clobber newer state. Window "
    "shuffle over the BATCH only, merge over affected files only",
)
def table_cdc_apply_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_cdcfeed_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="_seq",
        table_name="orders_cdcfeed",
    )
    creates = orders.withColumn("_seq", F.lit(1).cast("long")).withColumn(
        "_op", F.lit("c")
    )
    updates = (
        orders.where(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("_seq", F.lit(2).cast("long"))
        .withColumn("_op", F.lit("u"))
    )
    deletes = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("_seq", F.lit(3).cast("long"))
        .withColumn("_op", F.lit("D"))  # codes are case-insensitive
    )
    t.apply_cdc_feed(
        creates.unionByName(updates).unionByName(deletes), op_col="_op"
    )
    # late replay: stale updates (seq 0) for mod-3 keys — all discarded
    # by precombine ordering (restricted to undeleted keys: a late
    # update for a deleted key would re-insert it, the documented
    # CDC-applier caveat)
    late = (
        orders.where(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 7 != 0)
        )
        .withColumn("o_totalprice", F.lit(-1.0))
        .withColumn("_seq", F.lit(0).cast("long"))
        .withColumn("_op", F.lit("u"))
    )
    t.apply_cdc_feed(late, op_col="_op")
    return t.snapshot().drop(META_COL)


@register(
    "table_cdc_tombstone_replay",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, CAST(1 AS BIGINT) AS _seq
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
               o_totalprice * 3 AS o_totalprice, o_orderdate,
               CAST(4 AS BIGINT) AS _seq
        FROM orders WHERE o_orderkey % 49 = 0
    """,
    doc="CDC delete-marker retention (r12, cdc_tombstone_hours): after "
    "a delete batch (mod-7 keys, seq 3) applies, a replayed batch "
    "carries LATE updates for the deleted keys (seq 2 — below the "
    "retained marker, and with NO stored row to compare against) plus "
    "genuine re-inserts for the mod-49 subset (seq 4, above the "
    "marker). The tombstone sidecar discards every late update — "
    "without markers they would silently resurrect their keys — while "
    "the newer re-inserts resurrect per the CDC feed-order contract. "
    "Marker join is O(batch x retained deletes), sidecar write "
    "O(deletes); the corpus never re-scans",
)
def table_cdc_tombstone_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_cdctomb_")
    t = Table.create(
        spark,
        path,
        key="o_orderkey",
        precombine="_seq",
        table_name="orders_cdctomb",
        cdc_tombstone_hours=24.0,
    )
    creates = orders.withColumn("_seq", F.lit(1).cast("long")).withColumn(
        "_op", F.lit("c")
    )
    t.apply_cdc_feed(creates, op_col="_op")
    deletes = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("_seq", F.lit(3).cast("long"))
        .withColumn("_op", F.lit("d"))
    )
    t.apply_cdc_feed(deletes, op_col="_op")
    # replay batch: late updates for EVERY deleted key (seq 2 < marker
    # seq 3; the stored row is gone, so only the tombstone can reject
    # them) + re-inserts for the mod-49 subset at seq 4 (> marker —
    # they must resurrect; within the batch the re-insert also beats
    # the same key's late update by precombine order)
    late = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.lit(-1.0))
        .withColumn("o_orderstatus", F.lit("Z"))
        .withColumn("_seq", F.lit(2).cast("long"))
        .withColumn("_op", F.lit("u"))
    )
    reins = (
        orders.where(F.col("o_orderkey") % 49 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("_seq", F.lit(4).cast("long"))
        .withColumn("_op", F.lit("i"))
    )
    t.apply_cdc_feed(late.unionByName(reins), op_col="_op")
    return t.snapshot().drop(META_COL)


@register(
    "table_bootstrap_partitioned",
    oracle=_UPSERTED_SQL,
    doc="hive-partitioned metadata-only bootstrap (r13, lifting the v1 "
    "unpartitioned restriction; the reference's own layout is "
    "hive-partitioned, create_hudi_tables.py:151-155): a "
    "status-partitioned parquet dir is adopted in place — each "
    "external manifest entry carries the partition dict parsed from "
    "its col=val path segment plus footer key stats, so partition "
    "pruning and the partition-local upsert rewrite work over files "
    "the engine never wrote. The mod-5 update batch MOVES rows across "
    "partitions (status -> 'U'): survivors of affected external files "
    "rewrite into managed hive dirs, untouched partitions' externals "
    "stay adopted, and the snapshot still equals source-with-updates",
)
def table_bootstrap_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import posixpath

    scratch = tempfile.mkdtemp(prefix="engine_bsp_")
    src = posixpath.join(scratch, "src")
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    # build the hive-partitioned source OUTSIDE the engine (plain Spark
    # write) — the bootstrap subject is a pre-existing foreign layout
    orders.write.partitionBy("o_orderstatus").parquet(src)
    t = Table.bootstrap(
        spark,
        posixpath.join(scratch, "tbl"),
        src,
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_bootstrap_part",
        partition_fields=["o_orderstatus"],
    )
    t.upsert(_update_batch(orders))
    return t.snapshot().select(*_COLS)


@register(
    "table_mor_partial_update",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               CASE WHEN o_orderkey % 4 = 1 THEN 'P'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate
        FROM orders
        UNION ALL
        SELECT o_orderkey + 20000000,
               CAST(NULL AS BIGINT)  AS o_custkey,
               'N'                   AS o_orderstatus,
               CAST(NULL AS DOUBLE)  AS o_totalprice,
               o_orderdate
        FROM orders
        WHERE o_orderkey % 100 = 17
    """,
    doc="partial-column upsert on MERGE_ON_READ (r13, lifting the r12 "
    "COW-only limitation): the column merge resolves at WRITE time "
    "against the merge view of the affected files — winners and new "
    "keys append as FULL-ROW deltas the unchanged O(1)-column merge "
    "view picks by newest commit; no base file is rewritten. Same "
    "batch shape and oracle as table_partial_update: NULL price keeps "
    "the old value, omitted o_custkey survives, new keys insert with "
    "nulls. Cost: O(affected files) read + O(batch) delta write",
)
def table_mor_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    path = tempfile.mkdtemp(prefix="engine_morpu_")
    t = Table.create(
        spark, path, key="o_orderkey", precombine="o_orderdate",
        table_name="orders_morpu", table_type="mor",
    )
    t.bulk_insert(orders)
    updates = orders.where(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey",
        "o_orderdate",
        F.lit("P").alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 8 == 1, F.col("o_totalprice") + 1000.0
        ).alias("o_totalprice"),
    )
    inserts = orders.where(F.col("o_orderkey") % 100 == 17).select(
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "o_orderdate",
        F.lit("N").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    t.partial_update(updates.unionByName(inserts))
    return t.snapshot().drop(META_COL)


@register(
    "table_shallow_clone",
    oracle=_UPSERTED_SQL,
    doc="zero-copy SHALLOW CLONE (Delta clone shape over the engine's "
    "bootstrap kernel): the source table loads orders, the clone's "
    "first commit adopts the source's live files as external entries "
    "with stats copied verbatim (zero bytes moved), and the mod-5 "
    "update batch upserted to the CLONE rewrites only affected rows "
    "into clone-managed files — the clone snapshot equals source-with-"
    "updates while the source is never touched (divergence pinned by "
    "tests/test_table.py::test_shallow_clone_diverges...)",
)
def table_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"].select(*_COLS)
    src = Table.create(
        spark,
        tempfile.mkdtemp(prefix="engine_clsrc_"),
        key="o_orderkey",
        precombine="o_orderdate",
        table_name="orders_clone_src",
    )
    src.bulk_insert(orders)
    clone = Table.shallow_clone(
        spark, tempfile.mkdtemp(prefix="engine_clone_"), src,
        table_name="orders_clone",
    )
    clone.upsert(_update_batch(orders))
    return clone.snapshot().select(*_COLS)
