"""The benchmark workloads.

Each workload is a closed loop with one client: every public call is
issued only after the previous one returned, the way an Airflow DAG runs
its tasks. A workload repeats a fixed, seeded *cycle* of calls. The
engine is driven only through the calls the ``jobs/`` scripts make.

Sizes are set so that the JVM start, two fixture builds, the warm-up, the
measured cycles and the correctness check fit in about 40 seconds on a
4-core host; the row counts are the ``N_*`` constants of each class.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import defaultdict
from urllib.parse import urlparse
from urllib.request import url2pathname

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import Table, TableServices
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.checkpoint import CheckpointStore
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sources.loaders import Loaders
from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.sql_session import SqlSession
from pyspark.sql import functions as F

from . import inputs as I
from .harness import Storage, live_bytes

ENGINE_META = "_commit_time"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _arrow(df) -> pa.Table:
    return df.drop(ENGINE_META).toArrow()


def _diff(con, got: pa.Table, want_sql: str) -> int:
    """1 if the rows differ from the model as multisets, else 0."""
    con.register("got_rows", got)
    cols = ", ".join(f'"{c}"' for c in got.column_names)
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM got_rows EXCEPT ALL "
        f"SELECT {cols} FROM ({want_sql}))) + (SELECT count(*) FROM (SELECT "
        f"{cols} FROM ({want_sql}) EXCEPT ALL SELECT {cols} FROM got_rows))"
    ).fetchone()[0]
    con.unregister("got_rows")
    if n:
        print(f"mismatch: {n} rows differ from the model", file=sys.stderr)
    return int(n > 0)


class Workload:
    name = ""
    max_cycles = 60
    # nominal seconds per cycle on a 4-core host; a run measures
    # round(--seconds / cycle_s) cycles, at least ``fixed_cycles``
    cycle_s = 1.0
    # storage metrics are sampled after this many measured cycles, so they
    # do not depend on the run length
    fixed_cycles = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.inp = os.path.join(work, "in")
        self.root = os.path.join(work, "tables")
        os.makedirs(self.inp)
        os.makedirs(self.root)
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.rec = None
        self.mismatches = 0  # checks that found a difference
        self.trace = False

    # subclasses: generate() the seeded inputs, load() the fixture,
    # cycle(c), check() against the model, tables() to account

    def start_measuring(self, rec, trace: bool) -> None:
        self.rec = rec
        self.trace = trace
        self.storage = Storage([self.root])
        self.input_bytes = 0  # bytes of the input batches applied
        self.rows_written = 0  # user rows in the applied batches
        self.scan_bytes = defaultdict(list)  # per role: bytes each read scanned

    def read(self, name: str, make, tbl, act=_noop, role="read", **attrs):
        """One read call: build the DataFrame with ``make()`` and consume it
        with ``act``. After the timed call it records the bytes of the files
        the scan read (Spark's own input-byte metric does not count local
        parquet reads); the traced run also records the bytes of the table's
        live files."""
        with self.rec.span(name, role, **attrs) as s:
            df = make()
            out = act(df)
        scan = sum(os.path.getsize(url2pathname(urlparse(f).path)) for f in df.inputFiles())
        self.scan_bytes[role].append(scan)
        if self.trace:
            s["scan_bytes"] = scan
            s["live_bytes"] = sum(os.path.getsize(tbl._abs(p)) for p in self._files(tbl))
        return out

    def commit(self, name: str, fn, tbl, rows: int, in_paths, role=None, **attrs):
        """One write call of ``rows`` rows, with storage accounting around
        it. ``in_paths`` are the user input files it applies (none for a
        derived table). In the traced run, ``current_files()`` before and
        after gives the files the commit added and removed and the rows it
        rewrote."""
        rec = self.rec
        before = self._files(tbl) if self.trace else None
        with rec.span(name, role, **attrs) as s:
            out = fn()
        self.storage.after_commit()
        if in_paths:
            self.input_bytes += I.file_bytes(in_paths)
            self.rows_written += rows
        if before is not None:
            after = self._files(tbl)
            removed = [e for p, e in before.items() if p not in after]
            s["files_added"] = sum(1 for p in after if p not in before)
            s["files_removed"] = len(removed)
            s["rows_rewritten_per_row"] = sum(e.get("rows") or 0 for e in removed) / max(rows, 1)
            s["live_bytes"] = sum(os.path.getsize(tbl._abs(p)) for p in after)
        return out

    def _files(self, table) -> dict:
        with self.rec.span("table.current_files", count=False) as s:
            entries = table.current_files()
        s["entries"] = len(entries)
        return {e["path"]: e for e in entries}

    def space_sample(self) -> dict:
        disk = self.storage.disk_bytes()
        return {
            "write_amp": self.storage.bytes_written / self.input_bytes,
            "space_amp": disk / sum(live_bytes(t) for t in self.tables()),
            "disk_bytes": disk,
        }


# -- medallion_etl ---------------------------------------------------------


GOLD_QUERY = """
SELECT
    c.customer_id,
    c.name  AS customer_name,
    c.email,
    o.order_id,
    o.name  AS order_name,
    o.order_value
FROM customers c
JOIN orders o ON c.customer_id = o.customer_id
"""

MERGE_CUSTOMERS = (
    "MERGE INTO customers t USING customer_changes s "
    "ON t.customer_id = s.customer_id "
    "WHEN MATCHED THEN UPDATE SET email = s.email, created_at = s.created_at "
    "WHEN NOT MATCHED THEN INSERT *"
)


class MedallionEtl(Workload):
    """The reference Lab2 pipeline at scale -- the traffic the system
    exists to serve. Each cycle: a silver ``orders`` upsert (half new
    keys, half updates of keys from the latest batches), about 1%
    customer changes through ``SqlSession.sql("MERGE INTO ...")``, one
    gold cycle through freshly loaded handles as ``jobs/incremental_etl.py``
    runs it (``Loaders.load`` orders INC + customers FULL, the reference
    join, gold ``upsert``, ``commit_checkpoints``); two gold snapshot reads
    as ``jobs/read_gold.py`` does after each of these three steps, the way
    gold consumers read while the pipeline runs; ``clean()`` every third
    cycle. The
    untimed warm-up cycle is the gold table's cold start.

    Loads: the COW rewrite path (every silver file is rewritten each
    cycle, the target of a single rewrite kernel), the loaders, the
    checkpoint store, the join and the gold writes.
    Bypasses: every file index (the tables are unindexed) and MOR.
    """

    name = "medallion_etl"
    N_CUSTOMERS = 10_000
    N_ORDERS = 60_000
    BATCH = 6_000
    N_CHANGES = 100  # 1% of customers
    N_NEW_CUSTOMERS = 10
    GOLD_READS = 2  # gold consumer reads after each pipeline step
    max_cycles = 30
    cycle_s = 4.0
    fixed_cycles = 2

    def generate(self) -> None:
        rng, keys = self.rng, I.KeySource(self.rng)
        cust_ids = keys.take(self.N_CUSTOMERS)
        self.customers0 = I.customers(rng, cust_ids, I.iso_ts(0), "v0")
        cust_arr = np.asarray(cust_ids, dtype=object)
        day0 = dt.date(2024, 1, 1)
        new = keys.take(self.N_ORDERS)
        I.write(I.orders(rng, new, cust_arr, day0), f"{self.inp}/orders_0.parquet")
        I.write(self.customers0, f"{self.inp}/customers_0.parquet")
        recent = [new]
        half = self.BATCH // 2
        for c in range(1, self.max_cycles + 1):
            pool = [k for batch in recent[-3:] for k in batch]
            upd = [pool[i] for i in rng.choice(len(pool), half, replace=False)]
            new = keys.take(half)
            recent.append(new)
            day = day0 + dt.timedelta(days=c)
            I.write(I.orders(rng, new + upd, cust_arr, day), f"{self.inp}/orders_{c}.parquet")
            changed = [cust_ids[i] for i in rng.choice(len(cust_ids), self.N_CHANGES, replace=False)]
            ch = I.customer_changes(self.customers0, changed, I.iso_ts(c), f"v{c}")
            add = I.customers(rng, keys.take(self.N_NEW_CUSTOMERS), I.iso_ts(c), f"v{c}")
            I.write(pa.concat_tables([ch, add]), f"{self.inp}/customers_{c}.parquet")

    def _path(self, layer: str, name: str) -> str:
        return f"{self.root}/{layer}/database=bench/table_name={name}"

    def load(self) -> None:
        spark = self.spark
        self.cust = Table.create(
            spark, self._path("silver", "customers"), key="customer_id",
            precombine="created_at", partition_fields=["state"], table_name="customers",
        )
        self.cust.upsert(spark.read.parquet(f"{self.inp}/customers_0.parquet"))
        self.orders = Table.create(
            spark, self._path("silver", "orders"), key="order_id",
            precombine="order_date", table_name="orders",
        )
        self.orders.upsert(spark.read.parquet(f"{self.inp}/orders_0.parquet"))
        self.store = CheckpointStore(f"{self.root}/checkpoints")
        self.sess = SqlSession(spark, tables={"customers": self.cust})
        self.payload = [
            {"source_type": "ENGINE", "table_name": "orders", "spark_table_name": "orders",
             "path": self.orders.path, "type": "INC"},
            {"source_type": "ENGINE", "table_name": "customers",
             "spark_table_name": "customers", "path": self.cust.path, "type": "FULL"},
        ]
        self.gold_path = self._path("gold", "orders_with_customers")
        self.done = 0  # cycles applied

    def tables(self):
        return [self.orders, self.cust, Table.load(self.spark, self.gold_path)]

    def _gold_cycle(self, c: int) -> None:
        spark, rec = self.spark, self.rec
        loaders = Loaders(self.payload, spark, checkpoint_store=self.store)

        def load():
            views = loaders.load()
            return views if not views["orders"].isEmpty() else None

        def join():
            df = spark.sql(GOLD_QUERY).drop(ENGINE_META)
            df.cache()
            return df, df.count()

        with rec.span("etl.gold_cycle", role="gold"):
            if rec.call("sources.loaders.load", load) is None:
                raise RuntimeError(f"cycle {c}: no new orders commits")
            gold_df, n = rec.call("sql.gold_join", join)
            gold = Table.create(spark, self.gold_path, key="order_id", precombine="order_id",
                                table_name="orders_with_customers", exists_ok=True)
            # a COW merge of about a batch into a table of the silver size:
            # one more upsert sample per cycle
            self.commit("table.upsert", lambda: gold.upsert(gold_df), gold, n, [],
                        role="upsert", table="gold")
            rec.call("checkpoint.commit", loaders.commit_checkpoints)
            gold_df.unpersist()
        self.storage.after_commit(record=False)  # the checkpoint file

    def _gold_reads(self) -> None:
        if self.done:  # the gold table exists from the first gold cycle on
            gold = Table.load(self.spark, self.gold_path)
            for _ in range(self.GOLD_READS):
                self.read("table.snapshot", gold.snapshot, gold, table="gold")

    def cycle(self, c: int) -> None:
        spark, rec = self.spark, self.rec
        op, cp = f"{self.inp}/orders_{c}.parquet", f"{self.inp}/customers_{c}.parquet"
        self.commit("table.upsert", lambda: self.orders.upsert(spark.read.parquet(op)),
                    self.orders, self.BATCH, [op], role="upsert", table="orders")
        self._gold_reads()
        spark.read.parquet(cp).createOrReplaceTempView("customer_changes")
        self.commit("sql_session.merge_into", lambda: self.sess.sql(MERGE_CUSTOMERS),
                    self.cust, self.N_CHANGES + self.N_NEW_CUSTOMERS, [cp], role="merge")
        self._gold_reads()
        self._gold_cycle(c)
        self.done = c
        self._gold_reads()
        if c % 3 == 0:
            for t in self.tables():
                rec.call("services.clean", TableServices(t).clean, table=t.meta["table_name"])
            self.storage.after_commit(record=False)

    def check(self) -> None:
        """Final silver and gold snapshots against a DuckDB model over the
        applied inputs: latest row per key, then the reference join with
        each order's customer as of the gold cycle that last wrote the
        order (gold rows are written incrementally; the first gold cycle
        is cycle 1)."""
        con = duckdb.connect()
        cyc = range(0, self.done + 1)
        for t in ("orders", "customers"):
            con.execute(
                f"CREATE VIEW {t}_v AS "
                + " UNION ALL ".join(
                    f"SELECT *, {c} AS cyc FROM read_parquet('{self.inp}/{t}_{c}.parquet')"
                    for c in cyc
                )
            )
        latest = (
            "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY {k} ORDER BY cyc DESC) rn FROM {t}_v) WHERE rn = 1"
        )
        orders = latest.format(k="order_id", t="orders")
        customers = latest.format(k="customer_id", t="customers")
        gold = (
            f"SELECT cv.customer_id, cv.name AS customer_name, cv.email, o.order_id, "
            f"o.name AS order_name, o.order_value FROM ({orders}) o "
            f"ASOF JOIN customers_v cv ON o.customer_id = cv.customer_id "
            f"AND greatest(o.cyc, 1) >= cv.cyc"
        )
        self.mismatches += _diff(con, _arrow(self.orders.snapshot()), f"SELECT * EXCLUDE (cyc) FROM ({orders})")
        self.mismatches += _diff(con, _arrow(self.cust.snapshot()), f"SELECT * EXCLUDE (cyc) FROM ({customers})")
        self.mismatches += _diff(con, _arrow(Table.load(self.spark, self.gold_path).snapshot()), gold)
        con.close()


# -- TPC-H shaped orders tables -------------------------------------------


class _Orders(Workload):
    """A keyed ``orders`` table checked against a dict model: key -> row."""

    K = "o_orderkey"

    def _base(self) -> np.ndarray:
        keys = I.sparse_keys(self.rng, self.N_ROWS)
        base = I.tpch_orders(self.rng, keys, 0)
        I.write(base, f"{self.inp}/batch_0.parquet")
        self.model = {r[self.K]: r for r in base.to_pylist()}
        self.batches = [None]
        return keys

    def tables(self):
        return [self.t]

    def apply_model(self, c: int) -> None:
        for r in pq.read_table(self.batches[c]).to_pylist():
            self.model[r[self.K]] = r

    def check(self) -> None:
        con = duckdb.connect()
        con.register("model_rows", pa.Table.from_pylist(list(self.model.values())))
        self.mismatches += _diff(con, _arrow(self.t.snapshot()), "SELECT * FROM model_rows")
        con.close()


class KeyedReads(_Orders):
    """A read-heavy COW table with ``index_type="bloom"`` (the reference's
    BLOOM index), about 75 data files. Each cycle: 12 point lookups with
    Zipf-skewed keys, about 10% of them absent, in three groups around one
    ``read_where`` key-range scan, one ``incremental`` read over the latest
    commits and one small upsert of recently inserted keys plus new keys
    (uniform keys would rewrite every file). The last group runs after the
    upsert, so it also finds rows the upsert just wrote.

    Loads: file pruning (range stats, bloom) on reads and the stats+bloom
    pass each commit runs over the files it writes.
    Bypasses: the loaders, checkpoint, SQL DML and MOR paths.
    """

    name = "keyed_reads"
    N_ROWS = 40_000
    N_FILES = 75
    N_UPDATE = 300
    N_NEW = 300
    LOOKUPS = 12
    max_cycles = 40
    cycle_s = 3.0
    fixed_cycles = 2

    def generate(self) -> None:
        rng = self.rng
        keys = self._base()
        absent = np.setdiff1d(np.arange(1, int(keys[-1])), keys)
        hot = rng.permutation(keys)
        nxt = int(keys[-1])
        recent = [keys[-self.N_UPDATE * 3:]]
        self.lookups, self.ranges = [None], [None]
        for c in range(1, self.max_cycles + 1):
            upd = rng.choice(np.concatenate(recent[-3:]), self.N_UPDATE, replace=False)
            new = nxt + np.cumsum(rng.integers(1, 5, self.N_NEW))
            nxt = int(new[-1])
            recent.append(new)
            self.batches.append(
                I.write(I.tpch_orders(rng, np.concatenate([upd, new]), c), f"{self.inp}/batch_{c}.parquet")
            )
            self.lookups.append([
                int(absent[rng.integers(0, len(absent))]) if rng.random() < 0.1
                else int(hot[min(int(rng.zipf(1.3)), len(hot)) - 1])
                for _ in range(self.LOOKUPS)
            ])
            lo = int(rng.integers(1, int(keys[-1])))
            self.ranges.append((lo, lo + len(keys) // 10))

    def load(self) -> None:
        self.t = Table.create(
            self.spark, f"{self.root}/orders", key=self.K, precombine="o_version",
            table_name="orders", index_type="bloom",
            max_records_per_file=self.N_ROWS // self.N_FILES,
        )
        self.t.upsert(self.spark.read.parquet(f"{self.inp}/batch_0.parquet"))

    def _lookups(self, c: int, keys) -> None:
        t, K = self.t, self.K
        for k in keys:
            rows = self.read(
                "table.lookup",
                lambda: t.snapshot(filters={K: k}).where(F.col(K) == k).drop(ENGINE_META),
                t,
                act=lambda df: df.collect(),
            )
            want = self.model.get(k)
            if [r.asDict() for r in rows] != ([want] if want is not None else []):
                print(f"mismatch: lookup {k} in cycle {c}", file=sys.stderr)
                self.mismatches += 1

    def cycle(self, c: int) -> None:
        spark, t, K = self.spark, self.t, self.K
        # lookups in three groups between the other calls, so that they
        # sample the whole cycle
        third = self.LOOKUPS // 3
        keys = self.lookups[c]
        self._lookups(c, keys[:third])
        lo, hi = self.ranges[c]
        self.read("table.read_where", lambda: t.read_where(f"{K} >= {lo} AND {K} < {hi}"),
                  t, role="scan")
        self._lookups(c, keys[third:2 * third])
        commits = t.commits()
        begin = commits[-3] if len(commits) >= 3 else None
        self.read("table.incremental", lambda: t.incremental(begin), t, role="incr")
        path = self.batches[c]
        self.commit("table.upsert", lambda: t.upsert(spark.read.parquet(path)), t,
                    self.N_UPDATE + self.N_NEW, [path], role="upsert")
        self.apply_model(c)
        self._lookups(c, keys[2 * third:])


# -- mor_compaction --------------------------------------------------------


class MorCompaction(_Orders):
    """The same table layer written the other way: a MOR table. Each cycle:
    one small delta upsert with keys spread uniformly over the table (plus
    a few new keys); a ``delete`` tombstone batch every third cycle; a
    merge-on-read ``snapshot`` scan; ``should_compact()``
    every cycle and ``compact()`` + ``clean()`` whenever it says so, after
    which the snapshot is checked against the model.

    Loads: delta writes, the merge-on-read view and compaction; it shows
    the read, write and space trade between COW and MOR.
    Bypasses: the COW rewrite path, the file indexes and the loaders.
    """

    name = "mor_compaction"
    N_ROWS = 40_000
    N_UPDATE = 800
    N_NEW = 100
    N_DELETE = 200
    max_cycles = 60
    cycle_s = 1.2
    fixed_cycles = 6

    def generate(self) -> None:
        rng = self.rng
        live = self._base().tolist()  # live keys, sampled uniformly
        pos = {k: i for i, k in enumerate(live)}
        nxt = live[-1]
        self.deletes = [None]

        def drop(k):
            i = pos.pop(k)
            last = live.pop()
            if i < len(live):
                live[i] = last
                pos[last] = i

        for c in range(1, self.max_cycles + 1):
            upd = [live[i] for i in rng.choice(len(live), self.N_UPDATE, replace=False)]
            new = (nxt + np.cumsum(rng.integers(1, 5, self.N_NEW))).tolist()
            nxt = new[-1]
            for k in new:
                pos[k] = len(live)
                live.append(k)
            self.batches.append(
                I.write(I.tpch_orders(rng, np.asarray(upd + new), c), f"{self.inp}/batch_{c}.parquet")
            )
            dels = None
            if c % 3 == 0:
                # keys this cycle does not upsert, so no delete races an update
                touched, dels = set(upd) | set(new), []
                while len(dels) < self.N_DELETE:
                    k = live[int(rng.integers(0, len(live)))]
                    if k not in touched:
                        touched.add(k)
                        dels.append(k)
                for k in dels:
                    drop(k)
                dels = I.write(pa.table({self.K: pa.array(dels, pa.int64())}), f"{self.inp}/delete_{c}.parquet")
            self.deletes.append(dels)

    def load(self) -> None:
        self.t = Table.create(self.spark, f"{self.root}/orders", key=self.K,
                              precombine="o_version", table_name="orders", table_type="mor")
        self.t.upsert(self.spark.read.parquet(f"{self.inp}/batch_0.parquet"))
        self.svc = TableServices(self.t)
        self.svc.compact()

    def cycle(self, c: int) -> None:
        spark, rec, t, svc = self.spark, self.rec, self.t, self.svc
        path, dp = self.batches[c], self.deletes[c]
        self.commit("table.upsert", lambda: t.upsert(spark.read.parquet(path)), t,
                    self.N_UPDATE + self.N_NEW, [path], role="upsert")
        if dp:
            self.commit("table.delete", lambda: t.delete(spark.read.parquet(dp)), t,
                        self.N_DELETE, [dp], role="delete")
        self.apply_model(c)
        self.read("table.snapshot", t.snapshot, t)
        if rec.call("services.should_compact", svc.should_compact):
            rec.call("services.compact", svc.compact, role="compact")
            rec.call("services.clean", svc.clean)
            self.storage.after_commit()
            self.check()

    def apply_model(self, c: int) -> None:
        super().apply_model(c)
        if self.deletes[c]:
            for k in pq.read_table(self.deletes[c]).column(self.K).to_pylist():
                del self.model[k]


WORKLOADS = {w.name: w for w in (MedallionEtl, KeyedReads, MorCompaction)}
