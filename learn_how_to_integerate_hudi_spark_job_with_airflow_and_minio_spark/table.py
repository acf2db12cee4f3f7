"""Keyed, versioned table over Parquet + a JSON commit manifest.

This is the engine's rebuild of the reference's Hudi table semantics
(SURVEY §1.1, §2.2) in plain PySpark — no table-format jar:

- **Record key + precombine** (``create_hudi_tables.py:121-127``): every
  table declares a key; writes are upserts — latest record per key wins;
  within-batch conflicts resolved by max(precombine); on key collision
  with stored data the incoming record wins (Hudi's default
  OverwriteWithLatestAvroPayload behavior).
- **Commit timeline** (``incremental_etl_orders.py:209-215``): each write
  is a monotonically increasing commit; every row carries its commit id
  in the ``_commit_time`` meta column (mirror of
  ``_hoodie_commit_time``).
- **Copy-on-write**: an upsert rewrites only the data files that contain
  updated keys; untouched files — and the original ``_commit_time`` of
  unchanged rows — are preserved. Snapshot reads are therefore plain
  Parquet scans of the current file set: no merge cost at read time.
- **Snapshot vs incremental** (``incremental_etl_orders.py:217-227``):
  snapshot = current file set; incremental = files added by commits in
  ``(begin, end]``, filtered on ``_commit_time``.
- **File-level stats pruning** (Hudi BLOOM/column-stats analog,
  ``create_hudi_tables.py:166-183``): the manifest records per-file
  min/max for the key, precombine, and partition columns; upserts and
  filtered reads prune files before Spark ever lists them.

Scale design (100 TB): the merge is a single shuffle-free candidate scan
+ one shuffled anti-join bounded by the touched files, not the table;
inserts of non-overlapping key ranges touch zero existing files; AQE
handles skewed keys in the join; ``maxRecordsPerFile`` + the compaction
service keep file sizes in the reference's 100 MB–1 GB band.

Layout::

    <path>/_table.json                    table metadata (key, precombine, ...)
    <path>/_commits/<%020d>.json          one manifest per commit (write-last = atomic publish)
    <path>/data/<commit>/part-*.parquet   data files written by that commit

Single-writer per table is assumed (v1), as in the reference's
InProcessLockProvider setup (``create_hudi_tables.py:181-182``).
"""

from __future__ import annotations

import hashlib
import math
import os
import posixpath
import re
from datetime import datetime, timezone
from typing import Any, Callable, Sequence
from urllib.parse import unquote, urlparse

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .sqltext import IDENT as _SQL_IDENT
from .sqltext import rewrite_ident as _rewrite_ident
from .sqltext import scan_top as _scan_top
from .sqltext import split_top as _split_top
from .storage import LocalFS, create_json, fs_for, read_json, write_json

META_COL = "_commit_time"

# Internal bucket-id column persisted in bucket-indexed tables' parquet
# files (never in the manifest schema, so reads project it away):
# pmod(hash(key), bucket_count) — see Table._bucket_key_col.
BUCKET_COL = "_bucket_id"

# Every N commits, _publish also writes a consolidated live-set snapshot
# (Delta-style checkpoint) so reads replay O(N) tail manifests instead of
# O(commits): at 100× scale (years of frequent commits × 10⁵ live file
# entries) full-timeline replay becomes a per-query driver bottleneck.
CHECKPOINT_EVERY = 10
# Key-range tests join a keyed write's key-probe pass only past this many
# live files: under it, a table with no bloom or bucket index would spend
# the pass's Spark job on a prune that an unpruned (column-pruned)
# touched-files scan does not need. See Table._key_probe.
PRUNE_MIN_FILES = 16
# sentinel prefix for the CDC op-code raise_error gate: apply_cdc_feed
# matches it in the captured Spark exception text to re-raise the
# documented ValueError at the API boundary
_CDC_BAD_OP_MARKER = "unknown CDC op code"


def _utcnow() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


_AUTO_IDX_RX = re.compile(r"^secondary_index\(([A-Za-z_][\w$]*)\)$")

# -- parquet file indexes: the one layout and naming scheme -------------
#
# Record, secondary and expression indexes share one contract (Hudi 1.0
# keeps them as partitions of one metadata table): ``_index/<dir>/`` holds
# ``(_f, ...)`` parquet rows, and ``_index/<dir>_meta.json`` names the
# exact set of data files they cover. The meta is the publish point: it
# is written after the payload and removed before it, so a reader sees a
# complete index or none. Data files are immutable, so a covered file is
# indexed exactly forever; a file outside the covered set is always kept.
# ``(kind, name)`` ↔ ``<dir>``: the record index has one canonical name.
_INDEX_PREFIX = {"secondary": "secondary_", "expression": "expr_"}


def _index_dir_name(kind: str, name: str) -> str:
    return "record_index" if kind == "record" else _INDEX_PREFIX[kind] + name


def _index_of_dir_name(seg: str) -> tuple[str, str] | None:
    """``(kind, name)`` of an ``_index/`` payload dir name, or None for
    the families kept elsewhere (bloom sidecars)."""
    if seg == "record_index":
        return ("record", "record_index")
    for kind, prefix in _INDEX_PREFIX.items():
        if seg.startswith(prefix) and len(seg) > len(prefix):
            return (kind, seg[len(prefix):])
    return None


def _auto_index_target(spec: str) -> tuple[str, str] | None:
    """The ``(kind, name)`` index an ``auto_index`` spec maintains, or
    None when the spec is not ``record_index`` / ``secondary_index(c)``."""
    s = str(spec).strip()
    if s == "record_index":
        return ("record", "record_index")
    m = _AUTO_IDX_RX.match(s)
    return ("secondary", m.group(1)) if m else None


def _auto_index_spec(kind: str, name: str) -> str:
    return "record_index" if kind == "record" else f"secondary_index({name})"


def _validate_auto_index(
    specs: list[str], key: str, columns: set[str] | None = None
) -> list[str]:
    """Normalize/validate auto-index specs: ``record_index`` or
    ``secondary_index(<col>)`` (the two per-commit-maintainable index
    families; expression indexes stay CALL-driven — their exprs are
    arbitrary SQL and belong to explicit DDL). ``columns``, when the
    schema is known, rejects secondary specs on nonexistent columns AT
    SPEC TIME — otherwise a typo'd spec would make every write raise
    AFTER its commit durably published (review finding)."""
    out = []
    for raw in specs:
        target = _auto_index_target(raw)
        if target is None:
            raise ValueError(
                f"auto_index spec {raw!r} is not 'record_index' or "
                "'secondary_index(<col>)'"
            )
        kind, col = target
        if kind == "secondary" and col == key:
            raise ValueError(
                f"secondary_index({key}) duplicates the record key — "
                "use 'record_index'"
            )
        if kind == "secondary" and columns is not None and col not in columns:
            raise ValueError(
                f"auto_index spec {raw!r} names a column not in the "
                "table schema"
            )
        out.append(_auto_index_spec(kind, col))
    if len(set(out)) != len(out):
        raise ValueError(f"duplicate auto_index spec in {specs!r}")
    return out


def _validate_validators(v: dict) -> dict:
    """Shape-check pre-commit validators: ``{"equality": [sql, ...],
    "single_result": [[sql, expected], ...]}`` — every sql must read
    the table via the ``<TABLE>`` placeholder."""
    unknown = set(v) - {"equality", "single_result"}
    if unknown:
        raise ValueError(
            f"unknown pre_commit_validators key(s) {sorted(unknown)}"
        )
    for q in v.get("equality") or []:
        if not isinstance(q, str) or "<TABLE>" not in q:
            raise ValueError(
                f"equality validator must be SQL containing <TABLE>: {q!r}"
            )
    for item in v.get("single_result") or []:
        if (
            not isinstance(item, (list, tuple))
            or len(item) != 2
            or not isinstance(item[0], str)
            or "<TABLE>" not in item[0]
        ):
            raise ValueError(
                "single_result validator must be [sql_with_<TABLE>, "
                f"expected]: {item!r}"
            )
    return {k: [list(i) if isinstance(i, tuple) else i for i in vv]
            for k, vv in v.items() if vv}


def _norm_file_path(col):
    """Normalize Spark's _metadata.file_path URI to a plain path."""
    return F.regexp_replace(col, "^file:/+", "/")


def _manifest_scan(
    spark: SparkSession,
    files: list[tuple[str, int, int]],
    base: str | None,
    schema: StructType | None,
) -> DataFrame:
    """A batch parquet scan of exactly ``files`` — ``(path, bytes,
    mtime in epoch ms)`` from manifest entries — with the manifest as
    its file index. It takes the steps ``spark.read.parquet`` takes
    (``DataSource.resolveRelation``: ``InMemoryFileIndex`` →
    ``HadoopFsRelation`` → ``baseRelationToDataFrame``), except that the
    index's ``FileStatusCache`` is seeded with one ``FileStatus`` per
    file, so building the frame lists and stats nothing. The reader
    would list every path again, and past 32 paths
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) it does
    so with a Spark job of one task per file.

    The relation is the reader's: ``basePath`` partition discovery
    typed by ``schema``, the data schema made nullable (bootstrapped
    files lack the meta column), data columns then partition columns,
    and ``inputFiles()`` / ``_metadata`` naming the same qualified paths
    (``file:///...``), sizes and times. The cache is private to the
    scan: a miss would stat that one file, never list a directory, so
    it can never widen the scan to dead files."""
    js = spark._jsparkSession
    gateway = spark.sparkContext._gateway

    def jclass(name: str) -> JavaClass:
        # built from its name, a class costs no round trip to the JVM;
        # ``spark._jvm.org.apache...`` costs one per name segment
        return JavaClass(name, gateway._gateway_client)

    ds = "org.apache.spark.sql.execution.datasources."
    path_cls = jclass("org.apache.hadoop.fs.Path")
    status_cls = jclass("org.apache.hadoop.fs.FileStatus")
    utils = jclass("org.apache.spark.api.python.PythonUtils")
    opts = utils.toScalaMap({} if base is None else {"basePath": base})
    # no size bound and no TTL: an evicted status would cost a stat
    cache = jclass(ds + "SharedInMemoryCache")(2**62, 0).createForNewClient()
    roots = []
    for path, size, mtime in files:
        if not urlparse(path).scheme:
            path = "file://" + os.path.abspath(path)
        p = path_cls(path)
        leaf = gateway.new_array(status_cls, 1)
        # block size only matters for block locations, which a plain
        # FileStatus has none of; splits come from maxPartitionBytes
        leaf[0] = status_cls(size, False, 1, 32 << 20, mtime, p)
        cache.putLeafFiles(p, leaf)
        roots.append(p)
    none = jclass("scala.Option").empty()
    user_schema = (
        none if schema is None
        else jclass("scala.Some")(js.parseDataType(schema.json()))
    )
    index = jclass(ds + "InMemoryFileIndex")(
        js, utils.toSeq(roots), opts, user_schema, cache, none, none
    )
    parts = index.partitionSchema()
    fmt = jclass(ds + "parquet.ParquetFileFormat")()
    if schema is None:
        data = fmt.inferSchema(js, opts, index.allFiles()).get()
    else:
        pnames = {n.lower() for n in parts.fieldNames()}
        data = js.parseDataType(
            StructType(
                [f for f in schema.fields if f.name.lower() not in pnames]
            ).json()
        )
    relation = jclass(ds + "HadoopFsRelation")(
        index, parts, data.asNullable(), none, fmt, opts, js
    )
    return DataFrame(js.baseRelationToDataFrame(relation), spark)


# Physical operators a coalesce can pull into fewer tasks without
# serializing real work (see _read_split_sized): a stage of only these,
# over file scans, literal rows, shuffles and broadcasts, does per-row
# work no heavier than the read under it.
_ROW_OPS = frozenset({
    "ProjectExec", "FilterExec", "UnionExec", "ColumnarToRowExec",
    "InputAdapter", "WholeStageCodegenExec", "BroadcastHashJoinExec",
})
_STAGE_INPUTS = frozenset({
    "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec",
    "FileSourceScanExec", "LocalTableScanExec",
})
_AGGREGATES = frozenset({
    "HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec",
})


def _last_stage_is_light(df: DataFrame) -> bool:
    """Whether the last stage of ``df``'s plan — the operators between
    its output and the shuffles, broadcasts and scans under them — only
    reads its input: file and literal scans, row-wise projections and
    filters, broadcast-join probes, and the final step of an aggregate
    directly over its shuffle (the upsert dedup's). Anything else keeps
    the stage's parallelism: a sort-merge join, a window, a generator,
    a Python UDF, a scan of cached data (which may still have to be
    computed), or an aggregate whose shuffle the planner dropped because
    its input was already partitioned by the grouping key (the whole
    upstream stage would then run in the coalesced tasks)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan, exchanges placed

    def children(node):
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def light(node) -> bool:
        name = node.getClass().getSimpleName()
        if name in _STAGE_INPUTS:
            return True
        if name in _AGGREGATES:
            [child] = children(node)
            if child.getClass().getSimpleName() == "SortExec":
                [child] = children(child)
            return child.getClass().getSimpleName() == "ShuffleExchangeExec"
        return name in _ROW_OPS and all(light(c) for c in children(node))

    return light(plan)


def _read_split_sized(df: DataFrame, est: int) -> DataFrame:
    """``df`` coalesced to ``ceil(est / split)`` partitions, ``split``
    being Spark's own read-split size (``FilePartition.maxSplitBytes``:
    ``min(maxPartitionBytes, max(openCostInBytes, est / minPartitionNum))``,
    ``minPartitionNum`` defaulting to the default parallelism), so each
    written file is about one read split of ``est`` bytes. ``coalesce``
    adds no exchange. ``df`` is left as it is when the estimate is
    unknown (Long.MaxValue) or when its last stage does more than read
    (:func:`_last_stage_is_light`): the coalesce would run that work in
    fewer tasks."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    cores = conf.filesMinPartitionNum()
    cores = (
        cores.get()
        if cores.isDefined()
        else spark.sparkContext.defaultParallelism
    )
    split = min(
        conf.filesMaxPartitionBytes(),
        max(conf.filesOpenCostInBytes(), est / cores),
    )
    n = math.ceil(est / split)
    if n >= 2**31 or not _last_stage_is_light(df):
        return df
    return df.coalesce(max(1, n))


def _merge_join_if_unsized(df: DataFrame) -> DataFrame:
    """``df`` as the side of a join: hinted to a sort-merge join when the
    optimizer cannot size it, i.e. a leaf of its plan carries Spark's
    default size (rows from a Python list or an RDD). Such a frame
    plans a shuffle join, and AQE re-plans it at run time from the
    shuffle map stages that have finished by then: a broadcast on some
    runs (one more Spark job) and the sort-merge join on others. The
    hint makes the plan the same on every run. A frame the optimizer
    can size keeps the planner's choice."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    unsized = any(
        int(leaves.apply(i).stats().sizeInBytes())
        >= conf.defaultSizeInBytes()
        for i in range(leaves.size())
    )
    return df.hint("merge") if unsized else df


def _bootstrap_listing(src_fs, source_dir: str) -> list[str]:
    """The bootstrap adoption listing: every parquet file under the
    source at any depth (or the source itself when it IS a file)."""
    files = sorted(
        p for p in src_fs.list(source_dir) if p.endswith(".parquet")
    )
    if (
        not files
        and source_dir.endswith(".parquet")
        and src_fs.exists(source_dir)
    ):
        files = [source_dir]
    return files


def _bootstrap_fingerprint(files: Sequence[str], src_fs) -> dict:
    """O(1)-meta fingerprint of the adopted source listing (count +
    sha256 over sorted ``path\\0size`` lines) — the manifest holds the
    full list; this is the cheap stream-start probe's comparison key.
    Sizes are part of the hash so an IN-PLACE overwrite of an adopted
    file (same name, new bytes — an upstream job re-run) trips the
    probe too, not just listing growth (r14 review finding). A
    same-size in-place rewrite remains undetectable at this cost tier
    — documented residual, same posture as Hudi's bootstrap
    assumption. Unstat-able sizes hash as -1 (consistently on both the
    stamp and probe sides)."""
    lines = [
        f"{p}\0{-1 if (sz := src_fs.size(p)) is None else sz}"
        for p in files
    ]
    digest = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return {"count": len(files), "sha256": digest}


class Table:
    """A keyed upsert table. Create with :meth:`create`, open with :meth:`load`."""

    def __init__(self, spark: SparkSession, path: str, meta: dict[str, Any]):
        self.spark = spark
        self.path = path.rstrip("/")
        self.meta = meta
        self.fs = fs_for(self.path)
        # DataFrames persisted for the CURRENT write op (constraint-gated
        # batches); drained — unpersisted — by _publish so cached blocks
        # never outlive the commit they served.
        self._pending_unpersist: list[DataFrame] = []
        # per-commit bloom sidecars, loaded at most once per handle
        # (sidecars are immutable once written — see _bloom_for_entries)
        self._bloom_sidecars: dict[str, dict] = {}
        # last bloom-prune outcome, for tests and the bench demo
        self._last_bloom_prune: dict[str, int] | None = None
        # last bucket-prune outcome + per-value bucket memo (point reads)
        self._last_bucket_prune: dict[str, int] | None = None
        self._bucket_value_cache: dict[Any, int] = {}

    # -- lifecycle -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        key: str,
        precombine: str,
        partition_fields: list[str] | None = None,
        table_name: str | None = None,
        max_records_per_file: int = 0,
        exists_ok: bool = False,
        table_type: str = "cow",
        constraints: dict[str, str] | None = None,
        index_type: str | None = None,
        bucket_count: int = 0,
        auto_index: list[str] | None = None,
        pre_commit_validators: dict | None = None,
        cdc_tombstone_hours: float | None = None,
    ) -> "Table":
        if table_type not in ("cow", "mor"):
            raise ValueError(f"table_type must be 'cow' or 'mor', got {table_type!r}")
        if index_type not in (None, "bloom", "bucket"):
            # the range/stats prune and the record/secondary/expression
            # indexes are always-on services, not creation-time modes;
            # "bloom" (the reference's hoodie.index.type=BLOOM,
            # create_hudi_tables.py write configs) adds a key-column
            # read per written file at commit time; "bucket" (Hudi's
            # hoodie.index.type=BUCKET) pins every key to
            # pmod(hash(key), bucket_count) and prunes by bucket range
            # with zero index I/O — a creation-time STRUCTURAL mode
            # (the count can later change via
            # TableServices.resize_buckets; each file records the
            # modulus it was written under, so mixed generations and
            # time travel prune exactly)
            raise ValueError(
                f"index_type must be None, 'bloom' or 'bucket', "
                f"got {index_type!r}"
            )
        if index_type == "bucket" and bucket_count < 1:
            raise ValueError(
                "index_type='bucket' needs bucket_count >= 1 (size it so "
                "table_size / bucket_count lands near your file-size "
                "target — one file group per bucket per commit)"
            )
        if bucket_count and index_type != "bucket":
            raise ValueError("bucket_count is only valid with index_type='bucket'")
        meta_path = posixpath.join(path.rstrip("/"), "_table.json")
        fs = fs_for(path)
        if fs.exists(meta_path):
            if not exists_ok:
                raise ValueError(f"table already exists at {path}")
            return cls.load(spark, path)
        meta = {
            "table_name": table_name or posixpath.basename(path.rstrip("/")),
            "record_key": key,
            "precombine": precombine,
            "partition_fields": partition_fields or [],
            "max_records_per_file": max_records_per_file,
            "table_type": table_type,
            # declarative write-side expectations ({name: SQL boolean
            # expr}); rows failing any (false OR null) are diverted to
            # the quarantine store instead of the table — see
            # _gate_constraints
            "constraints": constraints or {},
            "created_at": _utcnow(),
            # tables created at or after r13 stamp this: restore()
            # always drops a flag marker, so _restored_lineage's
            # no-restore fast path is ONE exists() check instead of an
            # O(active timeline) manifest walk per tombstone-guarded
            # apply. Legacy tables (key absent) keep the full walk —
            # their pre-flag restores left no marker.
            "restore_flagged": True,
        }
        if index_type:
            meta["index_type"] = index_type
        if bucket_count:
            meta["bucket_count"] = int(bucket_count)
        if auto_index:
            # synchronous index maintenance (Hudi metadata-table
            # behavior: record/secondary indexes update WITH each
            # commit): every data-adding commit extends the named
            # indexes over its new files before returning — O(commit's
            # files) per write, and point-merge pruning never sees a
            # stale index. Without the flag, the same indexes are
            # maintained async via the CALL/build services (covered-set
            # staleness is always correct either way).
            meta["auto_index"] = _validate_auto_index(auto_index, key)
        if cdc_tombstone_hours is not None:
            # CDC delete-marker retention window (hours): apply_cdc_feed
            # records (key, precombine) of applied deletes in a sidecar
            # and discards later-arriving upsert events at or below a
            # retained tombstone — closing the re-insert-after-delete
            # replay hazard every CDC applier shares. None (default) =
            # legacy behavior, zero sidecar cost per apply.
            if cdc_tombstone_hours <= 0:
                raise ValueError(
                    "cdc_tombstone_hours must be > 0 (or None to disable)"
                )
            meta["cdc_tombstone_hours"] = float(cdc_tombstone_hours)
        if pre_commit_validators:
            # Hudi pre-commit validator family
            # (hoodie.precommit.validators —
            # SqlQueryEqualityPreCommitValidator /
            # SqlQuerySingleResultPreCommitValidator): SQL checks that
            # run against the WOULD-BE post-commit state BEFORE the
            # manifest publish; a failure aborts the commit (nothing
            # becomes visible; the written files are unreferenced
            # orphans vacuum_orphans reclaims). See
            # _validate_pre_commit for the contract.
            meta["pre_commit_validators"] = _validate_validators(
                pre_commit_validators
            )
        write_json(meta_path, meta)
        return cls(spark, path, meta)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Table":
        meta = read_json(posixpath.join(path.rstrip("/"), "_table.json"))
        return cls(spark, path, meta)

    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        path: str,
        source_dir: str,
        key: str,
        precombine: str,
        table_name: str | None = None,
        max_records_per_file: int = 0,
        partition_fields: list[str] | None = None,
    ) -> "Table":
        """Metadata-only bootstrap (Hudi ``METADATA_ONLY`` bootstrap
        analog): turn an EXISTING directory of parquet files into an
        engine table without copying or rewriting a byte — at 100 TB the
        difference between minutes and a full-corpus rewrite.

        The first commit's manifest references the source files in place
        (absolute paths, ``external: true``) with footer-derived key
        stats, so snapshot / incremental / time-travel / upsert all work
        immediately. An upsert whose keys hit an external file rewrites
        only the AFFECTED rows into engine-managed files and retires the
        external file from the live set; external files are never
        physically deleted (the cleaner skips them — they are not
        engine-owned). Rows not yet rewritten surface ``_commit_time`` =
        the bootstrap commit via a read-time null-coalesce (the source
        files have no physical meta column).

        ``partition_fields`` (r13, lifting the v1 restriction): adopt a
        HIVE-PARTITIONED source layout (``col=val/.../*.parquet`` under
        ``source_dir`` — the reference's own hive_style layout,
        create_hudi_tables.py:151-155) as a partitioned engine table.
        Each file's partition values are parsed from its path segments
        into the manifest ``partition`` dict + min==max stats — the
        same entry shape managed writes produce — so partition pruning,
        insert_overwrite(dynamic) attribution, and catalog sync work
        over the adopted files with zero rewrite. Partition values live
        ONLY in dir names, so the key/precombine columns must be data
        columns (footer stats need bytes). The parse fails loud on a
        file whose segments don't carry exactly the declared fields —
        a non-uniform layout silently mis-pruned is worse than a
        refused bootstrap.

        ``read_stream`` streams externals too (r13): they form the
        bootstrap commit's vintage branch over the source glob. The
        source dir is adopted READ-ONLY — files added to it after
        bootstrap are not table data, but a file stream's glob cannot
        distinguish them. Mechanically guarded (r14): the bootstrap
        commit records a count+sha256 fingerprint of the adopted
        listing WITH per-file sizes, and ``read_stream`` re-lists the
        source at stream start, failing loud on any listing or size
        change (an in-place overwrite trips the probe too; a same-size
        rewrite is the documented residual). Files added while a
        stream is already running remain a documented requirement
        (same as Hudi's bootstrap assumption — a glob source discovers
        files without re-probing).
        """
        src_root = source_dir.rstrip("/")
        src_fs = fs_for(source_dir)
        # a single parquet FILE is a valid (read-only) source too
        files = _bootstrap_listing(src_fs, source_dir)
        if not files:
            raise ValueError(f"no parquet files to bootstrap under {source_dir}")
        # schema probe: partitioned sources need Spark's own hive
        # discovery (col=val dirs → typed partition columns);
        # unpartitioned sources read recursively instead — fs.list
        # adopts files at ANY depth, and a plain directory read can't
        # even infer a schema when every file sits in a subdirectory
        if partition_fields:
            src_schema = spark.read.parquet(source_dir).schema
        else:
            src_schema = (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(source_dir)
                .schema
            )
        missing = [c for c in (key, precombine) if c not in src_schema.fieldNames()]
        if missing:
            raise ValueError(f"bootstrap source lacks required column(s) {missing}")
        pf = list(partition_fields or [])
        if pf:
            bad = [c for c in pf if c not in src_schema.fieldNames()]
            if bad:
                raise ValueError(
                    f"partition field(s) {bad} not discovered in the "
                    f"source layout under {source_dir}"
                )
            overlap = [c for c in (key, precombine) if c in pf]
            if overlap:
                raise ValueError(
                    f"key/precombine column(s) {overlap} cannot be "
                    "partition fields in a bootstrapped table: partition "
                    "values live only in directory names, and the "
                    "bootstrap stats pass reads file footers"
                )
        t = cls.create(
            spark,
            path,
            key=key,
            precombine=precombine,
            table_name=table_name,
            max_records_per_file=max_records_per_file,
            partition_fields=pf or None,
        )
        commit = t._next_commit()
        stats = t._collect_stats(files, src_schema, [key, precombine])
        entries = []
        for p in files:
            entry = {
                "path": p,
                "external": True,
                **stats.get(p, {"rows": None, "stats": {}}),
            }
            if pf:
                from urllib.parse import unquote

                entry["partition"] = {}
                rel_file = p[len(src_root):].lstrip("/")
                for seg in rel_file.split("/")[:-1]:
                    if "=" not in seg:
                        continue
                    c, v = seg.split("=", 1)
                    if c not in pf:
                        continue
                    raw = unquote(v)
                    entry["partition"][c] = (
                        None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                    )
                    pv = _parse_partition_value(c, v, src_schema)
                    if pv is not None:
                        entry["stats"][c] = [pv, pv]
                if set(entry["partition"]) != set(pf):
                    raise ValueError(
                        f"source file {p} does not carry the declared "
                        f"partition fields {pf} in its path segments — "
                        "the bootstrap source must be a uniform "
                        "hive-style layout"
                    )
            entries.append(entry)
        schema = StructType(
            [*src_schema.fields, StructField(META_COL, StringType(), True)]
        )
        t.meta["bootstrap_commit"] = commit
        t.meta["bootstrap_source"] = src_root
        # count+hash of the adopted listing: read_stream's external
        # branch probes this before gloming the source (r13 verdict —
        # the read-only contract was doc-level only)
        t.meta["bootstrap_fingerprint"] = _bootstrap_fingerprint(
            files, src_fs
        )
        write_json(posixpath.join(path.rstrip("/"), "_table.json"), t.meta)
        t._publish(commit, "bootstrap", entries, [], schema)
        return t

    @classmethod
    def shallow_clone(
        cls,
        spark: SparkSession,
        path: str,
        source: "Table",
        table_name: str | None = None,
        max_records_per_file: int | None = None,
    ) -> "Table":
        """Zero-copy table CLONE (the Delta ``SHALLOW CLONE`` shape,
        re-expressed over the engine's bootstrap kernel): a new,
        INDEPENDENT table whose first commit adopts the source's
        current live files in place — external entries with the
        source's own per-file stats copied verbatim, zero bytes moved.
        At 100 TB this turns "give me a dev copy of prod" from a
        day-long rewrite into a metadata commit.

        Divergence is the bootstrap contract: an upsert whose keys hit
        an adopted file rewrites only the AFFECTED rows into
        clone-managed files and retires the external from the clone's
        live set; the SOURCE is never touched (its cleaner also never
        deletes the shared files for readers of the source — externals
        are not clone-owned, and the source still owns them). Cloned
        rows keep their source ``_commit_time`` values (the bytes are
        the source's files — provenance-preserving); commit ids are
        per-table counters, so the clone's timeline is SEEDED above the
        pinned source commit — every adopted stamp sorts strictly
        before the clone commit, the clone's incremental feeds start
        EMPTY and grow only with post-clone commits, and snapshot/
        time-travel over the clone's own timeline work from the clone
        commit forward. Behavioral config carries over (constraints,
        pre-commit validators, tombstone retention, index config) —
        index PAYLOADS do not; they rebuild lazily on the clone.

        v1 scope, all fail-loud: COW, unpartitioned, never-renamed
        sources whose live set is fully managed (no chained clones /
        bootstraps — an adopted-of-adopted file would need the
        SOURCE's meta-coalesce context the clone doesn't carry).
        ``read_stream`` over a clone streams post-clone commits only
        (the adopted files predate every stream start by construction;
        unlike a raw-dir bootstrap there is no source glob to guard).

        One caveat the docstring owes the operator: the clone pins
        BYTES, not the source's retention policy — a source
        ``clean()`` can physically delete a file the clone still
        references once it ages out of the SOURCE's window (the same
        hazard as Delta shallow clones; Hudi has no clone at all).
        Freeze the source's cleaner for cloned-from commits (savepoint
        the clone-time commit on the source) or ``compact()`` the
        clone to migrate externals into clone-owned files.
        """
        # pin ONE source state: schema and live set must come from the
        # same commit, or a concurrent source writer between the two
        # reads hands the clone a mixed schema/file view (r14 review)
        pin = source.latest_commit()
        if pin is None:
            raise ValueError("cannot clone a table with no commits yet")
        src_schema = source._schema(as_of=pin)
        if src_schema is None:
            raise ValueError("cannot clone a table with no commits yet")
        if source.table_type != "cow":
            raise ValueError(
                "shallow_clone v1 supports COW sources only (a MOR live "
                "set mixes base and delta roles the clone's merge view "
                "would misread)"
            )
        if source.meta.get("partition_fields"):
            raise ValueError(
                "shallow_clone v1 supports unpartitioned sources only "
                "(external partitioned scans assume ONE hive basePath; "
                "a source's live set spans many commit dirs)"
            )
        if source.meta.get("has_renames"):
            raise ValueError(
                "shallow_clone v1 refuses renamed sources: adopted "
                "files carry pre-rename physical column names the "
                "clone's manifests could not vintage-resolve"
            )
        entries = source.current_files(as_of=pin)
        if any(e.get("external") for e in entries):
            raise ValueError(
                "shallow_clone v1 refuses sources with external live "
                "files (chained clone/bootstrap would need the source's "
                "meta-coalesce context); compact() the source first"
            )
        t = cls.create(
            spark,
            path,
            key=source.key,
            precombine=source.precombine,
            table_name=table_name,
            max_records_per_file=source.meta.get(
                "max_records_per_file", 0
            )
            if max_records_per_file is None
            else max_records_per_file,
        )
        # a dev copy of prod must BEHAVE like prod: constraints,
        # pre-commit validators, tombstone retention, and index config
        # carry over (r14 review — silently dropping them would let the
        # clone commit rows prod quarantines). auto_index is validated
        # config, copied verbatim; payloads are NOT copied (indexes
        # rebuild lazily on the clone, the staleness contract).
        for k in (
            "constraints",
            "pre_commit_validators",
            "cdc_tombstone_hours",
            "index_type",
            "bucket_count",
            "auto_index",
        ):
            if source.meta.get(k):
                t.meta[k] = source.meta[k]
        # commit ids are per-table COUNTERS and adopted bytes carry the
        # SOURCE's counter stamps — a clone timeline restarting at 1
        # would make source stamps > the clone commit read as phantom
        # post-clone changes in incremental() (r14 review). Seed the
        # clone's timeline ABOVE the pinned source commit so every
        # adopted stamp sorts strictly before the clone commit.
        commit = f"{int(pin) + 1:020d}"
        new_entries = [
            {**e, "path": source._abs(e["path"]), "external": True}
            for e in entries
        ]
        t.meta["clone_source"] = source.path.rstrip("/")
        # bootstrap_commit backs the scan-path meta coalesce; adopted
        # engine files carry real _commit_time bytes, so it only ever
        # fills a hypothetical null — set for contract symmetry. NOT
        # bootstrap_source: there is no raw source glob to stream or
        # fingerprint-guard.
        t.meta["bootstrap_commit"] = commit
        write_json(posixpath.join(path.rstrip("/"), "_table.json"), t.meta)
        t._publish(commit, "shallow_clone", new_entries, [], src_schema)
        return t

    @property
    def key(self) -> str:
        return self.meta["record_key"]

    @property
    def precombine(self) -> str:
        return self.meta["precombine"]

    @property
    def table_type(self) -> str:
        return self.meta.get("table_type", "cow")

    # -- timeline ------------------------------------------------------

    def _commits_dir(self) -> str:
        return posixpath.join(self.path, "_commits")

    def commits(self, include_archived: bool = False) -> list[str]:
        """ACTIVE commit ids, ascending (zero-padded strings; lexical ==
        numeric). The active timeline stays bounded because
        :meth:`TableServices.archive_timeline` folds old manifests into
        consolidated archive files; pass ``include_archived=True`` for
        the full history (audit, deep time travel, cleaner replay) at
        the cost of one extra read per archive batch."""
        out = set()
        for p in self.fs.list(self._commits_dir()):
            name = posixpath.basename(p)
            if name.endswith(".json") and not name.startswith("_"):
                out.add(name[: -len(".json")])
        if include_archived:
            out.update(self._archived_manifests())
        return sorted(out)

    def _archive_dir(self) -> str:
        return posixpath.join(self.path, "_archive")

    def _archived_manifests(self) -> dict[str, dict]:
        """Merged commit→manifest map from every archive batch file."""
        out: dict[str, dict] = {}
        for p in sorted(self.fs.list(self._archive_dir())):
            if p.endswith(".json"):
                out.update(read_json(p)["manifests"])
        return out

    def _checkpoints(self) -> list[str]:
        """Commit ids that carry a live-set checkpoint, ascending."""
        out = []
        for p in self.fs.list(self._commits_dir()):
            name = posixpath.basename(p)
            if name.startswith("_checkpoint_") and name.endswith(".json"):
                out.append(name[len("_checkpoint_") : -len(".json")])
        return sorted(out)

    def _checkpoint_path(self, commit: str) -> str:
        return posixpath.join(self._commits_dir(), f"_checkpoint_{commit}.json")

    def latest_commit(self) -> str | None:
        c = self.commits()
        return c[-1] if c else None

    def commit_at_timestamp(self, ts: str) -> str:
        """Resolve a wall-clock instant to the newest commit published at
        or before it (Delta's ``timestampAsOf`` / Hudi's ``as.of.instant``
        resolution): callers pass an ISO-8601 UTC string matching the
        manifests' ``ts`` field; ``snapshot(as_of=commit_at_timestamp(t))``
        is timestamp time travel.

        Raises ``ValueError`` when ``ts`` predates the FIRST commit —
        like Delta's ``timestampAsOf``. Returning a sentinel here would
        be a correctness trap: ``snapshot(as_of=None)`` means LATEST, so
        the documented composition would silently read the newest state,
        the opposite of what the caller asked for (r5 advice).

        O(active timeline) manifest-header reads in the common case;
        archive batches are loaded only when no ACTIVE commit is old
        enough (deep time travel past the archive horizon).

        The comparison is lexical against the manifests'
        ``YYYY-MM-DDTHH:MM:SS...`` strings, so the standard SQL
        spelling with a space separator is normalized to ``T`` first —
        without that, ``' ' < 'T'`` makes every same-day manifest ts
        compare GREATER than the literal and the resolution silently
        lands on the previous day's last commit."""
        if len(ts) > 10 and ts[10] == " ":
            ts = ts[:10] + "T" + ts[11:]
        best: str | None = None
        for c in self.commits():
            m = self._manifest(c)
            if (m.get("ts") or "") <= ts and (best is None or c > best):
                best = c
        if best is None:
            # target predates the active window → consult the archives
            arch = self._archived_manifests()
            for c in sorted(arch):
                if (arch[c].get("ts") or "") <= ts and (best is None or c > best):
                    best = c
        if best is None:
            raise ValueError(
                f"no commit at or before {ts!r}: the table's first commit "
                "is newer (Delta timestampAsOf semantics — refusing to "
                "fall through to the latest snapshot)"
            )
        return best

    def _next_commit(self) -> str:
        last = self.latest_commit()
        return f"{(int(last) + 1) if last else 1:020d}"

    def _manifest(self, commit: str) -> dict:
        path = posixpath.join(self._commits_dir(), f"{commit}.json")
        if self.fs.exists(path):
            return read_json(path)
        archived = self._archived_manifests()
        if commit in archived:
            return archived[commit]
        return read_json(path)  # raise the natural not-found error

    def current_files(self, as_of: str | None = None) -> list[dict]:
        """Replay manifests → live file entries (path rel to table root).

        O(tail), not O(commits): load the newest checkpoint ≤ ``as_of``
        (a consolidated live set written every :data:`CHECKPOINT_EVERY`
        commits) and replay only the manifests after it.
        """
        live: dict[str, dict] = {}
        start: str | None = None
        cps = [c for c in self._checkpoints() if as_of is None or c <= as_of]
        if cps:
            start = cps[-1]
            cp = read_json(self._checkpoint_path(start))
            live = {e["path"]: e for e in cp["files"]}
        # archived manifests are only needed when no checkpoint precedes
        # as_of (deep time travel past the archive horizon) — one
        # consolidated read, not O(commits) file opens
        arch = self._archived_manifests() if start is None else {}
        for c in sorted({*self.commits(), *arch}):
            if start is not None and c <= start:
                continue
            if as_of is not None and c > as_of:
                break
            m = arch.get(c) or self._manifest(c)
            for rel in m.get("files_removed", []):
                live.pop(rel, None)
            for entry in m.get("files_added", []):
                live[entry["path"]] = entry
        return [live[k] for k in sorted(live)]

    def _abs(self, rel: str) -> str:
        return posixpath.join(self.path, rel)

    def _schema(self, as_of: str | None = None) -> StructType | None:
        for c in reversed(self.commits()):
            if as_of is not None and c > as_of:
                continue
            m = self._manifest(c)
            if m.get("schema"):
                return StructType.fromJson(m["schema"])
        return None

    def effective_schema(self) -> StructType | None:
        """The schema readers/writers should assume right now: the
        latest MANIFEST schema once anything has committed, else the
        schema a ``CREATE TABLE (col type, ...)`` statement declared
        (``sql_ddl`` stores it in meta) — the one shared fallback for
        every SQL surface that must resolve columns against a table
        that may not have been written yet."""
        schema = self._schema()
        if schema is None and self.meta.get("declared_schema"):
            schema = StructType.fromJson(self.meta["declared_schema"])
        return schema

    # -- reads ---------------------------------------------------------

    def snapshot(
        self,
        filters: dict[str, Any] | None = None,
        as_of: str | None = None,
        where_pred: str | None = None,
    ) -> DataFrame:
        """Latest version of every key (S4). ``filters`` ({col: value} or
        {col: (lo, hi)}) prunes files via manifest stats before the scan —
        the engine's column-stats-index analog (SURVEY §4). ``as_of``
        time-travels to the table state at that commit (MVCC over the
        manifest; readable until the cleaner retires the old files).

        MOR tables merge at read: base ∪ delta files → latest row per key
        (newest commit wins, then max precombine), tombstones filtered.
        File pruning is restricted to key/partition stats on MOR — a
        data-column prune before the merge could pick a stale winner.
        """
        entries = self.current_files(as_of=as_of)
        if filters:
            if self.table_type == "mor":
                allowed = {self.key, *(self.meta.get("partition_fields") or [])}
                filters = {k: v for k, v in filters.items() if k in allowed}
            entries = [e for e in entries if _stats_match(e, filters)]
            kv = filters.get(self.key)
            if kv is not None and not isinstance(
                kv, (tuple, bool, set, frozenset)
            ):
                # bucket point-lookup prune: MOR- and time-travel-safe
                # (a key's bucket is version-invariant); no-op unless
                # the table is bucket-indexed
                entries = self._prune_by_bucket_value(entries, kv)
            if self.table_type != "mor" and as_of is None:
                # equality predicates additionally consult the secondary
                # index (exact containment beats min/max range stats for
                # scattered values); time-traveled reads skip it — the
                # index describes current coverage, not historic states
                for col, v in filters.items():
                    if not isinstance(v, (tuple, set, frozenset)):
                        entries = self._prune_by_secondary_index(
                            entries, col, v
                        )
                        if col == self.key and isinstance(
                            v, (int, str)
                        ) and not isinstance(v, bool):
                            # key-equality point lookup: per-file bloom
                            # membership (guarded to types whose str()
                            # canonicalization matches the build side)
                            entries = self._prune_by_bloom_value(
                                entries, v
                            )
        if (
            where_pred
            and self.table_type != "mor"
            and as_of is None
        ):
            # expression-index pruning (read_where passes the raw
            # predicate): COW + current-state only — MOR must see every
            # version before the merge picks winners, and the index
            # describes current coverage, not historic states
            entries = self._prune_by_expression_index(entries, where_pred)
        df = self._read_entries(entries, as_of=as_of)
        if self.table_type == "mor":
            df = self._merge_view(df)
        return df

    def read_optimized(self, as_of: str | None = None) -> DataFrame:
        """MOR read-optimized view (Hudi's ``_ro`` table): base files
        only, no merge cost — latest COMPACTED state, excluding deltas
        landed since the last compaction. On COW this equals snapshot."""
        entries = [
            e
            for e in self.current_files(as_of=as_of)
            if e.get("kind", "base") != "delta"
        ]
        df = self._read_entries(entries, as_of=as_of)
        if "_deleted" in df.columns:
            df = df.drop("_deleted")
        return df

    def _merge_view(self, df: DataFrame) -> DataFrame:
        """Latest-per-key merge for MOR reads: one hash shuffle on the
        record key (the Q10 window kernel), newest commit wins, ties by
        max precombine; tombstoned keys drop out."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(self.key).orderBy(
            F.desc(META_COL), F.desc(self.precombine)
        )
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if "_deleted" in out.columns:
            out = out.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
                "_deleted"
            )
        return out

    def incremental(self, begin: str | None, end: str | None = None) -> DataFrame:
        """Latest version of every key changed in ``(begin, end]`` (S5) —
        Hudi incremental-query semantics on COW: scan the file set as of
        ``end`` and keep rows with ``_commit_time > begin`` (COW rewrites
        preserve untouched rows' stamps, so old rows fall out of the
        filter). ``begin=None`` reads from the start of the timeline
        (reference bootstrap: ``first_commit - 1``,
        incremental_etl_orders.py:207-215)."""
        entries = self.current_files(as_of=end)
        if begin is not None and self.table_type != "mor":
            # file skipping: a file whose max(_commit_time) <= begin holds
            # no rows in the window (column-stats-index analog). Safe on
            # COW only — the MOR merge below must see every version to
            # pick winners before the window filter.
            entries = [
                e
                for e in entries
                if META_COL not in e.get("stats", {})
                or e["stats"][META_COL][1] > begin
            ]
        df = self._read_entries(entries)
        if self.table_type == "mor":
            # merge first, then window-filter: a key whose WINNING version
            # changed in (begin, end] is emitted once, merged
            df = self._merge_view(df)
        if begin is not None:
            df = df.where(F.col(META_COL) > F.lit(begin))
        return df

    def read(self, query_type: str = "snapshot", **kw) -> DataFrame:
        """Reference-shaped entry: ``hoodie.datasource.query.type`` analog."""
        if query_type == "snapshot":
            return self.snapshot(filters=kw.get("filters"))
        if query_type == "incremental":
            return self.incremental(kw.get("begin"), kw.get("end"))
        if query_type == "cdc":
            return self.changes(kw.get("begin"), kw.get("end"))
        raise ValueError(f"unknown query type: {query_type}")

    def read_where(self, pred: str, as_of: str | None = None) -> DataFrame:
        """Predicate read with MANIFEST file pruning before the scan.

        The SQL read surface (:func:`.catalog_api.attach`,
        SURVEY §1.1's temp-view catalog — the reference's primary query
        interface, ``incremental_etl_orders.py:467-478``) binds the
        FULL snapshot to each view: Catalyst pushes the predicate into
        the parquet scans, but at 10⁵ files the LISTING itself is the
        bottleneck — the files were already named in the plan. This is
        the read-side analog of the upsert envelope
        (:meth:`_prune_by_keys`): extract prunable conjuncts from
        ``pred``, drop files whose manifest stats can't satisfy them,
        and only then build the scan — a selective key/partition read
        touches a handful of files out of 10⁵ before Spark lists
        anything.

        Extraction is best-effort and FAIL-CLOSED: only top-level
        conjuncts of the form ``col <op> literal`` (``= == < <= > >=``,
        int/float/string/bool literals, unqualified column names) are
        consulted; anything else — top-level OR, parenthesized groups,
        function calls, ``BETWEEN``/``IN``/``IS NULL``, date/timestamp
        literals, type mismatches — contributes no pruning and falls
        through to the exact ``where`` below. Strict ``<``/``>`` prune
        with the inclusive bound (stats are min/max — conservative).
        Files without stats for a named column are always kept, and
        MOR pruning is restricted to key/partition stats by
        :meth:`snapshot` (a data-column prune before the merge could
        pick a stale winner). The full predicate is then applied
        exactly, so the result equals ``snapshot().where(pred)`` on
        every input.
        """
        filters = _filters_from_predicate(pred, self._schema(as_of=as_of))
        return self.snapshot(
            filters=filters or None, as_of=as_of, where_pred=pred
        ).where(pred)

    def changes(self, begin: str | None, end: str | None = None) -> DataFrame:
        """CDC view over ``(begin, end]`` (Hudi cdc query type): one row
        per key whose latest version changed, with ``_change_type`` in
        {insert, update, delete} and the key's NEW column values (null
        for deletes). Computed as a keyed full-outer diff of the two
        MVCC snapshots — pure manifest replay + one join, no change log
        to maintain; the join shuffles only the two snapshots' key sets.
        """
        return self._cdc_diff(begin, end, before_images=False)

    def changes_full(self, begin: str | None, end: str | None = None) -> DataFrame:
        """CDC with BEFORE and AFTER images (the Hudi cdc query with
        ``hoodie.table.cdc.supplemental.logging.mode=data_before_after``):
        one row per changed key carrying ``_change_type``, the new column
        values, and every data column's prior value as ``<col>_before``
        (null for inserts; after-image null for deletes).

        Same cost envelope as :meth:`changes` — a keyed full-outer diff
        of two MVCC snapshots, no change log maintained on the write
        path (the before image comes from the old snapshot, which the
        manifest still serves until the cleaner retires it).
        """
        return self._cdc_diff(begin, end, before_images=True)

    def _cdc_diff(
        self, begin: str | None, end: str | None, before_images: bool
    ) -> DataFrame:
        """The keyed full-outer diff behind :meth:`changes` and
        :meth:`changes_full`; ``before_images`` carries each non-key
        data column's value at ``begin`` as ``<col>_before``."""
        new = self.snapshot(as_of=end)
        before = (
            [c for c in new.columns if c not in (META_COL, self.key)]
            if before_images
            else []
        )
        if begin is None:
            types = dict(new.dtypes)
            return new.select(
                *[new[c] for c in new.columns],
                *[F.lit(None).cast(types[c]).alias(f"{c}_before") for c in before],
                F.lit("insert").alias("_change_type"),
            )
        old = self.snapshot(as_of=begin).select(
            F.col(self.key).alias("_old_key"),
            F.col(META_COL).alias("_old_commit"),
            *[F.col(c).alias(f"{c}_before") for c in before],
        )
        joined = new.join(old, new[self.key] == old["_old_key"], "full_outer")
        change = (
            F.when(F.col("_old_key").isNull(), F.lit("insert"))
            .when(new[self.key].isNull(), F.lit("delete"))
            .when(F.col(META_COL) != F.col("_old_commit"), F.lit("update"))
        )
        out_cols = [
            F.coalesce(new[self.key], F.col("_old_key")).alias(self.key)
            if c == self.key
            else new[c].alias(c)
            for c in new.columns
        ] + [F.col(f"{c}_before") for c in before]
        return (
            joined.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type")
        )

    def _read_entries(
        self,
        entries: list[dict],
        as_of: str | None = None,
        with_file: bool = False,
    ) -> DataFrame:
        schema = self._schema(as_of=as_of)
        if (
            schema is not None
            and self.table_type == "mor"
            and "_deleted" not in schema.fieldNames()
        ):
            # tombstone deltas carry a _deleted flag other commits' schemas
            # don't know about — widen the read schema so merge sees it
            # (non-tombstone files surface it as null)
            from pyspark.sql.types import BooleanType, StructField

            schema = StructType(
                [*schema.fields, StructField("_deleted", BooleanType(), True)]
            )
        if not entries:
            if schema is None:
                raise ValueError(f"table at {self.path} has no commits yet")
            return self.spark.createDataFrame([], schema)
        # Manifest schema = latest committed schema; files written before
        # a column was added surface it as null (Hudi-style evolution-on-
        # append) without a mergeSchema footer sweep. Renamed tables
        # additionally group files by NAME VINTAGE (see _vintage_mapping):
        # a file written before a RENAME carries the old physical column
        # name, so its group scans under the old name and aliases back —
        # identity-mapped groups take the plain fast path.
        #
        # Scan groups differ only in their basePath. Unpartitioned
        # managed files scan from the data/ root: one relation, one
        # listing, for never-renamed tables. Hive-style layout puts
        # partition columns in directory names
        # (data/<commit>/col=val/part-*.parquet), and Spark's partition
        # discovery needs a basePath from which every segment down to
        # the files is col=val — the commit dir — so partitioned files
        # scan per commit dir (bounded by the live commits; compaction
        # collapses it to 1). Name vintages align with commit dirs, so
        # renames add no branch there. External (bootstrapped) files
        # live OUTSIDE the table root and scan as their own groups:
        # without a basePath, or from the bootstrap source root when the
        # source is partitioned (its own hive dirs carry the partition
        # columns). Their missing meta column surfaces as null, which
        # the coalesce below stamps with the bootstrap commit.
        vmaps = self._vintage_mappings(entries, schema, as_of)
        ext = [e for e in entries if e.get("external")]
        managed = [e for e in entries if not e.get("external")]
        if self.meta.get("partition_fields"):
            by_commit: dict[str, list[dict]] = {}
            for e in managed:
                commit_dir = "/".join(e["path"].split("/")[:2])
                by_commit.setdefault(commit_dir, []).append(e)
            groups = [(self._abs(d), by_commit[d]) for d in sorted(by_commit)]
            groups.append((self.meta.get("bootstrap_source"), ext))
        else:
            groups = [(posixpath.join(self.path, "data"), managed), (None, ext)]
        df = None
        for base, group in groups:
            for group_entries, mapping in self._group_by_mapping(group, vmaps):
                part = self._scan_entry_group(
                    group_entries, base, schema, with_file, mapping
                )
                df = part if df is None else df.unionByName(part)
        bc = self.meta.get("bootstrap_commit")
        if ext and bc and schema is not None and META_COL in schema.fieldNames():
            df = df.withColumn(META_COL, F.coalesce(F.col(META_COL), F.lit(bc)))
        return df

    # -- rename-aware scan plumbing (Iceberg-style field identity) ------

    def _field_ids(self, as_of: str | None = None) -> dict[str, str] | None:
        """Cumulative ``{current column name -> stable field id}`` as of
        ``as_of`` (latest when None) — the engine's Iceberg-field-id
        analog that makes RENAME COLUMN metadata-only. Manifests written
        before the table's first rename carry no ``field_ids`` key, so
        identity-by-name is synthesized from their schema (a column's
        original name IS its id). Same walk shape as :meth:`_schema`,
        with an archive fallback for deep-vintage lookups."""

        def newest_first():
            yield from ((c, self._manifest) for c in reversed(self.commits()))
            # the archive opens only when no live manifest answered
            arch = self._archived_manifests()
            yield from ((c, arch.get) for c in sorted(arch, reverse=True))

        for c, manifest in newest_first():
            if as_of is not None and c > as_of:
                continue
            m = manifest(c)
            if m.get("schema"):
                ids = m.get("field_ids")
                if ids is not None:
                    return dict(ids)
                return {
                    f["name"]: f["name"] for f in m["schema"]["fields"]
                }
        return None

    def _field_ids_used(self) -> set[str]:
        """Every field id EVER allocated, cumulative across drops — the
        allocation blacklist for fresh ids (a retired id may still name
        physical bytes in live or time-travelable files). Falls back to
        the live map's keys∪values for manifests written before the
        key existed (those tables allocated ids == original names)."""
        for c in reversed(self.commits()):
            m = self._manifest(c)
            if m.get("field_ids_used") is not None:
                return set(m["field_ids_used"])
            if m.get("schema"):
                ids = m.get("field_ids")
                if ids is not None:
                    return set(ids.values()) | set(ids.keys())
                return {f["name"] for f in m["schema"]["fields"]}
        return set()

    def _vintage_mappings(
        self,
        entries: list[dict],
        schema: StructType | None,
        as_of: str | None,
    ) -> dict[str, dict[str, str | None]] | None:
        """Per-vintage ``{current name -> physical name in the file}``
        maps for every distinct commit vintage in ``entries`` — None
        (zero cost) unless the table has ever renamed a column. A
        current column absent at a vintage maps to None (surfaced as a
        typed null — same contract as evolution-on-append). O(distinct
        vintages) manifest-header reads, only on renamed tables."""
        if not self.meta.get("has_renames") or schema is None:
            return None
        cur_ids = self._field_ids(as_of=as_of)
        if cur_ids is None:
            return None
        out: dict[str, dict[str, str | None]] = {}
        for e in entries:
            v = self._entry_vintage(e)
            if v is None or v in out:
                continue
            vin = self._field_ids(as_of=v)
            if vin is None:
                # pre-schema vintage (unreachable for a data file) —
                # identity keeps the old single-schema behavior
                out[v] = {n: n for n in cur_ids}
                continue
            inv = {i: n for n, i in vin.items()}
            out[v] = {cur: inv.get(i) for cur, i in cur_ids.items()}
        return out

    def _entry_vintage(self, e: dict) -> str | None:
        """The commit whose schema a file was written under: encoded in
        the managed layout (``data/<commit>/...``); external bootstrap
        files were adopted as-is at the bootstrap commit."""
        if e.get("external"):
            return self.meta.get("bootstrap_commit")
        parts = e["path"].split("/")
        return parts[1] if len(parts) > 1 else None

    def _mapping_scan_parts(
        self,
        schema: StructType,
        mapping: dict[str, str | None],
    ) -> tuple[StructType, list]:
        """The two halves of a physical-name vintage scan, shared by the
        batch (:meth:`_scan_entry_group`) and streaming
        (:meth:`read_stream`) paths: the PHYSICAL read schema (columns
        absent at the vintage omitted — never read physically: a
        re-added name must not resurrect old bytes) and the projection
        aliasing back to current names (absent columns as typed
        nulls)."""
        from pyspark.sql.types import StructField

        phys = StructType(
            [
                StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
                if mapping.get(f.name, f.name) is not None
            ]
        )
        cols = []
        for f in schema.fields:
            pname = mapping.get(f.name, f.name)
            if pname is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(pname).alias(f.name))
        return phys, cols

    def _scan_entry_group(
        self,
        entries: list[dict],
        base: str | None,
        schema: StructType | None,
        with_file: bool,
        mapping: dict[str, str | None] | None,
    ) -> DataFrame:
        """One pruned parquet scan over the files of ``entries``, built
        from the manifest by :func:`_manifest_scan`: each entry's
        ``size`` and ``mtime`` (recorded by the stats pass, see
        :meth:`_collect_stats`) become the file's ``FileStatus``, so the
        scan makes no storage call. An entry without them (manifests
        written before they were recorded, files whose footer could not
        be read) is stat'ed once (:meth:`_entry_status`).

        With a non-identity ``mapping`` (files written before a rename)
        the scan schema uses the PHYSICAL names and a projection aliases
        back to current names — Catalyst pushes later filters through
        the aliases, so pushdown/pruning are unchanged. Fields absent at
        the vintage become typed nulls AFTER the scan (never read
        physically: a re-added name must not resurrect old bytes)."""
        identity = mapping is None or all(
            mapping.get(f.name, f.name) == f.name for f in (schema.fields if schema else ())
        )
        scan_schema = schema
        if not identity:
            scan_schema, alias_cols = self._mapping_scan_parts(schema, mapping)
        files = [self._entry_status(e) for e in entries]
        df = _manifest_scan(self.spark, files, base, scan_schema)
        if with_file:
            # _metadata resolves on the scan relation, not through a
            # Union — attach per branch
            df = df.withColumn(
                "_file", _norm_file_path(F.col("_metadata.file_path"))
            )
        if not identity:
            cols = list(alias_cols)
            if with_file:
                cols.append(F.col("_file"))
            df = df.select(*cols)
        return df

    def _entry_status(self, e: dict) -> tuple[str, int, int]:
        """``(absolute path, bytes, mtime in epoch ms)`` of a manifest
        entry: its recorded ``size`` and ``mtime``, or one stat through
        ``self.fs`` for an entry written before they were recorded."""
        path = e["path"] if e.get("external") else self._abs(e["path"])
        status = (e.get("size"), e.get("mtime"))
        if None in status:
            status = self.fs.status(path)
            if status is None:
                raise FileNotFoundError(f"live file {path} is missing")
        return (path, *status)

    def _group_by_mapping(
        self,
        entries: list[dict],
        vmaps: dict[str, dict[str, str | None]] | None,
    ) -> list[tuple[list[dict], dict[str, str | None] | None]]:
        """Partition ``entries`` into scan groups sharing one physical-
        name mapping (exactly one group — today's single relation — for
        never-renamed tables; ≤ #renames + 1 groups after)."""
        if not entries:
            return []
        if vmaps is None:
            return [(entries, None)]
        by_sig: dict[tuple, tuple[dict[str, str | None] | None, list[dict]]] = {}
        for e in entries:
            v = self._entry_vintage(e)
            mp = vmaps.get(v) if v is not None else None
            sig = tuple(sorted(mp.items())) if mp is not None else ()
            if sig not in by_sig:
                by_sig[sig] = (mp, [])
            by_sig[sig][1].append(e)
        return [(group, mp) for mp, group in by_sig.values()]

    def files_df(self, as_of: str | None = None) -> DataFrame:
        """The live file set as a DataFrame (Iceberg ``table.files`` /
        Delta detail analog): path, kind, rows, partition values, and
        per-column min/max stats flattened to JSON — metadata-only
        observability for debugging pruning and sizing decisions."""
        import json as _json

        rows = [
            (
                e["path"],
                e.get("kind", "base"),
                e.get("rows"),
                _json.dumps(e.get("partition")) if e.get("partition") else None,
                _json.dumps(e.get("stats") or {}, sort_keys=True),
                bool(e.get("external")),
            )
            for e in self.current_files(as_of=as_of)
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, kind string, rows long, partition string, "
            "stats string, external boolean",
        )

    def history_df(self) -> DataFrame:
        """The commit timeline as a DataFrame (Delta DESCRIBE HISTORY
        analog): commit id, action, wall-clock ts, files added/removed,
        plus per-commit outcome metadata — the streaming ``batch_id``
        stamped by a foreachBatch writer (replay guard), the pre-commit
        validators that passed (stamped into the manifest before the
        atomic create), and the auto-indexes maintained after publish
        (from the ``_idxlog_`` sidecars) — driver-side manifest headers
        only, no data reads."""
        idxlogs: dict[str, list[str]] = {}
        for p in self.fs.list(self._commits_dir()):
            name = posixpath.basename(p)
            if name.startswith("_idxlog_") and name.endswith(".json"):
                c = name[len("_idxlog_") : -len(".json")]
                idxlogs[c] = read_json(p).get("auto_indexed") or []
        rows = []
        for c in self.commits(include_archived=True):
            m = self._manifest(c)
            vp = m.get("validators_passed")
            ai = idxlogs.get(c)
            rows.append(
                (
                    c,
                    m.get("action"),
                    m.get("ts"),
                    len(m.get("files_added") or []),
                    len(m.get("files_removed") or []),
                    m.get("batch_id"),
                    ",".join(vp) if vp else None,
                    ",".join(ai) if ai else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "commit string, action string, ts string, "
            "n_files_added long, n_files_removed long, "
            "batch_id string, validators_passed string, "
            "auto_indexed string",
        )

    def is_empty(self) -> bool:
        return not self.current_files()

    def read_stream(self, **reader_options) -> DataFrame:
        """Structured-Streaming flavor of the incremental scan (SURVEY
        §3.3): a file-source stream over the commit-partitioned data
        layout — each new commit's files are discovered as they land, and
        the stream's own ``checkpointLocation`` replaces the explicit
        JSON checkpoint of the batch reader.

        Exact for append-only tables (insert/bulk_insert). For upsert
        (COW) tables the feed is CDC-like: rewrites re-emit surviving
        rows; consumers dedup downstream on (key, max ``_commit_time``) —
        the same window kernel as Q10.

        Partitioned tables (r12): a file-source stream cannot run hive
        partition discovery (it needs one basePath per commit dir, and
        its own directory inference asserts against the multi-commit
        layout), so the stream disables inference
        (``recursiveFileLookup``) and reconstitutes each partition
        column as COALESCE(file bytes, ``col=val`` path segment) — the
        path parse mirrors Spark's discovery (hive default-partition
        sentinel → null, %-escapes decoded, declared-type cast,
        anchored to the table's own commit-dir layout so a look-alike
        segment in the table's root path cannot shadow it), and the
        file-bytes leg keeps rows written before a partition-spec
        evolution exact (they carry the column physically, with no
        dir). File-granular, zero extra I/O.

        Renamed tables stream across the rename (r12): live files
        written before a RENAME carry the old physical column name, so
        the source becomes a union of one stream per NAME VINTAGE —
        the stale vintages scan their fixed commit dirs under the
        physical schema and alias back (the batch
        :meth:`_scan_entry_group` contract), while the current+future
        stream keeps the open ``data/*`` glob with the stale commit
        dirs filtered out by a ``_metadata.file_path`` vintage
        predicate (evaluated at file granularity). ``compact()`` is
        still the zero-extra-branch path — it migrates files to
        current names and collapses the union.

        ``reader_options`` apply PER BRANCH, but integer file-count
        rate limits DIVIDE across branches (r14, lifting the r13
        documented-only contract): on a renamed/bootstrapped table the
        source is a union of one file stream per name vintage (plus
        the external branch), Spark evaluates rate-limit options
        independently in each, so ``maxFilesPerTrigger=N`` is split
        ``max(1, N // branches)`` per branch — the caller's N stays
        the whole-table micro-batch bound. With ``N < branches`` the
        effective bound is ``branches`` (Spark rejects 0); other
        options pass through per branch unchanged. ``compact()``
        collapses the union back to one branch.
        """
        import re as _re

        schema = self._schema()
        if schema is None:
            raise ValueError(f"table at {self.path} has no commits yet")
        pf = list(self.meta.get("partition_fields") or [])
        pfset = set(pf)
        # the table-relative part of each file path, anchored on the
        # COMMIT-DIR pattern (/data/<20-digit id>[-hash]/) rather than
        # a bare '/data/' — a table root ending in .../data (or
        # containing col=val segments) must not shadow the table's own
        # layout (r12 review: '/data/data/' overlap defeated a split,
        # and a root '/st=prod/' segment shadowed the partition parse)
        _commit_pat = "/data/([0-9]{20}[^/]*)/"
        _file_path = F.col("_metadata.file_path")
        rel = F.regexp_extract(_file_path, "/data/[0-9]{20}[^/]*/(.*)$", 1)
        stale_maps: dict[str, dict[str, str | None]] = {}
        if self.meta.get("has_renames"):
            vmaps = self._vintage_mappings(
                self.current_files(), schema, None
            )
            # a vintage is stale only when a column's PHYSICAL name is
            # present and differs from the current name — a None entry
            # means the column was ADDED after that vintage, and
            # evolution-on-append (typed nulls) is the documented
            # contract there, same as the batch path
            stale_maps = {
                v: mp
                for v, mp in (vmaps or {}).items()
                if any(mp.get(n, n) not in (n, None) for n in (mp or {}))
            }
        # union-branch count, known up front: the open current stream,
        # one branch per distinct stale-vintage mapping signature, and
        # the external bootstrap branch — so integer file-count rate
        # limits can DIVIDE across branches (r13 advice / r14): Spark
        # evaluates maxFilesPerTrigger independently per file stream,
        # so an undivided N would admit branches × N files per
        # micro-batch
        _has_ext = bool(
            self.meta.get("bootstrap_source")
            and self.meta.get("bootstrap_commit")
        )
        _bc = self.meta.get("bootstrap_commit")
        nbranches = (
            1
            + len(
                {
                    tuple(sorted(mp.items()))
                    for v, mp in stale_maps.items()
                    if not (_has_ext and v == _bc)
                }
            )
            + (1 if _has_ext else 0)
        )

        def _reader(read_schema: StructType, recursive: bool):
            r = self.spark.readStream.schema(read_schema)
            if recursive:
                # hive layout: partition values live in dir names, not
                # file bytes — recursive lookup stops the source's own
                # partition inference (which asserts on the commit-dir
                # prefix); the columns are parsed from the path below.
                # The EXTERNAL bootstrap branch forces this too: the
                # batch bootstrap adopts files at ANY depth under the
                # source root (fs.list is recursive), so a depth-1 glob
                # would silently stream a subset (r13 review finding)
                r = r.option("recursiveFileLookup", "true")
            for k, v in reader_options.items():
                # e.g. maxFilesPerTrigger=1 to bound micro-batch size.
                # File-count limits split across the union branches
                # (floor, min 1 — Spark rejects 0) so the caller's N
                # stays the whole-table bound; with N < branches the
                # effective bound is `branches`, the tightest the
                # source supports
                if (
                    str(k).lower() == "maxfilespertrigger"
                    and nbranches > 1
                ):
                    v = max(1, int(v) // nbranches)
                r = r.option(k, v)
            return r

        def _pcol(f: StructField, from_file, rel_expr=None):
            # anchored to the table-relative path (or, for the external
            # bootstrap branch, the source-relative path); coalesced
            # with the column's FILE bytes — files written before a
            # partition-spec evolution carry the value physically with
            # no col=val dir (the batch path's documented contract)
            raw = F.regexp_extract(
                rel if rel_expr is None else rel_expr,
                "(?:^|/)" + _re.escape(f.name) + "=([^/]+)/",
                1,
            )
            parsed = (
                F.when(raw == "", F.lit(None))
                .when(raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None))
                .otherwise(
                    F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))
                )
                .cast(f.dataType)
            )
            return F.coalesce(from_file, parsed).alias(f.name)

        def _branch(glob: str, mapping, rel_expr=None, recursive=None):
            # full schema read: hive-layout files surface partition
            # columns as typed nulls (no inference under recursive
            # lookup), pre-spec-evolution files surface real bytes
            if mapping is None:
                rs = schema
                alias = [F.col(f.name) for f in schema.fields]
            else:
                rs, alias = self._mapping_scan_parts(schema, mapping)
            by_name = dict(zip((f.name for f in schema.fields), alias))
            cols = [
                _pcol(f, by_name[f.name], rel_expr)
                if f.name in pfset
                else by_name[f.name]
                for f in schema.fields
            ]
            rec = bool(pf) if recursive is None else recursive
            return _reader(rs, rec).parquet(glob), cols

        # external (bootstrapped) files form the bootstrap commit's own
        # vintage branch over the SOURCE glob (r13, lifting the v1
        # "externals predate the stream" restriction): their partition
        # columns parse against the source root (no commit-dir anchor),
        # and the missing meta column coalesces to the bootstrap commit
        # like the batch path. Tables bootstrapped pre-r13 lack the
        # recorded source root and keep the v1 behavior.
        bsrc = self.meta.get("bootstrap_source")
        bc = self.meta.get("bootstrap_commit")
        ext_branch = None
        if bsrc and bc:
            # stream-start probe of the read-only-source contract (r13
            # verdict): the file stream globs the source dir, so a file
            # dropped there after bootstrap would silently stream as
            # table data. Fail loud when the listing differs from the
            # adopted fingerprint. Engine activity never trips this —
            # upserts retire externals logically, never delete them.
            # Files added while a stream is RUNNING remain doc-level
            # (a glob source discovers them without re-probing).
            # Pre-fingerprint bootstraps keep the documented contract.
            fp = self.meta.get("bootstrap_fingerprint")
            if fp:
                probe_fs = fs_for(bsrc)
                now = _bootstrap_fingerprint(
                    _bootstrap_listing(probe_fs, bsrc), probe_fs
                )
                if now != fp:
                    raise ValueError(
                        f"bootstrap source {bsrc} changed since "
                        f"bootstrap ({now['count']} parquet files vs "
                        f"{fp['count']} adopted): the source is adopted "
                        "READ-ONLY — files added to it are not table "
                        "data, and a file stream's glob cannot exclude "
                        "them. Write new data through the table."
                    )
            ext_map = stale_maps.pop(bc, None)
            ext_rel = F.regexp_extract(
                _file_path,
                _re.escape(bsrc.split("://")[-1].rstrip("/")) + "/(.*)$",
                1,
            )
            ext_glob = (
                bsrc
                if bsrc.endswith(".parquet")
                else posixpath.join(bsrc, "*")
            )
            ext_df, ext_cols = _branch(
                ext_glob, ext_map, ext_rel,
                recursive=not bsrc.endswith(".parquet"),
            )
            ext_branch = ext_df.select(*ext_cols)
            if META_COL in schema.fieldNames():
                ext_branch = ext_branch.withColumn(
                    META_COL, F.coalesce(F.col(META_COL), F.lit(bc))
                )

        open_glob = posixpath.join(self.path, "data", "*")
        current, cur_cols = _branch(open_glob, None)
        if not stale_maps and ext_branch is None:
            if not pf:
                return current  # plain single-source stream, unchanged
            return current.select(*cur_cols)
        if not stale_maps:
            return current.select(*cur_cols).unionByName(ext_branch)
        # exclude the fixed stale commit dirs from the open stream (a
        # bounded isin over the pre-rename vintages; new commits always
        # write current names and pass through). Anchored on the
        # commit-dir pattern, like `rel` above
        vint = F.regexp_extract(_file_path, _commit_pat, 1)
        out = current.where(~vint.isin(sorted(stale_maps))).select(*cur_cols)
        # one extra stream per distinct physical-name mapping, over an
        # immutable brace glob of its commit dirs — ≤ #renames branches.
        # repr key: a signature may hold None physical names (column
        # added after the vintage) and tuple comparison of None vs str
        # throws — order only needs to be deterministic
        by_sig: dict[tuple, list[str]] = {}
        sig_map: dict[tuple, dict[str, str | None]] = {}
        for v, mp in stale_maps.items():
            sig = tuple(sorted(mp.items()))
            by_sig.setdefault(sig, []).append(v)
            sig_map[sig] = mp
        for sig in sorted(by_sig, key=repr):
            mp, vints = sig_map[sig], by_sig[sig]
            glob = posixpath.join(
                self.path, "data", "{" + ",".join(sorted(vints)) + "}"
            )
            branch_df, branch_cols = _branch(glob, mp)
            out = out.unionByName(branch_df.select(*branch_cols))
        if ext_branch is not None:
            out = out.unionByName(ext_branch)
        return out

    # -- writes ----------------------------------------------------------

    def upsert(
        self,
        df: DataFrame,
        occ_retries: int = 0,
        batch_id: str | None = None,
        sink_id: str | None = None,
        legacy_sink_fallback: bool = False,
    ) -> str | None:
        """Merge a batch: new keys inserted, existing keys replaced (K1/K2).

        ``batch_id``: idempotent streaming replay guard (Hudi's
        checkpoint-in-commit-metadata for Structured Streaming sinks).
        A foreachBatch writer passes ``str(epoch_id)``; the id is
        stamped into the commit manifest, and a later call whose id is
        ≤ the newest stamped id (numeric compare when both parse;
        equality otherwise) is recognized as a restart-replayed
        micro-batch and SKIPPED — returns None, nothing written. Epoch
        ids are monotone per streaming query, so the ≤ rule also
        covers a multi-batch replay window. Exactly-once per batch
        composes from at-least-once delivery + this guard.

        ``sink_id``: scopes the replay guard to ONE streaming query's
        checkpoint identity (Hudi scopes its checkpoint-in-metadata the
        same way). Epoch ids from different queries are unrelated
        sequences, so the guard only compares against commits stamped
        with the SAME sink_id — two streaming queries writing one table
        (distinct sink_ids) never skip each other's batches, and a
        query restarted with a FRESH checkpoint directory (epoch ids
        restart at 0) must use a new sink_id to avoid its real batches
        being mistaken for replays. ``None`` (batch callers, legacy
        manifests) is itself an identity: unscoped stamps only compare
        with unscoped stamps. A pipeline UPGRADING from unscoped to a
        sink_id keeps replay protection across the boundary either by
        starting a fresh checkpoint (the default recommendation) or by
        passing ``legacy_sink_fallback=True`` for the first post-
        upgrade run — see :meth:`_batch_already_applied` for why the
        fallback is opt-in (it is unsafe for a genuinely NEW query
        joining a table with legacy stamps).

        ``occ_retries``: optimistic concurrency for multi-writer upserts.
        The manifest publish is an ATOMIC exclusive create, so two
        writers racing the same commit id produce exactly one winner;
        with ``occ_retries > 0`` the loser re-runs the whole merge
        against the winner's now-current state under a fresh commit id
        (full re-resolution — every conflict check is implicit because
        the merge recomputes from the new live set). Orphaned data files
        from a lost attempt are never referenced by any manifest and are
        ignored by readers and the cleaner. Default 0 = fail loud
        (single-writer deployments keep the race a hard error).

        COW rewrite kernel — every COW mutation (upsert, merge, delete,
        delete_where, update_where, partial_update, merge_into,
        apply_cdc_feed) commits through the same four steps, all
        Spark-side and bounded by the files the commit touches:
        1. prune the live files to candidates (key-range / bucket /
           bloom / record-index stats for keyed writes, manifest stats
           or partition values for predicates);
        2. :meth:`_touched`: one provenance-tagged scan of the
           candidates, semi-joined to the batch keys or filtered by the
           predicate, collects the files holding a matching row;
        3. :meth:`_rewrite`: read only those files, apply the caller's
           transform (anti-join the keys, or filter / ``when`` on the
           predicate) — rows it leaves alone keep their original
           ``_commit_time`` — and union the new rows (for an upsert, the
           batch deduped by max(precombine) per key);
        4. write the result as the new commit's files, sized to about
           one Spark read split each (see :meth:`_rewrite`), and publish a
           manifest that adds them and removes the touched files
           (manifest-last = atomic publish).

        MOR tables instead append the deduped batch as DELTA files — no
        read, no rewrite, O(batch) write cost (the Hudi MERGE_ON_READ
        write path, ``create_hudi_tables.py:110,124``); reconciliation
        happens at read (:meth:`_merge_view`) or at compaction.
        """
        if batch_id is not None and self._batch_already_applied(
            batch_id, sink_id, legacy_sink_fallback=legacy_sink_fallback
        ):
            return None
        attempts = max(0, occ_retries) + 1
        for i in range(attempts):
            try:
                # MOR deltas race too (the commit-id allocation), but the
                # retry is O(batch) — no merge to re-run; close to Hudi
                # 1.0's non-blocking concurrency for append-only delta
                # writers
                return self._merge_write(
                    df, action="upsert", batch_id=batch_id, sink_id=sink_id
                )
            except RuntimeError as exc:
                if "concurrent writer" not in str(exc) or i == attempts - 1:
                    raise
        raise AssertionError("unreachable")

    def _batch_already_applied(
        self,
        batch_id: str,
        sink_id: str | None = None,
        legacy_sink_fallback: bool = False,
    ) -> bool:
        """True when a commit FROM THE SAME SINK already carries this
        streaming batch id (or a LATER one — epoch ids are monotone per
        query): the micro-batch is a restart replay of work that durably
        published. Scoped per writer identity (``batch_sink`` in the
        manifest; ``None``/absent is the unscoped-legacy identity) so
        concurrent streaming queries never suppress each other. Walks
        the active timeline newest-first to the most recent stamped id
        for this sink — O(1) manifest reads for a single-sink streaming
        table, bounded by the timeline otherwise.

        ``legacy_sink_fallback`` (upgrade escape hatch): a pipeline
        that stamped epochs UNSCOPED (no sink_id) and then upgrades to
        a scoped identity loses replay protection exactly at the
        upgrade boundary — the scoped lookup misses the pre-upgrade
        stamps, so a restart replaying a pre-upgrade epoch applies it
        twice. With the flag set, a scoped lookup that finds NO stamp
        for this sink anywhere (active + archive) compares against the
        newest UNSCOPED stamp once; after the first scoped commit
        publishes, the fallback never triggers again. Opt-in because
        it is only safe when the unscoped stamps belong to THE SAME
        logical stream: a genuinely new query (fresh epoch counter)
        joining a table with legacy stamps would have its real epochs
        suppressed — data loss, the worse failure. Default off =
        documented alternative: upgrading sink identity starts a fresh
        checkpoint."""
        def _cmp(last: str) -> bool:
            try:
                return int(batch_id) <= int(last)
            except (TypeError, ValueError):
                return batch_id == last

        newest_unscoped: str | None = None
        want_unscoped = legacy_sink_fallback and sink_id is not None
        for c in reversed(self.commits()):
            m = self._manifest(c)
            last = m.get("batch_id")
            if last is None:
                continue
            if m.get("batch_sink") == sink_id:
                return _cmp(last)
            if want_unscoped and newest_unscoped is None and m.get(
                "batch_sink"
            ) is None:
                newest_unscoped = last
        # archive fallback: archive_timeline may have folded every
        # stamped manifest out of the active window — going blind there
        # would re-apply a replayed epoch. One consolidated read.
        arch = self._archived_manifests()
        for c in sorted(arch, reverse=True):
            last = arch[c].get("batch_id")
            if last is None:
                continue
            if arch[c].get("batch_sink") == sink_id:
                return _cmp(last)
            if want_unscoped and newest_unscoped is None and arch[c].get(
                "batch_sink"
            ) is None:
                newest_unscoped = last
        if newest_unscoped is not None:
            return _cmp(newest_unscoped)
        return False

    def insert(
        self,
        df: DataFrame,
        dedup_batch: bool = True,
        batch_id: str | None = None,
        sink_id: str | None = None,
    ) -> str | None:
        """Append without merging into existing keys (Hudi 'insert' op).

        ``dedup_batch=True`` (engine default, safe-by-default) resolves
        within-batch key duplicates by max(precombine) at the cost of one
        shuffle job; pass ``False`` for unique-keyed append feeds — that
        is Hudi's own default (``hoodie.combine.before.insert=false``)
        and makes the commit a single map-only write job.

        ``batch_id`` / ``sink_id``: streaming replay guard scoped per
        writer identity — see :meth:`upsert`; returns None (nothing
        written) for a replayed micro-batch."""
        if batch_id is not None and self._batch_already_applied(
            batch_id, sink_id
        ):
            return None
        _, commit, stamped = self._stage_batch(df, dedup=dedup_batch)
        added = self._write_files(stamped, commit)
        self._publish(
            commit, "insert", added, [], stamped.schema,
            batch_id=batch_id, sink_id=sink_id,
        )
        return commit

    def bulk_insert(self, df: DataFrame) -> str:
        """Sorted bulk load (Hudi 'bulk_insert'): key-sorted files →
        tight key-range stats → better pruning on later upserts."""
        _, commit, stamped = self._stage_batch(df, dedup=False)
        stamped = stamped.sortWithinPartitions(self.key)
        added = self._write_files(stamped, commit)
        self._publish(commit, "bulk_insert", added, [], stamped.schema)
        return commit

    def insert_overwrite(
        self,
        df: DataFrame,
        dynamic: bool = True,
        static_partitions: dict[str, str | None] | None = None,
    ) -> str:
        """Hudi 'insert_overwrite' op: replace table content in one commit.

        ``dynamic=True`` on a partitioned table replaces ONLY the
        partitions present in the batch (Spark's dynamic
        partitionOverwriteMode semantics — the reference sets exactly
        that conf for its upsert shape); otherwise the whole table is
        replaced. ``static_partitions`` ({col: hive-string value, None
        = the null partition}) replaces exactly the NAMED partition
        regardless of the batch — Spark's static PARTITION-spec
        contract: an empty batch still clears it. Pure manifest surgery
        plus a normal file write — old files stay readable for time
        travel until cleaned.
        """
        _, commit, stamped = self._stage_batch(df, dedup=False)
        parts = self.meta.get("partition_fields") or []
        entries = self.current_files()

        # conservative attribution (None = keep): see _entry_partition —
        # the missing-key check there matters because ``.get`` would
        # surface None, which collides with the hive null sentinel
        entry_part = self._entry_partition

        if static_partitions is not None and parts and entries:
            if sorted(static_partitions) != sorted(parts):
                raise ValueError(
                    f"static_partitions must name exactly the partition "
                    f"fields {sorted(parts)}"
                )
            target = tuple(static_partitions.get(c) for c in parts)
            removed = [
                e["path"] for e in entries if entry_part(e) == target
            ]
        elif dynamic and parts and entries:
            # Compare in ONE codec: Spark's string cast of a partition
            # value equals the unquoted hive directory segment for every
            # partitionable type (int '5', date '2024-01-01', timestamp
            # '2024-01-01 00:00:00', boolean 'true'), and the manifest's
            # ``partition`` dict stores exactly that form (None for the
            # null sentinel). Typed batch values vs typed stats were
            # codec-mismatched for date/timestamp columns (never matched
            # → duplicates survived the overwrite).
            vals = (
                stamped.select([F.col(c).cast("string").alias(c) for c in parts])
                .distinct()
                .collect()
            )
            batch_parts = {tuple(r[c] for c in parts) for r in vals}
            removed = [
                e["path"]
                for e in entries
                if (ep := entry_part(e)) is not None and ep in batch_parts
            ]
        else:
            removed = [e["path"] for e in entries]
        added = self._write_files(stamped, commit)
        self._publish(commit, "insert_overwrite", added, removed, stamped.schema)
        return commit

    def _entry_partition(self, e: dict) -> tuple | None:
        """Current-spec partition tuple of a manifest entry, or None for
        a file that can't be attributed (pre-``partition``-field entry,
        or written under an older spec after partition evolution) —
        callers must treat None as 'keep conservatively'."""
        parts = self.meta.get("partition_fields") or []
        pd_ = e.get("partition")
        if pd_ is None or any(c not in pd_ for c in parts):
            return None
        return tuple(pd_.get(c) for c in parts)

    def delete_partition(
        self, spec: dict[str, str | None], missing_ok: bool = False
    ) -> str | None:
        """Drop one partition in a single MANIFEST-ONLY commit (Hudi's
        ``delete_partition`` write operation / Spark SQL ``ALTER TABLE
        … DROP PARTITION``). ``spec`` maps every partition field to its
        hive-string value (None = the null partition), the same codec
        as :meth:`insert_overwrite`'s ``static_partitions``.

        No data file is read, written, or deleted: the commit retires
        the partition's live files from the manifest, so the drop costs
        O(manifest) at any data size; time travel to earlier commits
        still reads the rows, and the cleaner reclaims the bytes on its
        retention schedule. Files that can't be attributed to a
        current-spec partition (partition evolution) are conservatively
        kept — deleting another spec's data is unrecoverable.
        """
        parts = self.meta.get("partition_fields") or []
        if not parts:
            raise ValueError("delete_partition on an unpartitioned table")
        if sorted(spec) != sorted(parts):
            raise ValueError(
                f"partition spec must name exactly the partition "
                f"fields {sorted(parts)}, got {sorted(spec)}"
            )
        target = tuple(spec.get(c) for c in parts)
        removed = [
            e["path"]
            for e in self.current_files()
            if self._entry_partition(e) == target
        ]
        if not removed:
            if missing_ok:
                return None  # IF EXISTS: no partition, no commit
            raise ValueError(f"no live partition matches {spec!r}")
        commit = self._next_commit()
        self._publish(
            commit, "delete_partition", [], removed, self._schema()
        )
        return commit

    def delete(self, keys_df: DataFrame) -> str:
        """Delete by key. COW: the rewrite kernel (see :meth:`upsert`)
        anti-joins the keys out of the touched files. MOR: append a
        TOMBSTONE delta (key + ``_deleted``) — newest-commit-wins ordering
        makes it shadow every earlier version at merge time; compaction
        physically drops the keys."""
        commit = self._next_commit()
        if self.table_type == "mor":
            return self._delta_commit(commit, tomb_keys=keys_df.select(self.key))
        # no .distinct(): the COW consumers (envelope agg, semi-join,
        # anti-join, membership probes) are all duplicate-tolerant, so
        # the exchange it costs buys nothing (the MOR tombstone keeps
        # its distinct — tomb ROWS must be one per key)
        keys = keys_df.select(self.key)
        touched = self._touched(
            self._prune_by_keys(self.current_files(), keys), keys
        )
        return self._rewrite(
            commit, "delete", touched,
            lambda rows: rows.join(keys, self.key, "left_anti"),
        )

    def delete_where(
        self, condition, filters: dict[str, Any] | None = None
    ) -> str:
        """Predicate delete — the ``DELETE FROM t WHERE ...`` surface
        (Hudi Spark-SQL DELETE / Delta ``delete(condition)``).

        ``condition`` is a SQL boolean expression string or a Column.
        ``filters`` optionally narrows the scanned file set via manifest
        stats (same contract as :meth:`snapshot`) — at 10⁵ files a
        partition- or range-correlated delete prunes before any I/O.

        COW: the rewrite kernel (see :meth:`upsert`) drops the matching
        rows from the touched files. MOR: tombstone delta of the
        matching keys from the merged view, O(matches) append, no
        rewrite.

        Partition-aligned fast path (COW, string conditions): when
        EVERY top-level conjunct is ``partition_col <op> literal``, a
        file whose hive partition value provably satisfies the whole
        predicate is retired MANIFEST-ONLY — zero rows read or written
        for it, so ``DELETE FROM t WHERE dt = '...'`` costs O(manifest)
        like :meth:`delete_partition` while mixed predicates still
        rewrite only partially-matching files. Fail-closed: OR,
        parens, non-partition columns, unparsable literals, double
        bounds, or a null-partition file (no stats) all fall through
        to the exact scan — correctness never depends on the fast
        path. Partition values are hive-directory facts, so a fully-
        matching file cannot hide NULL rows (nulls land in the null
        partition, which has no stats and is never fast-dropped)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if self.table_type == "mor":
            return self.delete(self.snapshot(filters=filters).where(cond))
        commit = self._next_commit()
        candidates = self.current_files()
        if filters:
            candidates = [e for e in candidates if _stats_match(e, filters)]
        full_drop: list[str] = []
        if candidates and isinstance(condition, str):
            ops = _full_partition_pred(
                condition,
                self.meta.get("partition_fields") or [],
                self._schema(),
            )
            if ops:
                # manifest-only retirement of files whose partition
                # value proves EVERY conjunct; the rest (partial
                # matches, null partition, unattributable) still scan
                rest = []
                for e in candidates:
                    if _entry_fully_matches(e, ops):
                        full_drop.append(e["path"])
                    else:
                        rest.append(e)
                candidates = rest
        return self._rewrite(
            commit, "delete", self._touched(candidates, cond),
            lambda rows: rows.where(~F.coalesce(cond, F.lit(False))),
            removed=full_drop,
        )

    def _validate_update_targets(self, cols) -> None:
        """Shared UPDATE SET target contract (used by update_where AND
        the SQL subquery-UPDATE route — one copy, one message):
        structural columns are never assignable; known-schema tables
        reject unknown targets (schema-less tables pass — nothing to
        check against)."""
        structural = {self.key, META_COL}
        bad = sorted(set(cols) & structural)
        if bad:
            raise ValueError(f"cannot UPDATE structural column(s) {bad}")
        schema = self._schema()
        known = set(schema.fieldNames()) if schema is not None else set()
        unknown = sorted(set(cols) - known)
        if known and unknown:
            raise ValueError(
                f"UPDATE SET targets unknown column(s) {unknown}; "
                "add new columns via a write with the evolved schema"
            )

    def update_where(
        self,
        set_exprs: dict[str, Any],
        condition,
        filters: dict[str, Any] | None = None,
    ) -> str:
        """Predicate update — the ``UPDATE t SET ... WHERE ...`` surface
        (Hudi Spark-SQL UPDATE / Delta ``update(condition, set)``).

        ``set_exprs`` maps column name → SQL expression string or Column,
        all evaluated against the OLD row (simultaneous-assignment SQL
        UPDATE semantics, so ``{"a": "b", "b": "a"}`` swaps). Rows where
        ``condition`` is false or NULL are untouched. ``filters``
        narrows the scanned file set via manifest stats like
        :meth:`snapshot`.

        COW: the rewrite kernel (see :meth:`upsert`) restamps the
        matching rows of the touched files with the new commit. MOR: the
        matching rows from the merged view are transformed and appended
        as a delta commit — newest-commit-wins at read applies the
        update, O(matches) write cost."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        sets = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in set_exprs.items()
        }
        self._validate_update_targets(sets)
        if self.table_type == "mor":
            matched = self.snapshot(filters=filters).where(cond).drop(META_COL)
            updated = matched.select(
                *[sets.get(c, F.col(c)).alias(c) for c in matched.columns]
            )
            return self._merge_write(updated, action="update")
        commit = self._next_commit()
        candidates = self.current_files()
        if filters:
            candidates = [e for e in candidates if _stats_match(e, filters)]
        hit = F.coalesce(cond, F.lit(False))
        return self._rewrite(
            commit, "update", self._touched(candidates, cond),
            lambda rows: rows.select(
                *[
                    F.when(hit, F.lit(commit)).otherwise(F.col(c)).alias(c)
                    if c == META_COL
                    else F.when(hit, sets[c]).otherwise(F.col(c)).alias(c)
                    if c in sets
                    else F.col(c)
                    for c in rows.columns
                ]
            ),
        )

    def restore(self, as_of: str) -> str:
        """Roll the table back to its state at commit ``as_of`` — a new
        'restore' commit whose live set is the old file set (no data is
        copied; pure manifest surgery, like Delta RESTORE). History after
        ``as_of`` stays in the timeline for audit until cleaned."""
        target = {e["path"]: e for e in self.current_files(as_of=as_of)}
        current = {e["path"]: e for e in self.current_files()}
        commit = self._next_commit()
        # drop the has-restore marker BEFORE publishing (crash between
        # the two costs one wasted lineage walk, never a missed one) —
        # lets _restored_lineage answer "no restore ever" without
        # reading any manifest
        if not self.fs.exists(self._restore_flag_path()):
            write_json(self._restore_flag_path(), {"ts": _utcnow()})
        added = [target[p] for p in sorted(set(target) - set(current))]
        removed = sorted(set(current) - set(target))
        # the field-id map is restored WITH the schema (a rename after
        # as_of must roll back too, or the restored old name would be
        # mistaken for a fresh column and read as null from its own files)
        # the restore target is stamped into the manifest so the CDC
        # tombstone read path can recompute the LOGICAL lineage: markers
        # recorded by rolled-back commits must stop guarding (they would
        # discard legitimate post-restore events for resurrected keys),
        # but the sidecars themselves are NOT deleted — a forward
        # re-restore reinstates their protection, a crash cannot tear
        # them, and history stays auditable like the manifests
        self._publish(
            commit, "restore", added, removed, self._schema(as_of=as_of),
            field_ids=self._field_ids(as_of=as_of)
            if self.meta.get("has_renames") else None,
            extra={"restore_target": as_of},
        )
        return commit

    # -- savepoints ----------------------------------------------------

    def savepoint(self, commit: str | None = None) -> str:
        """Pin a commit against the cleaner (Hudi savepoint analog:
        ``hoodie savepoint create``). The files live AS OF the
        savepointed commit stay readable via ``snapshot(as_of=...)`` /
        ``restore()`` forever, regardless of the cleaner's retention
        window, until :meth:`release_savepoint`.

        Metadata-only: one marker JSON in the timeline dir (underscore
        prefix keeps it invisible to :meth:`commits`).
        """
        commit = commit or self.latest_commit()
        if commit is None:
            raise ValueError("cannot savepoint an empty table")
        if commit not in self.commits(include_archived=True):
            raise ValueError(f"cannot savepoint unknown commit {commit}")
        write_json(
            self._savepoint_path(commit), {"commit": commit, "ts": _utcnow()}
        )
        return commit

    def savepoints(self) -> list[str]:
        """Savepointed commit ids, ascending."""
        out = []
        for p in self.fs.list(self._commits_dir()):
            name = posixpath.basename(p)
            if name.startswith("_savepoint_") and name.endswith(".json"):
                out.append(name[len("_savepoint_") : -len(".json")])
        return sorted(out)

    def release_savepoint(self, commit: str) -> None:
        """Unpin ``commit``; its retired files become cleanable again."""
        path = self._savepoint_path(commit)
        if not self.fs.exists(path):
            raise ValueError(f"no savepoint at commit {commit}")
        self.fs.delete(path)

    def _savepoint_path(self, commit: str) -> str:
        return posixpath.join(self._commits_dir(), f"_savepoint_{commit}.json")

    def merge(self, source: DataFrame, delete_col: str | None = None) -> str:
        """MERGE INTO semantics in one COW commit (the Delta-style
        ``WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED
        INSERT`` surface, emulated with anti-join + union as plain Spark):

        - source rows with ``delete_col`` true delete their key;
        - all other source rows upsert (matched → replace, unmatched →
          insert), with within-batch max(precombine) resolution.

        Same commit path and cost envelope as :meth:`upsert`; the
        deleted keys join the rewrite's key set (COW) or land as
        tombstones in the same delta commit (MOR).
        """
        if delete_col is None:
            return self.upsert(source)
        # The upsert branch and the tombstone branch each scan ``source``
        # — for a non-deterministic lineage (sample(), uuid()-derived
        # flags) independent re-evaluation could drop a row from BOTH
        # branches or emit it to both (the same dual-evaluation hazard
        # _gate_constraints guards). Persist once, evaluate both branches
        # from the materialized rows, release after publish.
        from pyspark import StorageLevel

        source = source.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._merge_write(source, "merge", delete_col=delete_col)
        finally:
            source.unpersist()

    def apply_cdc_feed(self, events: DataFrame, op_col: str = "_op") -> str:
        """Fold a Debezium/DeltaStreamer-shaped CDC event batch into the
        table in ONE commit (the ingestion surface Hudi's DeltaStreamer
        exposes for upstream-database change logs): each event row
        carries the key, the payload columns, the table's precombine
        ordering column, and ``op_col`` with a change code —
        ``c/r/i/u`` (create/read-snapshot/insert/update → upsert) or
        ``d`` (delete), case-insensitive.

        The batch is first resolved to the LAST event per key — ordered
        by precombine, ties broken toward delete (the safe side) — and
        only then applied through :meth:`merge`. The pre-resolution is
        semantically load-bearing: :meth:`merge` alone resolves a key
        that is both flagged and unflagged to DELETE, but the CDC
        contract is FEED ORDER — insert→update→delete must delete,
        insert→delete→update must upsert the final payload. Events
        older than the stored row's precombine are discarded by the
        normal upsert ordering, so a late replay cannot clobber newer
        state. The remaining hazard every CDC applier shares — a late
        UPDATE for a key whose DELETE already applied finds no stored
        row and re-inserts it — is closed when the table was created
        with ``cdc_tombstone_hours``: each apply records its deletes'
        (key, precombine) in a ``_cdc_tombstones/`` sidecar, later
        applies discard upsert events at or below a retained tombstone
        (a genuinely NEWER re-insert still resurrects the key, which
        is the CDC contract), and the cleaner prunes markers past the
        window. Sidecar cost is O(deletes in window), never O(table).

        Cost: one window shuffle over the BATCH (never the table) +
        the merge envelope (touched files only).
        """
        from pyspark.sql.window import Window as W

        if op_col not in events.columns:
            raise ValueError(f"events batch has no op column {op_col!r}")
        tie = "__engine_batch_order"
        if tie in events.columns:
            raise ValueError(f"{tie!r} is a reserved internal column")
        ops = F.upper(F.col(op_col))
        # persist once: the probe below and the resolution/merge would
        # otherwise re-evaluate a non-deterministic source lineage —
        # rows the probe never saw could slip past the fail-loud gate
        # (the same dual-evaluation hazard merge() persists against)
        from pyspark import StorageLevel

        events = events.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # fail loud on unknown OR NULL change codes rather than
            # silently treating them as upserts (a bare ~isin is NULL
            # for a NULL code and where() drops it). The check is
            # FOLDED into the resolution scan as a raise_error column
            # on the per-row ordering struct (every event row is
            # evaluated exactly once by the max_by aggregation), so it
            # costs zero extra passes — the previous dedicated
            # limit(1) probe paid one full scan of the batch per apply.
            # The Spark-side error is re-raised as the documented
            # ValueError at this API boundary.
            return self._apply_cdc_resolved(events, op_col, ops, tie)
        except ValueError:
            raise
        except Exception as exc:  # noqa: BLE001 — unwrap raise_error
            if _CDC_BAD_OP_MARKER in str(exc):
                msg = str(exc)
                start = msg.find(_CDC_BAD_OP_MARKER)
                raise ValueError(msg[start:].splitlines()[0]) from None
            raise
        finally:
            events.unpersist()

    def _apply_cdc_resolved(self, events, op_col, ops, tie) -> str:
        # last event per key, resolved with the SAME partial-
        # aggregatable max_by shape as _dedup_batch (a row_number
        # window would serialize a hot replication key on one task):
        # order = (precombine, is_delete, batch order) — ties at equal
        # precombine go to delete (the safe side), then to feed order,
        # so equal-timestamp update pairs resolve deterministically.
        row = F.struct(*[F.col(c) for c in events.columns])
        # per-row op-code gate, riding the ordering struct the max_by
        # evaluates for EVERY event row: an unknown/NULL code aborts the
        # job via raise_error (unwrapped to the documented ValueError by
        # apply_cdc_feed) instead of paying a dedicated probe pass
        checked_is_delete = F.when(
            ops.isNull() | ~ops.isin("C", "R", "I", "U", "D"),
            F.raise_error(
                F.concat(
                    F.lit(_CDC_BAD_OP_MARKER + " '"),
                    F.coalesce(
                        F.col(op_col).cast("string"), F.lit("None")
                    ),
                    F.lit(
                        "' — expected one of c/r/i/u (upsert) or d "
                        "(delete), any case"
                    ),
                )
            ).cast("int"),
        ).otherwise((ops == "D").cast("int"))
        order = F.struct(
            F.col(self.precombine),
            checked_is_delete,
            F.col(tie),
        )
        last = (
            events.withColumn(tie, F.monotonically_increasing_id())
            .groupBy(self.key)
            .agg(F.max_by(row, order).alias("_e"))
            .select("_e.*")
        )
        resolved = last.withColumn(
            "_cdc_delete", F.upper(F.col(op_col)) == "D"
        ).drop(op_col)
        if self.latest_commit() is not None:
            # the engine's plain upsert is incoming-wins (Hudi's
            # OverwriteWithLatest); CDC apply needs the COMPARED payload
            # semantics (DefaultHoodieRecordPayload) — discard events at
            # or below the STORED row's precombine so a late replay
            # cannot clobber newer state. One column-pruned (key,
            # precombine) scan of the snapshot per apply; equal
            # precombine → incoming wins (idempotent self-replay).
            stored = self.snapshot().select(
                F.col(self.key), F.col(self.precombine).alias("_cdc_stored")
            )
            resolved = (
                resolved.join(stored, self.key, "left")
                .where(
                    F.col("_cdc_stored").isNull()
                    | (F.col(self.precombine) >= F.col("_cdc_stored"))
                )
                .drop("_cdc_stored")
            )
        retain = self.meta.get("cdc_tombstone_hours")
        if retain is None:
            return self.merge(resolved, delete_col="_cdc_delete")
        tomb = self._retained_tombstones()
        if tomb is not None:
            # discard late upserts at or below a retained delete
            # marker (<=, matching the batch resolver's tie-to-
            # delete rule so a replayed equal-precombine
            # update/delete pair resolves the same way across
            # batches); deletes pass through — re-deleting a dead
            # key is a no-op downstream
            resolved = (
                resolved.join(tomb, self.key, "left")
                .where(
                    F.col("_cdc_tomb").isNull()
                    | F.col("_cdc_delete")
                    | (F.col(self.precombine) > F.col("_cdc_tomb"))
                )
                .drop("_cdc_tomb")
            )
        # pin this apply's delete markers BEFORE the merge (one bounded
        # job over the persisted events): the count doubles as the
        # empty-check, and the sidecar write after publish reads the
        # materialized rows instead of re-running the resolution
        # pipeline (window + snapshot scan + marker scan) a third time
        from pyspark import StorageLevel

        dels = (
            resolved.where(F.col("_cdc_delete"))
            .select(self.key, self.precombine)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            n_dels = dels.count()
            commit = self.merge(resolved, delete_col="_cdc_delete")
            if n_dels:
                # written AFTER the merge publishes — a crash between
                # the two leaves marker-less (legacy) semantics for
                # those deletes, never a marker for an unpublished one
                self._record_tombstones(dels, commit)
        finally:
            dels.unpersist()
        return commit

    def _cdc_tombstone_root(self) -> str:
        return posixpath.join(self.path, "_cdc_tombstones")

    def _restore_flag_path(self) -> str:
        """Marker dropped by the first restore() ever (underscore
        prefix keeps it invisible to :meth:`commits`)."""
        return posixpath.join(self._commits_dir(), "_has_restore.json")

    def _restored_lineage(self) -> set[str] | None:
        """The commit ids in the table's LOGICAL history, or None when
        no restore ever happened. For ``restore_flagged`` tables
        (created ≥ r13) the no-restore common case is ONE exists()
        check on the flag marker restore() drops — zero manifest
        reads; legacy tables fall back to scanning the timeline for a
        restore action (their pre-flag restores left no marker). A
        restore commit rolls the running lineage back to the lineage
        AS OF its target and then appends itself, so rolled-back
        commits drop out, a forward re-restore brings them back, and
        nested restores compose. Legacy restore manifests without a
        ``restore_target`` stamp fall back to a non-rolling append
        (conservative: markers stay active, the pre-r12 behavior)."""
        if self.meta.get("restore_flagged") and not self.fs.exists(
            self._restore_flag_path()
        ):
            return None
        arch = self._archived_manifests()
        commits = sorted({*self.commits(), *arch})
        if not any(
            (arch.get(c) or self._manifest(c)).get("action") == "restore"
            for c in commits
        ):
            return None
        lineage_at: dict[str, tuple[str, ...]] = {}
        cur: tuple[str, ...] = ()
        for c in commits:
            m = arch.get(c) or self._manifest(c)
            if m.get("action") == "restore":
                tgt = m.get("restore_target")
                if tgt is not None:
                    cur = lineage_at.get(
                        tgt, tuple(x for x in cur if x <= tgt)
                    )
            cur = (*cur, c)
            lineage_at[c] = cur
        return set(cur)

    def _retained_tombstones(self) -> DataFrame | None:
        """Unexpired delete markers as (key, max precombine per key =
        ``_cdc_tomb``), or None when no marker sidecars are in the
        retention window. Expiry is decided from the sidecar DIRECTORY
        name (``<utc-ts>_<commit>/``) — zero data reads for pruning.
        Markers whose commit was rolled back by a restore are filtered
        by the lineage walk (read-side, non-destructive); unknown name
        shapes stay active (the safe side for a protection feature)."""
        dirs = self._tombstone_dirs(expired=False)
        if not dirs:
            return None
        lineage = self._restored_lineage()
        if lineage is not None:
            dirs = [
                d
                for d in dirs
                if posixpath.basename(d).split("_", 1)[-1] in lineage
                or "_" not in posixpath.basename(d)
            ]
            if not dirs:
                return None
        return (
            self.spark.read.parquet(*dirs)
            .groupBy(self.key)
            .agg(F.max(self.precombine).alias("_cdc_tomb"))
        )

    def _record_tombstones(self, dels: DataFrame, commit: str) -> None:
        """Persist one sidecar of this apply's delete markers. Written
        AFTER the merge publishes — a crash between the two leaves the
        legacy (marker-less) semantics for those deletes, never a
        marker for an unpublished delete. Caller pre-checks emptiness
        (delete-free applies write no sidecar)."""
        stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%f")
        out = posixpath.join(
            self._cdc_tombstone_root(), f"{stamp}_{commit}"
        )
        dels.write.mode("overwrite").parquet(out)

    def _tombstone_dirs(self, expired: bool) -> list[str]:
        """Sidecar directories inside (expired=False) or past
        (expired=True) the retention window.

        Expiry compares the directory-name UTC stamp lexically against
        the window cutoff (fixed ``%Y%m%dT%H%M%S%f`` format — lexical
        == chronological). A clock-skewed writer stamping a FUTURE
        timestamp therefore keeps its markers alive PAST their window
        (over-retention: replays stay guarded longer) but can never
        expire them prematurely — the safe direction for a protection
        feature. Unparseable names sort high for the same reason."""
        retain = self.meta.get("cdc_tombstone_hours")
        root = self._cdc_tombstone_root()
        if retain is None or not self.fs.exists(root):
            return []
        from datetime import timedelta

        cutoff = (
            datetime.now(timezone.utc) - timedelta(hours=float(retain))
        ).strftime("%Y%m%dT%H%M%S%f")
        names = {
            posixpath.relpath(p, root).split("/")[0]
            for p in self.fs.list(root)
        }
        keep = [
            posixpath.join(root, n)
            for n in sorted(names)
            if (n.split("_")[0] < cutoff) == expired
        ]
        return keep

    def merge_into(
        self,
        source: DataFrame,
        on: str,
        matched: Sequence[tuple] = (),
        not_matched: Sequence[tuple] = (),
        target_alias: str = "t",
        source_alias: str = "s",
        not_matched_by_source: Sequence[tuple] = (),
        evolve_schema: bool = False,
    ) -> str:
        """ANSI ``MERGE INTO`` with WHEN clauses, in one commit — the
        Hudi/Delta Spark-SQL MERGE surface (the reference's user
        interface is SQL strings over views,
        ``incremental_etl_orders.py:467-478``; :mod:`.sql_dml` parses
        the statement and calls this kernel).

        ``on`` is a Spark-SQL boolean expression over ``target_alias``/
        ``source_alias``-qualified columns. ``matched`` is an ordered
        sequence of ``("update", cond|None, {col: expr})`` /
        ``("delete", cond|None, None)``; ``not_matched`` of
        ``("insert", cond|None, {col: expr} | None)`` (``None`` =
        ``INSERT *`` — target columns taken from same-named source
        columns); ``not_matched_by_source`` of ``("update", cond|None,
        {col: expr})`` / ``("delete", cond|None, None)`` applied to
        TARGET rows with no source match (the ANSI/Delta/Spark-4 third
        clause family — the sync-table staple: delete or flag rows that
        vanished from the feed). Standard clause semantics: clauses are
        evaluated IN ORDER within their family and the first whose
        condition holds applies; a matched row no clause claims is
        carried through byte-identical with its original
        ``_commit_time``; a source row >1 target rows match is fine
        (each target row merges independently), but a TARGET row
        matched by >1 source rows while any matched clause exists is
        ambiguous and raises (ANSI cardinality violation, same contract
        as Delta). SET/VALUES expressions see both aliases and apply
        simultaneously (``SET a = t.b, b = t.a`` swaps) — except
        ``not_matched_by_source`` conditions/SETs, which may reference
        ONLY the target (there is no source row; ANSI agrees), enforced
        fail-closed on any ``<source_alias>.`` occurrence.

        COW cost envelope: the rewrite kernel (see :meth:`upsert`), with
        the clauses as the transform and the inserts as the new rows.
        When ON carries a target-key equality as a conjunct, manifest
        key-range stats prune the candidates (at 10⁵ files a point-merge
        touches a handful); the touched files come from the same single
        aggregate that runs the cardinality check. The not-matched
        anti-join shuffles source-vs-pruned-target once on the ON
        columns; at 100 TB both sides hash-partition and AQE broadcasts
        whichever is small.
        A ``not_matched_by_source`` clause CHANGES this envelope: any
        target row anywhere may be claimed, so the key prune is
        disabled and every live file rewrites (the unavoidable cost of
        the clause's semantics — Delta pays the same; narrow it
        yourself with a tight clause condition and run such merges at
        sync cadence, not per-batch). MOR: the clause outputs (updated
        full rows, tombstone keys, inserts) land as ONE delta commit
        via :meth:`merge` — O(changes) append even for by-source
        clauses, no rewrite, never a torn merge. Constraint gating
        applies to the MOR path (it routes through :meth:`merge`); the
        COW rewrite path skips it, since quarantining a row the table
        already owns on rewrite would be a spurious data loss.
        """
        for kind, _c, _v in matched:
            if kind not in ("update", "delete"):
                raise ValueError(f"unknown WHEN MATCHED action {kind!r}")
        for kind, _c, _v in not_matched:
            if kind != "insert":
                raise ValueError(f"unknown WHEN NOT MATCHED action {kind!r}")
        for kind, _c, _v in not_matched_by_source:
            if kind not in ("update", "delete"):
                raise ValueError(
                    f"unknown WHEN NOT MATCHED BY SOURCE action {kind!r}"
                )
        table_schema = self._schema()
        if table_schema is None:
            raise ValueError(
                "MERGE INTO an empty table is not supported; bulk_insert "
                "or upsert the initial data first"
            )
        if evolve_schema:
            # MERGE WITH SCHEMA EVOLUTION (Delta 3.1 / Spark-4 shape):
            # source columns the target has never seen WIDEN the target
            # schema — the table's ordinary evolution-on-append
            # machinery does the heavy lifting (manifest schema rules
            # the read; files written before the column surface it as
            # null), this merely legalizes the new names for SET /
            # INSERT targets and threads typed-null columns through the
            # target-side frames below. Without the flag, unknown
            # columns keep raising (fail-closed default, like Delta
            # with autoMerge off).
            existing = set(f.name for f in table_schema.fields)
            extra = [
                StructField(f.name, f.dataType, True)
                for f in source.schema.fields
                if f.name not in existing and f.name != "_deleted"
            ]
            evolved = bool(extra)
            if extra:
                table_schema = StructType([*table_schema.fields, *extra])
        else:
            evolved = False
        table_cols = [f.name for f in table_schema.fields]
        data_cols = [c for c in table_cols if c != META_COL]
        structural = {self.key, META_COL}
        for kind, _c, sets in (*matched, *not_matched_by_source):
            if kind != "update":
                continue
            bad = sorted(set(sets) & structural)
            if bad:
                raise ValueError(f"cannot UPDATE structural column(s) {bad}")
            unknown = sorted(set(sets) - set(data_cols))
            if unknown:
                raise ValueError(
                    f"UPDATE SET targets unknown column(s) {unknown}"
                )
        sa_ref = re.compile(
            rf"(?<![\w$`]){re.escape(source_alias)}\s*\."
        )
        for _kind, cond, sets in not_matched_by_source:
            for expr_s in (cond or "", *(sets or {}).values()):
                # blank out quoted literals first so a string like
                # 's.suffix' can't false-positive as a source reference
                bare = re.sub(r"'[^']*'|\"[^\"]*\"", "''", expr_s)
                if sa_ref.search(bare):
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE clauses may reference "
                        f"only the target: {expr_s!r} names the source "
                        f"alias {source_alias!r} (there is no source row)"
                    )
        for kind, _c, values in not_matched:
            if values is not None:
                unknown = sorted(set(values) - set(data_cols))
                if unknown:
                    raise ValueError(
                        f"INSERT targets unknown column(s) {unknown}"
                    )
                if self.key not in values:
                    raise ValueError(
                        f"INSERT column list must include the key "
                        f"{self.key!r} — a NULL-key row is unaddressable "
                        "by every keyed operation"
                    )
        ta, sa = target_alias, source_alias
        on_cond = F.expr(on)
        # The source is scanned by several branches (cardinality gate,
        # rewrite join, not-matched anti-join, key-prune agg) — persist
        # once so a non-deterministic source lineage (sample(), uuid())
        # can't present different rows to different branches (the same
        # dual-evaluation hazard merge() guards against).
        from pyspark import StorageLevel

        source = source.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._merge_into(
                source, on, on_cond, matched, not_matched, ta, sa,
                table_schema, table_cols, data_cols,
                not_matched_by_source,
                evolved=evolved,
            )
        finally:
            source.unpersist()

    def _mi_on_key_col(self, on: str, ta: str, sa: str) -> str | None:
        """Source column equal to the target key as a TOP-LEVEL CONJUNCT
        of the ON expression, or None. Per-conjunct anchored match —
        fails closed on OR/NOT/quotes/pipes/parens/double-quotes and on
        any equality embedded in a larger expression (the old substring
        regex treated ``t.id = s.id + 1`` as key equality and pruned
        against the wrong values). Parens and quote chars are rejected
        outright because the AND split below is not depth- or
        quote-aware: a fragment cut out of a parenthesized boolean
        sub-expression or a quoted literal containing `` AND `` could
        otherwise false-positive as key equality and prune the scanned
        file set against the wrong values."""
        if re.search(r"\bOR\b|\bNOT\b|'|\"|\(|\|", on, re.IGNORECASE):
            return None
        key = re.escape(self.key)
        fwd = rf"^\s*(?:{re.escape(ta)}\.)?{key}\s*=\s*{re.escape(sa)}\.(\w+)\s*$"
        rev = rf"^\s*{re.escape(sa)}\.(\w+)\s*=\s*(?:{re.escape(ta)}\.)?{key}\s*$"
        for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
            m = re.match(fwd, conj) or re.match(rev, conj)
            if m:
                return m.group(1)
        return None

    def _mi_inserts_collision_free(
        self,
        on: str,
        on_key_col: str | None,
        not_matched: Sequence[tuple],
        ta: str,
        sa: str,
    ) -> bool:
        """True when an unmatched source row provably cannot insert a
        key the table already holds: ON is PURE key equality on source
        column C (sole conjunct — any extra condition weakens
        'unmatched' to 'key may exist with a different payload'), and
        every insert clause assigns the key from exactly C — then
        unmatched ⇒ the key is absent from the target."""
        if on_key_col is None:
            return False
        if len(re.split(r"\bAND\b", on, flags=re.IGNORECASE)) != 1:
            return False
        for _k, _c, values in not_matched:
            if values is None:  # INSERT * takes the key from s.<key>
                if on_key_col != self.key:
                    return False
                continue
            expr = values[self.key].strip()
            if expr not in (f"{sa}.{on_key_col}", on_key_col):
                return False
        return True

    def _merge_into(
        self,
        source: DataFrame,
        on: str,
        on_cond,
        matched: Sequence[tuple],
        not_matched: Sequence[tuple],
        ta: str,
        sa: str,
        table_schema,
        table_cols: list[str],
        data_cols: list[str],
        not_matched_by_source: Sequence[tuple] = (),
        evolved: bool = False,
    ) -> str:
        src = source.withColumn("__mi_m", F.lit(True)).alias(sa)
        by_type = {f.name: f.dataType for f in table_schema.fields}

        def _widen(df):
            # schema evolution: target-side frames are read under the
            # PRE-merge manifest schema — surface the newly-legalized
            # columns as typed nulls so every clause/selection resolves
            for c in data_cols:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(by_type[c]))
            return df

        def _clause_index(scope, clauses):
            # first-match-wins within one clause family over the rows in
            # its scope (matched target rows, unmatched target rows for
            # BY SOURCE, every unmatched source row for NOT MATCHED)
            ci = F.when(~scope, F.lit(-1))
            for i, (_k, cond, _v) in enumerate(clauses):
                hit = (
                    scope
                    if cond is None
                    else scope & F.coalesce(F.expr(cond), F.lit(False))
                )
                ci = ci.when(hit, F.lit(i))
            return ci.otherwise(F.lit(-1))

        def _insert_values(i, values):
            if values is not None:
                return values
            missing = [c for c in (self.key,) if c not in source.columns]
            if missing:
                raise ValueError(
                    f"INSERT * needs source column(s) {missing} (the key)"
                )
            return {c: f"{sa}.{c}" for c in data_cols if c in source.columns}

        def _insert_rows(unmatched):
            u = unmatched.withColumn(
                "__mi_ci", _clause_index(F.lit(True), not_matched)
            ).where(F.col("__mi_ci") >= 0)
            cols = []
            for c in data_cols:
                expr = F.lit(None).cast(by_type[c])
                for i, (_k, _cond, values) in enumerate(not_matched):
                    vals = _insert_values(i, values)
                    if c in vals:
                        expr = F.when(
                            F.col("__mi_ci") == i,
                            F.expr(vals[c]).cast(by_type[c]),
                        ).otherwise(expr)
                cols.append(expr.alias(c))
            return u.select(*cols)

        def _cardinality_violation():
            return ValueError(
                "MERGE INTO cardinality violation: a target row is "
                "matched by more than one source row while a WHEN "
                "MATCHED clause exists — dedup the source first"
            )

        families = [
            (ci, clauses)
            for ci, clauses in (
                ("__mi_ci", matched), ("__mi_bi", not_matched_by_source)
            )
            if clauses
        ]
        has_delete = any(
            kind == "delete" for _ci, clauses in families for kind, *_ in clauses
        )

        def _resolve(target, cols, ins_keys, commit=None):
            """The WHEN MATCHED and NOT MATCHED BY SOURCE clauses over the
            target rows, for both table types: ``cols`` with the winning
            clause's SETs applied (``_commit_time`` restamped to
            ``commit`` on updated rows), plus ``__mi_del`` (a DELETE
            clause claimed the row) and ``__mi_hit`` (any clause claimed
            it). Rows whose key an insert of the same statement claims
            drop out: a colliding insert replaces the stored row, on COW
            and MOR alike."""
            aff = _widen(target).alias(ta)
            if matched:
                # the cardinality gate guarantees <= 1 source match per
                # target row, so the left join cannot fan out
                j = aff.join(src, on_cond, "left")
                is_m = F.col("__mi_m").isNotNull()
            else:
                # by-source-only statement: no gate ran (the contract
                # allows multi-matched target rows when no MATCHED
                # clause exists), so a left join would emit a matched
                # row once PER matching source row and the carried
                # copies would persist as duplicate keys. Only
                # MEMBERSHIP matters here (no clause reads source
                # columns) — tag it with semi/anti joins, which never
                # multiply rows.
                member = _merge_join_if_unsized(src)
                j = (
                    aff.join(member, on_cond, "left_semi")
                    .withColumn("__mi_m", F.lit(True))
                    .unionByName(
                        aff.join(member, on_cond, "left_anti").withColumn(
                            "__mi_m", F.lit(False)
                        )
                    )
                    .alias(ta)
                )
                is_m = F.col("__mi_m")
            deleted, hit = F.lit(False), None
            for ci, clauses in families:
                scope = is_m if ci == "__mi_ci" else ~is_m
                j = j.withColumn(ci, _clause_index(scope, clauses))
                claims = F.col(ci) >= 0
                hit = claims if hit is None else hit | claims
                dels = [i for i, cl in enumerate(clauses) if cl[0] == "delete"]
                if dels:
                    deleted = deleted | F.col(ci).isin(dels)
            out = []
            for c in cols:
                expr = F.col(f"{ta}.{c}")
                for ci, clauses in families:
                    for i, (kind, _cond, sets) in enumerate(clauses):
                        if kind != "update":
                            continue
                        if c == META_COL:
                            val = F.lit(commit)
                        elif c in sets:
                            val = F.expr(sets[c]).cast(by_type[c])
                        else:
                            continue
                        expr = F.when(F.col(ci) == i, val).otherwise(expr)
                out.append(expr.alias(c))
            res = j.select(*out, deleted.alias("__mi_del"), hit.alias("__mi_hit"))
            if ins_keys is not None:
                res = res.join(ins_keys, self.key, "left_anti")
            return res

        def _colliding_keys(ins):
            # When ON is not pure key equality (or INSERT VALUES computes
            # a fresh key), an unmatched source row can insert a key the
            # table ALREADY holds. The keyed snapshot can never carry
            # duplicates, so such an insert REPLACES the stored row —
            # the same resolution the MOR read-side merge applies; no
            # clause of the statement may update or delete that key.
            # None (no extra jobs) in the common shape: ON is key
            # equality and every insert clause assigns the key from that
            # same source column, so every insert key is absent from the
            # target. No .distinct(): the LEFT ANTI and prune consumers
            # are duplicate-tolerant.
            if self._mi_inserts_collision_free(
                on, self._mi_on_key_col(on, ta, sa), not_matched, ta, sa
            ):
                return None
            return ins.select(self.key)

        if self.table_type == "mor":
            # The merged view (latest-per-key window over base+deltas)
            # feeds the cardinality gate, the clause resolution AND the
            # not-matched anti-join — persist it once for the statement
            # instead of re-running the window shuffle per consumer
            # (measured 4.2 s → ~2 s at sf0.1). Released after the delta
            # commit publishes, by which point every consumer has evaluated.
            from pyspark import StorageLevel

            snap_df = (
                _widen(self.snapshot().drop(META_COL))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            try:
                snap = snap_df.alias(ta)
                if matched:
                    pairs = snap.join(src, on_cond, "inner").select(
                        F.col(f"{ta}.{self.key}").alias("__mi_k")
                    )
                    dup = (
                        pairs.groupBy("__mi_k")
                        .agg(F.count(F.lit(1)).alias("__mi_n"))
                        .where(F.col("__mi_n") > 1)
                    )
                    if not dup.isEmpty():
                        raise _cardinality_violation()
                ins = (
                    _insert_rows(src.join(snap, on_cond, "left_anti"))
                    if not_matched
                    else None
                )
                # the claimed rows (updated full rows and tombstones) and
                # the inserts land as ONE delta commit
                eff = None
                if families:
                    ins_keys = _colliding_keys(ins) if ins is not None else None
                    eff = (
                        _resolve(snap_df, data_cols, ins_keys)
                        .where("__mi_hit")
                        .drop("__mi_hit")
                    )
                    if has_delete and any(
                        kind == "update"
                        for _ci, clauses in families
                        for kind, *_ in clauses
                    ):
                        # updated and deleted claimed rows feed the upsert
                        # and the tombstone branch: resolve them once
                        # (_publish releases them)
                        eff = eff.persist(StorageLevel.MEMORY_AND_DISK)
                        self._pending_unpersist.append(eff)
                if eff is None and ins is None:
                    commit = self._next_commit()
                    # an evolving statement widens the schema even when
                    # it changes no rows (Delta semantics) — record it
                    self._publish(
                        commit, "merge", [], [],
                        table_schema if evolved else None,
                    )
                    return commit
                # The claimed upserts and the inserts pass ONE constraint
                # gate (tombstones are not gated), inserts before their
                # dedup as in the COW branch. Only the inserts need the
                # max(precombine) dedup: the claimed rows are one per key
                # (the cardinality gate or the membership frame) and hold
                # no insert key (the collision anti-join).
                is_ins, tomb_keys, rows = F.col("__mi_ins"), None, []
                if eff is not None:
                    gone = F.coalesce(F.col("__mi_del"), F.lit(False))
                    tomb_keys = eff.where(gone).select(self.key)
                    rows.append(
                        eff.where(~gone).drop("__mi_del")
                        .withColumn("__mi_ins", F.lit(False))
                    )
                if ins is not None:
                    rows.append(ins.withColumn("__mi_ins", F.lit(True)))
                rows = rows[0] if len(rows) == 1 else rows[0].unionByName(rows[1])
                self._validate_batch(rows.drop("__mi_ins"), need_precombine=False)
                gated = self._gate_constraints(rows, carry=["__mi_ins"])
                batch = gated.where(~is_ins).drop("__mi_ins")
                if ins is not None:
                    new = self._dedup_batch(gated.where(is_ins).drop("__mi_ins"))
                    batch = new if eff is None else batch.unionByName(new)
                commit = self._next_commit()
                return self._delta_commit(
                    commit, batch.withColumn(META_COL, F.lit(commit)), tomb_keys
                )
            finally:
                snap_df.unpersist()

        # COW
        commit = self._next_commit()
        entries = self.current_files()
        # Stats pruning: when the ON expression carries a target-key =
        # source-column equality as a TOP-LEVEL CONJUNCT, a file whose
        # key range can't overlap the source keys can't contain an ON
        # match — narrow the tagged scan AND the not-matched anti-join's
        # target side to the overlapping files, exactly the
        # upsert/_prune_by_keys envelope. Detection is conjunct-anchored
        # and fails closed (no match → full scan, still correct).
        candidates = entries
        on_key_col = self._mi_on_key_col(on, ta, sa)
        if entries and on_key_col is not None and not not_matched_by_source:
            # a NOT MATCHED BY SOURCE clause may claim ANY target row —
            # key pruning (which reasons only about rows the source CAN
            # match) would skip files holding claimable unmatched rows
            # no .distinct(): _prune_by_keys is duplicate-tolerant
            src_keys = source.select(
                F.col(on_key_col).alias(self.key)
            )
            candidates = self._prune_by_keys(entries, src_keys)
        rewrite_entries: list[dict] = []
        if candidates and matched:
            tagged = self._read_entries(candidates, with_file=True).alias(ta)
            pairs = tagged.join(src, on_cond, "inner").select(
                F.col(f"{ta}.{self.key}").alias("__mi_k"), "_file"
            )
            # ONE Spark job answers both metadata questions (per-commit
            # cost is job count, r6 profile): max matches per target key
            # (cardinality gate) and the distinct touched-file list
            # (manifest-bounded) come from a single two-level aggregate —
            # the one place touched files are found outside _touched.
            stats = pairs.groupBy("__mi_k").agg(
                F.count(F.lit(1)).alias("__mi_n"),
                F.collect_set("_file").alias("__mi_f"),
            )
            row = stats.agg(
                F.max("__mi_n").alias("mx"),
                F.array_distinct(F.flatten(F.collect_list("__mi_f"))).alias(
                    "files"
                ),
            ).collect()[0]
            if row["mx"] is not None and row["mx"] > 1:
                raise _cardinality_violation()
            files = set(self._to_rel(row["files"] or []))
            rewrite_entries = [e for e in candidates if e["path"] in files]
        if not_matched_by_source:
            # a by-source clause widens the rewrite to EVERY candidate
            # file (any unmatched target row may be claimed — the
            # documented cost of the clause family)
            rewrite_entries = candidates
        if not rewrite_entries and not not_matched:
            # evolving no-op merges still record the widened schema
            self._publish(
                commit, "merge", [], [], table_schema if evolved else None
            )
            return commit
        ins_rows = None
        ins_keys = None
        coll_removed: list[str] = []
        if not_matched:
            if candidates:
                # a target row outside `candidates` can't match any
                # source row (key-range disjoint), so the anti-join's
                # target side shrinks with the same prune
                tgt_all = self._read_entries(candidates).alias(ta)
                unmatched = src.join(tgt_all, on_cond, "left_anti")
            else:
                unmatched = src
            # Duplicate unmatched keys in the source must collapse to
            # ONE inserted row (max precombine, the upsert contract) —
            # inserting both would break the keyed snapshot invariant.
            # Both branches dedup their insert set alone. Inserts are NEW
            # rows entering the table, so the write-side constraint
            # gate applies to them (the rewritten rows stay ungated —
            # quarantining rows the table already owns on a rewrite
            # would be spurious data loss).
            ins_src = self._gate_constraints(_insert_rows(unmatched))
            ins_rows = (
                self._dedup_batch(ins_src)
                .withColumn(META_COL, F.lit(commit))
                .select(*table_cols)
            )
            # Colliding inserts also retire the stored row from files
            # outside the rewrite. Key multiset from the gated PRE-dedup
            # frame (the _merge_write discipline): deriving it from the
            # deduped rows would replay the dedup groupBy per consumer.
            ins_keys = _colliding_keys(ins_src)
            if ins_keys is not None:
                rewritten = {e["path"] for e in rewrite_entries}
                remaining = [e for e in entries if e["path"] not in rewritten]
                coll = (
                    self._touched(
                        self._prune_by_keys(remaining, ins_keys), ins_keys
                    )
                    if remaining
                    else []
                )
                if coll:
                    ins_rows = (
                        _widen(self._read_entries(coll))
                        .join(ins_keys, self.key, "left_anti")
                        .unionByName(ins_rows)
                    )
                    coll_removed = [e["path"] for e in coll]

        def apply_clauses(rows: DataFrame) -> DataFrame:
            out = _resolve(rows, table_cols, ins_keys, commit)
            if has_delete:
                out = out.where(~F.col("__mi_del"))
            return out.select(*table_cols)

        return self._rewrite(
            commit, "merge", rewrite_entries, apply_clauses,
            new_rows=ins_rows, removed=coll_removed,
        )

    def alter_partition_spec(self, fields: list[str]) -> str:
        """Partition-spec evolution (Iceberg's signature capability): new
        writes lay out hive-style by ``fields``; ALREADY-WRITTEN files
        are untouched and stay readable — their rows still carry the
        column in the data (they were written under the old spec), while
        new files surface it from directory names, and the per-commit
        basePath read branches resolve each vintage correctly. Pruning
        degrades gracefully across vintages: new files prune by their
        recorded partition values, old files lack those stats and are
        conservatively kept (`_stats_match`), and dynamic
        insert_overwrite refuses to attribute old-spec files to a new-
        spec partition (it keeps them — duplicates are recoverable,
        deleting another spec's data is not). ``compact()`` rewrites the
        whole table under the current spec — the migration finisher.
        """
        schema = self._schema()
        for c in fields:
            if schema is not None and c not in schema.fieldNames():
                raise ValueError(f"unknown partition column {c!r}")
            if c in (self.key, self.precombine, META_COL):
                raise ValueError(
                    f"cannot partition on structural column {c!r}"
                )
        self.meta["partition_fields"] = list(fields)
        write_json(posixpath.join(self.path, "_table.json"), self.meta)
        commit = self._next_commit()
        self._publish(commit, "alter_partition_spec", [], [], schema)
        return commit

    def alter_drop_column(self, col: str) -> str:
        """Metadata-only column drop (Delta/Iceberg DROP COLUMN shape —
        schema evolution beyond the add-on-append the table already
        does): publishes a commit whose manifest schema omits ``col``.
        NO data is rewritten — old files keep the bytes, and every read
        projects them away because ``_read_entries`` scans with the
        explicit manifest schema (parquet ignores file columns the read
        schema doesn't name). Time travel to a commit before the drop
        still surfaces the column (``_schema(as_of)`` walks the
        timeline); later rewrites (upsert/compaction) physically shed
        the bytes file by file. Re-adding a same-named column later is
        ordinary evolution-on-append: old files surface it as null, not
        as the resurrected old bytes, because any file written before
        the re-add is read under a schema where the column is new.
        """
        reserved = {
            self.key,
            self.precombine,
            META_COL,
            *(self.meta.get("partition_fields") or []),
        }
        if col in reserved:
            raise ValueError(
                f"cannot drop {col!r}: key/precombine/meta/partition "
                "columns are structural"
            )
        schema = self._schema()
        if schema is None or col not in schema.fieldNames():
            raise ValueError(f"no such column {col!r} in current schema")
        new_schema = StructType(
            [f for f in schema.fields if f.name != col]
        )
        commit = self._next_commit()
        self._publish(commit, "alter_drop_column", [], [], new_schema)
        return commit

    def alter_add_columns(self, cols: list[tuple[str, str]]) -> str:
        """Metadata-only column add (``ALTER TABLE .. ADD COLUMNS``,
        the explicit-DDL mirror of the evolution-on-append the write
        paths already do): publishes a commit whose manifest schema
        appends each ``(name, spark_ddl_type)`` as a nullable field. NO
        data is rewritten — every read scans with the manifest schema,
        so files written before the add surface the new columns as
        typed nulls, and time travel to an earlier commit doesn't see
        them at all (``_schema(as_of)``). New fields slot in BEFORE the
        meta column so user columns stay contiguous.
        """
        schema = self._schema()
        if schema is None:
            raise ValueError(
                "cannot ADD COLUMNS to a table with no commits yet "
                "(no schema to widen — write a first batch instead)"
            )
        existing = {f.name for f in schema.fields}
        added: list[StructField] = []
        for name, ddl_type in cols:
            if name in existing or any(f.name == name for f in added):
                raise ValueError(f"column {name!r} already exists")
            try:
                field = StructType.fromDDL(f"`{name}` {ddl_type}").fields[0]
            except Exception as e:  # Spark's parser error, re-anchored
                raise ValueError(
                    f"cannot parse column type {ddl_type!r} for "
                    f"{name!r}: {e}"
                ) from None
            added.append(StructField(field.name, field.dataType, True))
        fields = [f for f in schema.fields if f.name != META_COL]
        meta_fields = [f for f in schema.fields if f.name == META_COL]
        new_schema = StructType([*fields, *added, *meta_fields])
        commit = self._next_commit()
        self._publish(commit, "alter_add_columns", [], [], new_schema)
        return commit

    def alter_column_type(self, col: str, new_type: str) -> str:
        """Metadata-only type WIDENING (Hudi 1.0 / Spark ``ALTER TABLE
        .. ALTER COLUMN .. TYPE`` — type promotion): publishes a commit
        whose manifest schema carries the wider type; NO data is
        rewritten. Spark's parquet reader upcasts the old files'
        physical type at scan time (int32→bigint, float→double, decimal
        widening — verified native in this Spark), so every read —
        snapshot, incremental, time travel BEFORE the alter — stays
        exact. Only same-class widening is legal: integral→wider
        integral, float→double, decimal(p,s)→decimal(p'+k, s) with
        non-shrinking integer digits; anything else (narrowing,
        string→int, int→double) raises — those need a rewrite the user
        must opt into (CTAS).

        Bucket tables stay consistent under key widening for free: the
        bucket function canonicalizes integral keys to long before
        hashing, so pre- and post-alter batches hash identically.
        """
        from pyspark.sql import types as T

        schema = self._schema()
        if schema is None:
            raise ValueError(
                "cannot ALTER COLUMN on a table with no commits yet"
            )
        if col == META_COL:
            raise ValueError(f"{META_COL} is a system column")
        field = next((f for f in schema.fields if f.name == col), None)
        if field is None:
            raise ValueError(f"no column {col!r} in the table schema")
        try:
            new_dt = StructType.fromDDL(f"`{col}` {new_type}").fields[0].dataType
        except Exception as e:
            raise ValueError(
                f"cannot parse type {new_type!r}: {e}"
            ) from None
        old_dt = field.dataType
        rank = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
        ok = False
        if type(old_dt) in rank and type(new_dt) in rank:
            ok = rank[type(new_dt)] > rank[type(old_dt)]
        elif isinstance(old_dt, T.FloatType) and isinstance(new_dt, T.DoubleType):
            ok = True
        elif isinstance(old_dt, T.DecimalType) and isinstance(
            new_dt, T.DecimalType
        ):
            ok = (
                new_dt.scale == old_dt.scale
                and new_dt.precision > old_dt.precision
            )
        if not ok:
            raise ValueError(
                f"ALTER COLUMN TYPE only widens within a type class "
                f"({old_dt.simpleString()} → {new_dt.simpleString()} is "
                f"not a widening); use CTAS for a rewriting conversion"
            )
        new_schema = StructType(
            [
                StructField(f.name, new_dt if f.name == col else f.dataType,
                            f.nullable)
                for f in schema.fields
            ]
        )
        commit = self._next_commit()
        self._publish(commit, "alter_column_type", [], [], new_schema)
        return commit

    def alter_rename_column(self, old: str, new: str) -> str:
        """Metadata-only column RENAME (Hudi 1.0 / Iceberg ``ALTER TABLE
        .. RENAME COLUMN`` — completes the schema-evolution triad next
        to DROP and TYPE-widen): publishes a commit whose manifest
        schema carries the new name AND a cumulative ``field_ids`` map
        (the Iceberg-field-id analog) in which the new name keeps the
        old name's stable id. NO data is rewritten — files written
        before the rename keep the old physical column name, and every
        read resolves it through :meth:`_vintage_mappings` (scan under
        the physical name, alias back). Time travel BEFORE the rename
        sees the old name (``_schema(as_of)``); reads of the old name
        after it fail analysis like any unknown column. Later rewrites
        (upsert/compaction) physically migrate files to the new name.

        Structural columns (key, precombine, partition fields, the meta
        column) are refused — bucket hashing, hive dir names, and the
        merge kernel all bind to them by name. Columns covered by a
        named index MIGRATE with the rename (r13): the secondary-index
        payload relocates under the new name (its (value, file) content
        is name-independent), expression-index metas get the identifier
        rewritten quote-aware (r14 — literals pass through untouched,
        so ``concat(col, 'col')`` renames only the reference), and
        auto_index specs update — pruning stays exact through the
        rename with no manual drop/rebuild. The one fail-closed case
        left: an expression whose quoting cannot be lexed (unterminated
        literal).
        Record/bucket/bloom indexes key on the (structural) table key
        and are unaffected by definition.
        """
        schema = self._schema()
        if schema is None:
            raise ValueError(
                "cannot RENAME COLUMN on a table with no commits yet"
            )
        reserved = {
            self.key,
            self.precombine,
            META_COL,
            *(self.meta.get("partition_fields") or []),
        }
        if old in reserved:
            raise ValueError(
                f"cannot rename {old!r}: key/precombine/meta/partition "
                "columns are structural"
            )
        if old not in schema.fieldNames():
            raise ValueError(f"no such column {old!r} in current schema")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        # Index coverage migrates WITH the rename (r13, lifting the r12
        # fail-closed refusal): the payloads are name-KEYED but name-
        # INDEPENDENT in content — a secondary index stores (value,
        # file) pairs whatever the column is called, and an expression
        # index is keyed by its own name — so the rename relocates the
        # sidecars/meta under the new name instead of forcing a manual
        # drop+rebuild. Migration runs AFTER the commit publishes: a
        # crash between the two leaves an orphaned old-name payload,
        # which every pruner treats as absent (no pruning, never wrong
        # pruning — the index staleness contract).
        indexes = self._file_indexes()
        move_secondary = any(
            i["kind"] == "secondary" and i["name"] == old for i in indexes
        )
        word = re.compile(rf"\b{re.escape(old)}\b")
        expr_rewrites: dict[str, str] = {}
        for e in indexes:
            if e["kind"] != "expression":
                continue
            expr = e.get("expr") or ""
            try:
                # quote-aware rewrite (r14, lifting the r13 literal
                # refusal): identifiers rename only in text segments —
                # a literal that happens to contain the word survives
                # untouched, and a word appearing ONLY inside literals
                # needs no migration at all
                new_expr = _rewrite_ident(expr, old, new)
            except ValueError:
                # genuinely unparseable (unterminated quote) — the one
                # case that stays fail-closed
                raise ValueError(
                    f"column {old!r} may appear in expression index "
                    f"{e.get('name')!r} whose expression "
                    f"({expr[:60]!r}) cannot be lexed — drop and "
                    "recreate it around the rename"
                )
            if new_expr != expr:
                expr_rewrites[e["name"]] = new_expr
        for cname, cexpr in (self.meta.get("constraints") or {}).items():
            if word.search(str(cexpr)):
                raise ValueError(
                    f"column {old!r} appears in constraint {cname!r} "
                    f"({cexpr!r}) — every later write would fail "
                    "analysis; drop/re-declare the constraint around "
                    "the rename"
                )
        vals = self.meta.get("pre_commit_validators") or {}
        for q in list(vals.get("equality") or []) + [
            q for q, _ in (vals.get("single_result") or [])
        ]:
            if word.search(str(q)):
                raise ValueError(
                    f"column {old!r} appears in a pre-commit validator "
                    f"({str(q)[:60]!r}) — every later commit would "
                    "abort; re-declare the validator around the rename"
                )
        prev_ids = self._field_ids() or {
            f.name: f.name for f in schema.fields
        }
        new_ids = {
            (new if n == old else n): i for n, i in prev_ids.items()
        }
        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType,
                            f.nullable)
                for f in schema.fields
            ]
        )
        # monotone flag: once set, reads pay the (cheap) vintage-mapping
        # check forever — restore-safe because the mappings themselves
        # are derived from the timeline, not from this flag. Written
        # BEFORE the publish on purpose (a spurious flag is harmless;
        # a missing one mis-reads old files), while the auto_index spec
        # rewrite waits until AFTER: a lost OCC race or crash between a
        # pre-publish spec rewrite and the publish would leave meta
        # naming a column the schema never got (every later write's
        # index maintenance would fail) — r13 review finding. The
        # residual crash window (publish lands, spec rewrite doesn't)
        # degrades to skipped index extension, never a failed write —
        # see the absent-column guard in _maintain_auto_indexes.
        self.meta["has_renames"] = True
        write_json(posixpath.join(self.path, "_table.json"), self.meta)
        commit = self._next_commit()
        self._publish(
            commit, "alter_rename_column", [], [], new_schema,
            field_ids=new_ids,
        )
        specs = self.meta.get("auto_index") or []
        old_spec = _auto_index_spec("secondary", old)
        if old_spec in specs:
            self.meta["auto_index"] = [
                _auto_index_spec("secondary", new) if s == old_spec else s
                for s in specs
            ]
            write_json(
                posixpath.join(self.path, "_table.json"), self.meta
            )
        if move_secondary:
            odir, ometa = self._index_paths("secondary", old)
            ndir, nmeta = self._index_paths("secondary", new)
            # unpublish, move, publish under the new name: a crash in
            # between leaves a meta-less payload (no index)
            m = read_json(ometa)
            self.fs.delete(ometa)
            # directory-emptiness probe via list with a trailing '/',
            # NOT exists(): S3 exists() is head_object and a prefix is
            # not an object, so an exists() gate would skip the payload
            # move while the meta migrated (r13 review finding)
            if self.fs.list(odir.rstrip("/") + "/"):
                self.fs.move(odir, ndir)
            m["column"] = new
            write_json(nmeta, m)
        for name, new_expr in expr_rewrites.items():
            mpath = self._index_paths("expression", name)[1]
            m = read_json(mpath)
            m["expr"] = new_expr
            write_json(mpath, m)
        return commit

    def partial_update(self, df: DataFrame) -> str:
        """Column-subset upsert (the Hudi ``PARTIAL_UPDATE`` payload
        surface, admitted by ``hoodie.datasource.write.payload.class`` on
        the writer the reference parameterizes at
        ``create_hudi_tables.py:93-221``): the batch carries the key, the
        precombine column, and ANY subset of the table's columns — matched
        rows take the batch's non-null values column-by-column and keep
        their existing values everywhere else (including columns the
        batch omits entirely); unmatched keys insert with nulls for the
        missing columns. A null in a carried batch column means "keep the
        old value", exactly the partial-update payload contract.

        Ordering is by PRECOMBINE against the stored row, like Hudi's
        payload: a matched batch row whose precombine is older than the
        stored row's is discarded whole (the stored row survives
        unchanged, original ``_commit_time`` kept) — late-arriving data
        can't clobber newer state. Equal precombine → incoming wins.

        COW: the rewrite kernel (see :meth:`upsert`), with the column
        merge as the transform — a single key-equi join between the
        touched rows and the (deduped) batch: at 100 TB both sides
        shuffle on the key once, and the batch side is usually the small
        one (AQE broadcasts it).

        MOR tables (r13, lifting the r12 COW-only limitation): the
        column merge resolves at WRITE time against the merge view of
        the touched files — never read-side, so the O(1)-column merge
        view is untouched. Winning matched rows and new keys append as
        FULL-ROW deltas (newest commit, so the unchanged merge view
        picks them); losing matched rows are simply not emitted (the
        stored winner already lives in the base/delta chain — no
        rewrite obligation on MOR). Cost: O(touched files) read +
        O(batch) delta write — the read the COW path pays too, minus
        its O(touched) rewrite.
        """
        df, commit, batch = self._stage_batch(df)
        table_schema = self._schema()
        entries = self.current_files()
        if table_schema is None or not entries:
            # first write: nothing to merge against
            added = self._write_files(batch, commit)
            self._publish(commit, "partial_update", added, [], batch.schema)
            return commit
        update_cols = [c for c in batch.columns if c not in (self.key, META_COL)]
        # key multiset from the gated frame (see _merge_write)
        keys = df.select(self.key)
        touched = self._touched(self._prune_by_keys(entries, keys), keys)
        mor = self.table_type == "mor"
        # One full-outer join on the key merges columns: batch-carried
        # columns coalesce (batch non-null wins), omitted columns come
        # from the old row (null for brand-new keys).
        #
        # PRECOMBINE-ORDERED, like Hudi's partial-update payload (r5
        # advice): a matched batch row only applies when its precombine
        # is >= the stored row's — a late-arriving older batch can never
        # overwrite newer data. Null precombine ranks below any non-null
        # (same contract as _dedup_batch); equal precombine → incoming
        # wins (the engine's upsert tie bias). A losing matched row is
        # rewritten byte-identical, keeping its original _commit_time.
        old_pc, new_pc = (
            F.col(f"_o.{self.precombine}"),
            F.col(f"_n.{self.precombine}"),
        )
        # A batch row must actually be MATCHED to win: without the
        # new-key guard, an old row with NULL precombine and no batch
        # counterpart would evaluate coalesce(null, true) and get its
        # _commit_time restamped, spuriously surfacing in incremental /
        # CDC reads. The semi-join on the old side makes that
        # unreachable today; the guard keeps the predicate correct on
        # its own terms.
        batch_wins = F.col(f"_o.{self.key}").isNull() | (
            F.col(f"_n.{self.key}").isNotNull()
            & F.coalesce(new_pc >= old_pc, old_pc.isNull())
        )
        merged_cols = []
        table_cols = [
            f.name for f in table_schema.fields if f.name != "_deleted"
        ]
        for c in table_cols:
            if c == self.key:
                merged_cols.append(
                    F.coalesce(F.col(f"_o.{c}"), F.col(f"_n.{c}")).alias(c)
                )
            elif c == META_COL:
                merged_cols.append(
                    F.when(batch_wins, F.lit(commit))
                    .otherwise(F.col(f"_o.{c}"))
                    .alias(c)
                )
            elif c in update_cols:
                merged_cols.append(
                    F.when(
                        batch_wins, F.coalesce(F.col(f"_n.{c}"), F.col(f"_o.{c}"))
                    )
                    .otherwise(F.col(f"_o.{c}"))
                    .alias(c)
                )
            else:
                merged_cols.append(F.col(f"_o.{c}").alias(c))
        # schema evolution: batch columns the table has never seen append
        # (null for rows whose batch update lost the precombine order)
        for c in update_cols:
            if c not in table_cols:
                merged_cols.append(
                    F.when(batch_wins, F.col(f"_n.{c}")).alias(c)
                )

        def merged(matched_old: DataFrame) -> DataFrame:
            joined = matched_old.alias("_o").join(
                batch.alias("_n"),
                F.col(f"_o.{self.key}") == F.col(f"_n.{self.key}"),
                "full_outer",
            )
            # MOR: losers drop (the stored winner stays in the chain);
            # winners + new keys append as full-row deltas
            return (joined.where(batch_wins) if mor else joined).select(
                *merged_cols
            )

        # the old side when no file is touched: every batch key is new
        nothing = self._read_entries([]).limit(0)
        if "_deleted" in nothing.columns:  # MOR read schema
            nothing = nothing.drop("_deleted")
        if not mor:
            return self._rewrite(
                commit, "partial_update", touched,
                lambda rows: rows.join(keys, self.key, "left_anti").unionByName(
                    merged(rows.join(keys, self.key, "left_semi")),
                    allowMissingColumns=True,
                ),
                new_rows=None if touched else merged(nothing),
            )
        # MOR: the current value per touched key is the merge view over
        # the touched files (every version of a touched key lives in a
        # touched file, by definition of touched); nothing rewrites
        old = (
            self._merge_view(self._read_entries(touched)).join(
                keys, self.key, "left_semi"
            )
            if touched
            else nothing
        )
        out = merged(old)
        added = self._write_files(out, commit, kind="delta")
        self._publish(commit, "partial_update", added, [], out.schema)
        return commit

    # -- write internals -------------------------------------------------

    def _validate_batch(self, df: DataFrame, need_precombine: bool = True) -> None:
        missing = [
            c
            for c in ([self.key, self.precombine] if need_precombine else [self.key])
            if c not in df.columns
        ]
        if missing:
            raise ValueError(
                f"batch is missing required column(s) {missing} "
                f"(key={self.key!r}, precombine={self.precombine!r})"
            )
        if META_COL in df.columns:
            raise ValueError(
                f"batch must not carry the reserved meta column {META_COL!r}; "
                "drop it before writing"
            )
        if self.table_type == "mor" and "_deleted" in df.columns:
            raise ValueError(
                "batch must not carry the reserved MOR tombstone column "
                "'_deleted'; use delete()/merge(delete_col=...) instead"
            )
        # Schema enforcement (Delta-style): a batch column whose TYPE
        # CLASS differs from the table's (string vs numeric vs temporal
        # vs bool vs nested) is a pipeline bug that would otherwise
        # surface as a confusing union/parquet error downstream — or
        # worse, a silent lossy coercion. Within-class drift (int→long,
        # decimal precision growth from aggregation) stays allowed, as
        # does appending brand-new columns (evolution-on-append).
        schema = self._schema()
        if schema is not None:
            cur = {f.name: _type_class(f.dataType) for f in schema.fields}
            drift = [
                f"{f.name}: batch {f.dataType.simpleString()} vs table "
                f"{dict((x.name, x.dataType.simpleString()) for x in schema.fields)[f.name]}"
                for f in df.schema.fields
                if f.name in cur and _type_class(f.dataType) != cur[f.name]
            ]
            if drift:
                raise ValueError(
                    "batch column type class differs from table schema — "
                    "refusing a lossy/ambiguous write: " + "; ".join(drift)
                )

    def _quarantine_dir(self) -> str:
        return posixpath.join(self.path, "_quarantine")

    def quarantine(self) -> DataFrame:
        """Rows diverted by write-side constraints: the batch columns
        plus ``_violation`` (comma-joined failed-constraint names, in
        declaration order) and ``_quarantined_at``. Append-only: a write
        retried under ``occ_retries`` re-evaluates the batch and may
        re-append the same violators — dedup downstream on the key if
        exactly-once quarantine rows matter."""
        qd = self._quarantine_dir()
        if not self.fs.exists(qd):
            raise ValueError(f"no quarantined rows at {qd}")
        return self.spark.read.parquet(qd)

    def _gate_constraints(
        self, df: DataFrame, carry: Sequence[str] = ()
    ) -> DataFrame:
        """Delta-expectations-style ingest gate: evaluate every declared
        constraint (SQL boolean expr) per row; rows failing ANY — false
        or NULL, the strict ingest-quality reading, unlike SQL CHECK
        where NULL passes — are appended to the quarantine store with
        the failed names, and only clean rows continue to the write.
        One extra pass over the batch (the quarantine write) only when
        violations exist; the flag evaluation itself fuses into the
        batch's first projection. ``carry`` names internal columns that
        ride through to the clean rows but are not quarantined."""
        cons = self.meta.get("constraints") or {}
        if not cons:
            return df
        flags = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.coalesce(F.expr(expr), F.lit(False)), F.lit(name)
                    )
                    for name, expr in cons.items()
                ]
            )
        )
        # Materialize the tagged batch ONCE before splitting it: the
        # quarantine branch and the clean branch below are separate
        # actions, and re-running a non-deterministic source lineage
        # (sample(), uuid(), unstable limit) for each could quarantine a
        # row AND write it, or drop it from both (r5 advice). persist
        # (spill-safe, lazily computed by the first action) rather than
        # an eager localCheckpoint: no extra pass for the common
        # deterministic batch, and the blocks are RELEASED deterministic-
        # ally after the commit publishes (_publish drains
        # _pending_unpersist) instead of lingering until driver GC — a
        # long-running constrained writer stays storage-bounded.
        from pyspark import StorageLevel

        tagged = df.withColumn("_viol", flags).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._pending_unpersist.append(tagged)
        bad = tagged.where(F.size("_viol") > 0)
        if not bad.isEmpty():
            (
                bad.withColumn("_violation", F.array_join("_viol", ","))
                .withColumn("_quarantined_at", F.lit(_utcnow()))
                .drop("_viol", *carry)
                .write.mode("append")
                .parquet(self._quarantine_dir())
            )
        return tagged.where(F.size("_viol") == 0).drop("_viol")

    def _constraints_hold(self):
        """The row predicate :meth:`_gate_constraints` lets through:
        every declared constraint true (false and NULL both fail)."""
        ok = F.lit(True)
        for expr in (self.meta.get("constraints") or {}).values():
            ok = ok & F.coalesce(F.expr(expr), F.lit(False))
        return ok

    def _dedup_batch(self, df: DataFrame) -> DataFrame:
        # max(precombine) per key wins; equal precombine → last row in
        # batch order wins (deterministic within a run, like Hudi's
        # reduce-by-key over shuffled pairs).
        #
        # Expressed as a partial-aggregatable max_by, NOT a row_number
        # window: a window puts every row of a key on one partition, so a
        # hot-key batch (one key = half the rows — the realistic 100 TB
        # upsert skew) serializes on a single task and AQE skew handling
        # can't split it (it only covers sort-merge joins). max_by
        # map-side-combines each partition down to one row per key BEFORE
        # the shuffle, so the hot key crosses the wire once per upstream
        # partition — skew-proof by construction, no salting needed
        # (pinned by tests/test_table.py hot-key test: no Window node,
        # partial aggregation present).
        #
        # Null precombine ordering matches the old desc-nulls-last window:
        # Spark's struct ordering ranks a null field below any non-null,
        # so a null-precombine row only wins if every row for the key is
        # null-precombined (then max _seq = last in batch order wins).
        # internal tie-break column: a RESERVED name, never a plausible
        # user column — the previous '_seq' silently clobbered a user
        # precombine column of the same name (found by the CDC-feed
        # query, r11; F.col() resolves by name against the FINAL plan,
        # so the row struct stored the monotonic id as the user value)
        tie = "__engine_batch_order"
        if tie in df.columns:
            # fail loud instead of moving the '_seq' clobber bug to a
            # rarer name: withColumn would replace the user's values
            # and the row struct resolves by name against the final plan
            raise ValueError(f"{tie!r} is a reserved internal column")
        row = F.struct(*[F.col(c) for c in df.columns])
        order = F.struct(F.col(self.precombine), F.col(tie))
        return (
            df.withColumn(tie, F.monotonically_increasing_id())
            .groupBy(self.key)
            .agg(F.max_by(row, order).alias("_best"))
            .select("_best.*")
        )

    def _stage_batch(
        self, df: DataFrame, dedup: bool = True
    ) -> tuple[DataFrame, str, DataFrame]:
        """The write preamble shared by every batch write: validate,
        constraint-gate, allocate the commit id, resolve within-batch
        duplicates (``dedup``; precombine is required only then) and
        stamp. Returns (gated frame, commit, stamped batch)."""
        self._validate_batch(df, need_precombine=dedup)
        df = self._gate_constraints(df)
        commit = self._next_commit()
        batch = self._dedup_batch(df) if dedup else df
        return df, commit, batch.withColumn(META_COL, F.lit(commit))

    def _merge_write(
        self,
        source: DataFrame,
        action: str,
        delete_col: str | None = None,
        batch_id: str | None = None,
        sink_id: str | None = None,
    ) -> str:
        """The keyed write behind upsert, merge and apply_cdc_feed:
        ``source`` rows upsert, and with ``delete_col`` the rows whose
        flag is true delete their key instead (a NULL flag is not a
        delete — MERGE INTO semantics). COW rewrites through the kernel
        (see :meth:`upsert`); MOR appends one delta commit."""
        upserts, tomb_keys = source, None
        if delete_col is not None:
            flag = F.coalesce(F.col(delete_col), F.lit(False))
            upserts = source.where(~flag).drop(delete_col)
        df, commit, batch = self._stage_batch(upserts)
        if delete_col is not None:
            tomb_keys = source.where(flag).select(self.key)
        if self.table_type == "mor":
            return self._delta_commit(
                commit, batch, tomb_keys, batch_id=batch_id, sink_id=sink_id
            )
        # Key set from the GATED rows (a quarantined update must not
        # touch its stored row), not the deduped batch, and with no
        # .distinct(): every consumer below is duplicate-tolerant —
        # min/max envelope agg, bloom/record-index membership, the
        # touched-files LEFT SEMI join and the survivors LEFT ANTI join
        # all give identical results on a multiset of keys. Deriving
        # keys from ``batch`` instead made each of those consumers
        # replay the full-width dedup groupBy shuffle (measured: 3 extra
        # dedup executions per merge commit); from the gated rows they
        # replay only a column-pruned scan, and dropping the distinct
        # removes one exchange from every consumer. (An explicit persist
        # of the deduped batch was also tried: the cache write + static-
        # partition cache reads cost MORE than the recomputation at
        # every probed size — 1.05-1.35x slower, reverted.)
        keys = df.select(self.key)
        if delete_col is not None:
            # plus the delete keys, in ONE scan of the source (a union of
            # two scans would cost an extra Spark job)
            keys = source.where(flag | self._constraints_hold()).select(
                self.key
            )
        entries = self.current_files()
        touched = (
            self._touched(self._prune_by_keys(entries, keys), keys)
            if entries
            else []
        )
        return self._rewrite(
            commit, action, touched,
            lambda rows: rows.join(keys, self.key, "left_anti"),
            new_rows=batch, batch_id=batch_id, sink_id=sink_id,
        )

    def _delta_commit(
        self,
        commit: str,
        batch: DataFrame | None = None,
        tomb_keys: DataFrame | None = None,
        **publish_kw,
    ) -> str:
        """One MOR delta commit carrying the stamped upsert rows and the
        tombstones of ``tomb_keys`` (one file set, one manifest): an
        incremental reader never observes a torn merge where updates
        landed but deletes haven't. A key both upserted and tombstoned
        resolves to DELETE. The read-side merge reconciles; nothing is
        rewritten."""
        out = batch
        if tomb_keys is not None:
            tomb_keys = tomb_keys.distinct()  # tomb ROWS: one per key
            tomb = tomb_keys.withColumn(META_COL, F.lit(commit)).withColumn(
                "_deleted", F.lit(True)
            )
            if batch is None:
                out = tomb
            else:
                batch = batch.join(tomb_keys, self.key, "left_anti")
                out = batch.withColumn("_deleted", F.lit(False)).unionByName(
                    tomb, allowMissingColumns=True
                )
        added = self._write_files(out, commit, kind="delta")
        # manifest schema stays tombstone-free (the MOR read path widens
        # it, _read_entries)
        self._publish(
            commit, "deltacommit", added, [],
            batch.schema if batch is not None else None, **publish_kw,
        )
        return commit

    def _touched(self, candidates: list[dict], hit) -> list[dict]:
        """Manifest entries of the ``candidates`` holding a matching row:
        ``hit`` is a key frame (semi-join on the key) or a row predicate
        Column. One provenance-tagged scan, one collect of the distinct
        files. Returning entries, not paths, lets the rewrite READ
        exactly those files — no ``isin`` literal list bloating the plan
        at 10⁵ files, no post-scan filter/join."""
        if not candidates:
            return []
        tagged = self._read_entries(candidates, with_file=True)
        tagged = (
            tagged.join(_merge_join_if_unsized(hit), self.key, "left_semi")
            if isinstance(hit, DataFrame)
            else tagged.where(hit)
        )
        files = set(
            self._to_rel(
                [r["_file"] for r in tagged.select("_file").distinct().collect()]
            )
        )
        return [e for e in candidates if e["path"] in files]

    def _rewrite(
        self,
        commit: str,
        action: str,
        touched: list[dict],
        transform,
        new_rows: DataFrame | None = None,
        removed: Sequence[str] = (),
        **publish_kw,
    ) -> str:
        """The COW commit tail: ``transform`` the rows of the ``touched``
        files, union ``new_rows``, write, and publish a manifest that
        removes the touched files (plus ``removed``, files retired
        without a read). A commit with nothing to write publishes an
        empty, schema-less manifest.

        The output is written as files the size Spark reads them
        (:meth:`_write_files`): coalesced to ``ceil(est / split)``
        partitions, ``split`` being Spark's read-split size and ``est``
        the touched files' bytes plus the optimizer's size estimate of
        ``new_rows`` (an estimate: the files' on-disk bytes are exact,
        the new rows' are an upper bound). A small table stays one file.
        The coalesce adds no exchange, so the commit's Spark jobs do not
        change; it is skipped where it would pull real work into fewer
        tasks (a sort-merge join, a window, an upstream stage whose
        shuffle the dedup reuses). Partitioned, bucket and
        ``max_records_per_file`` tables keep their own layout."""
        out = new_rows
        if touched:
            kept = transform(self._read_entries(touched))
            out = (
                kept
                if out is None
                else kept.unionByName(out, allowMissingColumns=True)
            )
        removed = [*(e["path"] for e in touched), *removed]
        if out is None:
            self._publish(commit, action, [], removed, None, **publish_kw)
            return commit

        def size_est() -> int:
            # the touched files' recorded bytes plus the optimizer's
            # estimate of the new rows
            est = sum(self._entry_status(e)[1] for e in touched)
            if new_rows is not None:
                plan = new_rows._jdf.queryExecution().optimizedPlan()
                est += int(plan.stats().sizeInBytes())
            return est

        added = self._write_files(out, commit, size_est=size_est)
        self._publish(commit, action, added, removed, out.schema, **publish_kw)
        return commit

    def _to_rel(self, abs_paths: list[str]) -> list[str]:
        base = self.path.rstrip("/") + "/"
        out = []
        for p in abs_paths:
            # _metadata.file_path is a URI: a partition value with a
            # space or '%' is percent-encoded there, but not in the
            # manifest's paths. Decode once; unquote, unlike Spark's
            # url_decode, keeps '+' as it is.
            norm = unquote(p)
            if norm.startswith("file:"):
                norm = "/" + norm.split(":", 1)[1].lstrip("/")
            if not norm.startswith(base):
                if self.meta.get("bootstrap_commit"):
                    # external bootstrap file — manifests key it by its
                    # absolute path, so that IS its live-set identifier
                    out.append(norm)
                    continue
                raise ValueError(f"file {p} outside table root {base}")
            out.append(norm[len(base):])
        return out

    def _prune_by_keys(self, entries: list[dict], keys: DataFrame) -> list[dict]:
        """Candidate files for a keyed write: the one key-probe pass
        (:meth:`_key_probe`: bucket, range and bloom tests), then, when a
        record-level index exists, exact per-key containment pruning
        (:meth:`TableServices.build_record_index`)."""
        return self._prune_by_record_index(self._key_probe(entries, keys), keys)

    def _key_probe(self, entries: list[dict], keys: DataFrame) -> list[dict]:
        """The ``entries`` that may hold one of the batch ``keys`` — Hudi's
        HoodieBloomIndex key → candidate-file lookup. The driver gives
        each file up to three tests, from metadata alone:

        - bucket: the file's ``_bucket_id`` [min, max] under the modulus
          it was written with (bucket tables; :meth:`_entry_modulus`);
        - range: the file's key [min, max] footer stats, when the live
          set is over :data:`PRUNE_MIN_FILES` files and batch and table
          key share a domain that sorts like the column (integral,
          fractional, string or date; :func:`_probe_domain`);
        - bloom: the file's filter (bloom tables; see :mod:`.bloom`).
          Filters broadcast up to :data:`.bloom.BLOOM_BROADCAST_CAP`
          total bytes; files whose filter does not fit keep their other
          tests. Past :data:`.bloom.BLOOM_NARROW_BYTES` of filters on a
          ranged table, one extra Spark job takes the batch's key
          envelope first, and only the files it overlaps stay candidates
          and ship their filters.

        A file is kept when at least one key passes every test it has;
        a file with no test is kept. That is never looser than testing
        the batch's key envelope and then each filter, and the touched
        set (:meth:`_touched`) is the same either way. The tests
        broadcast, and ONE map-only Spark job — no aggregate, so no
        exchange — tests each partition's keys
        (:func:`_key_probe_batch`) and returns the ids of the files they
        hit (plus the bucket ids seen, for ``_last_bucket_prune``). No
        file with a test → no job.

        A keys frame typed in another class than the table key (int keys
        against a string-keyed table — Spark would cast in the
        downstream semi-join) keeps every file: its buckets, ranges and
        hashes are in the wrong domain."""
        n = self._bucket_count()
        bloomed = self.meta.get("index_type") == "bloom"
        ranged = len(entries) > PRUNE_MIN_FILES
        if not entries or not (n or bloomed or ranged):
            return entries
        schema = self.effective_schema()
        tf = (
            next((f for f in schema.fields if f.name == self.key), None)
            if schema is not None
            else None
        )
        bf = next((f for f in keys.schema.fields if f.name == self.key), None)
        if (
            tf is None
            or bf is None
            or _type_class(tf.dataType) != _type_class(bf.dataType)
        ):
            return entries
        import numpy as np

        from .bloom import BLOOM_BROADCAST_CAP, BLOOM_NARROW_BYTES, bloom_decode

        dom = _probe_domain(tf.dataType, bf.dataType) if ranged else None
        rngs = [self._probe_range(e, dom) for e in entries]
        blooms = (
            self._bloom_for_entries(entries) if bloomed else [None] * len(entries)
        )
        if dom and sum(b["m"] // 8 for b in blooms if b) > BLOOM_NARROW_BYTES:
            lo, hi = keys.agg(F.min(self.key), F.max(self.key)).first()
            if lo is None:
                return []
            lo, hi = _probe_value(dom, lo), _probe_value(dom, hi)
            # a NaN bound compares False both ways: every file stays
            keep = [
                i
                for i, r in enumerate(rngs)
                if r is None or not (hi < r[0] or lo > r[1])
            ]
            entries, rngs, blooms = (
                [xs[i] for i in keep] for xs in (entries, rngs, blooms)
            )
        room = BLOOM_BROADCAST_CAP
        for i, b in enumerate(blooms):
            if b is not None:
                if b["m"] // 8 > room:
                    blooms[i] = None
                else:
                    room -= b["m"] // 8
        # after a metadata-only resize_buckets the live set can mix
        # moduli, and a key's bucket differs per modulus: one bucket
        # column per DISTINCT modulus (normally exactly one)
        moduli = sorted({self._entry_modulus(e, n) for e in entries}) if n else []
        fid, rpos, los, his, mod, blo, bhi, decoded = ([] for _ in range(8))
        for i, e in enumerate(entries):
            bst = e.get("stats", {}).get(BUCKET_COL) if n else None
            if bst and bst[0] is None:
                bst = None
            if rngs[i] is None and not bst and blooms[i] is None:
                continue
            s = len(fid)
            fid.append(i)
            if rngs[i] is not None:
                rpos.append(s)
                los.append(rngs[i][0])
                his.append(rngs[i][1])
            mod.append(moduli.index(self._entry_modulus(e, n)) if bst else -1)
            blo.append(int(bst[0]) if bst else 0)
            bhi.append(int(bst[1]) if bst else 0)
            if blooms[i] is not None:
                decoded.append((s, bloom_decode(blooms[i])))
        if not fid:
            return entries
        dtype = _PROBE_TYPES[dom][0] if dom else object
        spec = {
            "domain": dom,
            "fid": np.array(fid, dtype=np.int64),
            "rpos": np.array(rpos, dtype=np.int64),
            "lo": np.array(los, dtype=dtype),
            "hi": np.array(his, dtype=dtype),
            "mod": np.array(mod, dtype=np.int64),
            "blo": np.array(blo, dtype=np.int64),
            "bhi": np.array(bhi, dtype=np.int64),
            "blooms": decoded,
        }
        bc = self.spark.sparkContext.broadcast(spec)

        def probe(batches):
            import numpy as np
            import pyarrow as pa

            spec = bc.value
            hit = np.zeros(len(spec["fid"]), dtype=bool)
            seen = [np.empty(0, dtype=np.int64) for _ in moduli]
            for b in batches:
                ok, ids = _key_probe_batch(spec, b, hit)
                hit |= ok
                seen = [np.union1d(a, u) for a, u in zip(seen, ids)]
            out = [(int(f), None, None) for f in spec["fid"][hit]] + [
                (None, j, int(x)) for j, a in enumerate(seen) for x in a
            ]
            if out:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, pa.int32()) for c in zip(*out)],
                    names=["_f", "_n", "_b"],
                )

        col = self._bucket_key_col(keys.schema) if n else None
        rows = (
            keys.select(
                self.key,
                *(
                    F.pmod(F.hash(col), F.lit(nn)).cast("int").alias(f"_b{nn}")
                    for nn in moduli
                ),
            )
            .mapInArrow(probe, "_f int, _n int, _b int")
            .collect()
        )
        hit = {r["_f"] for r in rows}
        tested = set(fid)
        kept = [e for i, e in enumerate(entries) if i not in tested or i in hit]
        if decoded:
            self._last_bloom_prune = {
                "candidates": len(entries),
                "covered": len(decoded),
                "kept": len(kept),
            }
        if n:
            self._last_bucket_prune = {
                "candidates": len(entries),
                "buckets": len({(r["_n"], r["_b"]) for r in rows} - {(None, None)}),
                "kept": len(kept),
                "moduli": moduli,
            }
        return kept

    def _probe_range(self, e: dict, dom: str | None):
        """A file's key [min, max] in the probe domain ``dom``, or None
        (no domain, no stats, or NaN stats)."""
        r = e.get("stats", {}).get(self.key) if dom else None
        if r is None or None in r:
            return None
        lo, hi = _probe_value(dom, r[0]), _probe_value(dom, r[1])
        return None if lo != lo or hi != hi else (lo, hi)

    # -- bloom file index (Hudi hoodie.index.type=BLOOM analog) ---------

    def _bloom_dir(self) -> str:
        return posixpath.join(self.path, "_index", "bloom")

    def _bloom_sidecar_path(self, token: str) -> str:
        """``token`` is the data-DIRECTORY name (``<commit>-<uuid8>``),
        not the bare commit id: the uuid makes the sidecar unique per
        write ATTEMPT, so under optimistic concurrency a loser of the
        manifest-create race can only ever write a sidecar for its own
        orphaned directory — it can never clobber the winner's."""
        return posixpath.join(self._bloom_dir(), f"{token}.json")

    def _bloom_write_key(self, schema: StructType) -> str | None:
        """Key column to bloom-index at write time, or None. Opt-in via
        ``index_type='bloom'`` at create (the reference's
        ``hoodie.index.type = BLOOM`` write config,
        ``create_hudi_tables.py`` storage knobs) or a later
        :meth:`TableServices.build_bloom_index`. Only integral/string
        keys are filtered — their canonical ``str()`` form agrees
        between the pyarrow build side and the Spark probe side; other
        key types simply stay uncovered (range stats still apply)."""
        if self.meta.get("index_type") != "bloom":
            return None
        return self.key if self._key_class(schema) in _INDEX_KEY_CLASSES else None

    def _key_class(self, schema: StructType) -> str | None:
        """The record key's :func:`_type_class` in ``schema``, or None
        when the schema lacks the key. The bloom and bucket indexes
        take :data:`_INDEX_KEY_CLASSES` keys only."""
        field = next((f for f in schema.fields if f.name == self.key), None)
        return None if field is None else _type_class(field.dataType)

    def _bloom_for_entries(
        self, entries: list[dict]
    ) -> list[dict | None]:
        """Per-entry bloom dict (or None = uncovered), from the per-
        write-dir sidecars. Per-FILE entries are immutable once written
        (data files never change), so sidecars cache on the handle; a
        backfill may later APPEND entries for files a failed build left
        out, making a cached copy stale-but-conservative — a missing
        sidecar or missing file entry means 'uncovered', kept, never
        mis-pruned."""
        out: list[dict | None] = []
        for e in entries:
            path = e["path"]
            if not path.startswith("data/"):
                out.append(None)  # external bootstrap file
                continue
            token = path.split("/", 2)[1]
            if token not in self._bloom_sidecars:
                sp = self._bloom_sidecar_path(token)
                if not self.fs.exists(sp):
                    # legacy layout (pre-token sidecars): fall back to
                    # the bare commit id so earlier tables keep coverage
                    legacy = self._bloom_sidecar_path(
                        token.split("-", 1)[0]
                    )
                    if self.fs.exists(legacy):
                        sp = legacy
                try:
                    self._bloom_sidecars[token] = (
                        read_json(sp) if self.fs.exists(sp) else {"files": {}}
                    )
                except Exception:
                    self._bloom_sidecars[token] = {"files": {}}
            out.append(self._bloom_sidecars[token]["files"].get(path))
        return out

    def _prune_by_bloom_value(
        self, entries: list[dict], value
    ) -> list[dict]:
        """Read-side point-lookup pruning: drop covered files whose
        filter excludes ``value`` (a key-equality snapshot filter).
        Driver-side — one key × k probes per candidate, cheaper than
        the manifest loop that produced ``entries``."""
        if self.meta.get("index_type") != "bloom" or not entries:
            return entries
        from .bloom import bloom_decode, hash_pairs_array, might_contain

        h1, h2 = hash_pairs_array([value])
        return [
            e
            for e, b in zip(entries, self._bloom_for_entries(entries))
            if b is None or might_contain(bloom_decode(b), h1, h2)[0]
        ]

    # -- bucket index (Hudi hoodie.index.type=BUCKET analog) ------------

    def _bucket_count(self) -> int | None:
        if self.meta.get("index_type") != "bucket":
            return None
        return int(self.meta["bucket_count"])

    def _bucket_key_col(self, schema: StructType):
        """The key column canonicalized for bucketing, or None when the
        frame lacks the key. Murmur3 (``F.hash``) output depends on the
        input TYPE, and write-side schema enforcement allows within-
        class widening (int→long), so integral keys are cast to long
        before hashing — every batch of the same logical key produces
        the same bucket. Non-integral/string keys are a structural
        error for a bucket table (unlike bloom's silent fall-through:
        the bucket layout IS the table's merge strategy, silently
        disabling it would turn every upsert into a full-range scan)."""
        cls = self._key_class(schema)
        if cls is None:
            return None
        if cls == "integral":
            return F.col(self.key).cast("long")
        if cls == "string":
            return F.col(self.key)
        raise ValueError(
            f"bucket index needs an integral/string record key; "
            f"{self.key!r} is neither"
        )

    def _entry_modulus(self, e: dict, current: int) -> int:
        """The modulus a file was bucketed under: its recorded
        ``bucket_n``; else — for legacy files written before modulus
        recording — the table's count at the FIRST resize
        (``legacy_bucket_count``, stamped by resize_buckets: before any
        resize the count was immutable, so every legacy file shares
        it); else the current count (never-resized table). Without the
        legacy fallback, time-traveled or not-yet-rewritten legacy
        files would prune under a post-resize count and silently drop
        rows (review-confirmed)."""
        return int(
            e.get("bucket_n")
            or self.meta.get("legacy_bucket_count")
            or current
        )

    def _prune_by_bucket_value(self, entries: list[dict], value) -> list[dict]:
        """Read-side point-lookup pruning for bucket tables: resolve the
        value's bucket once (a 1-row Spark expression — kept Spark-side
        so the hash is bit-identical to the write path — memoized per
        handle) and keep only files whose bucket range contains it.
        Safe on MOR and under time travel: a key's bucket is version-
        invariant, so every base/delta/tombstone file of that key sits
        in the same bucket."""
        n = self._bucket_count()
        if not n or not entries:
            return entries
        schema = self.effective_schema()
        if schema is None:
            return entries
        try:
            col = self._bucket_key_col(schema)
        except ValueError:
            return entries
        if col is None:
            return entries
        # resolve the value's bucket once per DISTINCT file modulus
        # (files record bucket_n; generations can mix after a
        # metadata-only resize_buckets — see _key_probe)
        moduli = sorted({self._entry_modulus(e, n) for e in entries})
        bmap: dict[int, int] = {}
        for nn in moduli:
            ck = (value, nn)
            if ck not in self._bucket_value_cache:
                from pyspark.sql.types import StructField

                field = next(f for f in schema.fields if f.name == self.key)
                try:
                    one = self.spark.createDataFrame(
                        [(value,)],
                        StructType(
                            [StructField(self.key, field.dataType, True)]
                        ),
                    )
                    b = one.select(
                        F.pmod(F.hash(col), F.lit(nn)).cast("int").alias("_b")
                    ).collect()[0]["_b"]
                except (TypeError, ValueError, OverflowError):
                    # value doesn't fit the key's Spark type (out-of-
                    # range int, float against a long key): a plain
                    # table would just scan-and-miss — fail open, never
                    # crash the read
                    return entries
                if b is None:
                    return entries
                self._bucket_value_cache[ck] = int(b)
            bmap[nn] = self._bucket_value_cache[ck]
        out = []
        for e in entries:
            st = e.get("stats", {}).get(BUCKET_COL)
            if not st or st[0] is None:
                out.append(e)
                continue
            b = bmap[self._entry_modulus(e, n)]
            if int(st[0]) <= b <= int(st[1]):
                out.append(e)
        return out

    # -- parquet file indexes (record / secondary / expression) --------
    # One module for the three; the layout and contract are described at
    # _INDEX_PREFIX. Build, drop and vacuum live on TableServices.

    def _index_paths(
        self, kind: str, name: str = "record_index"
    ) -> tuple[str, str]:
        """``(payload dir, meta path)`` of the ``(kind, name)`` index."""
        base = posixpath.join(self.path, "_index", _index_dir_name(kind, name))
        return base, f"{base}_meta.json"

    def _index_meta(self, kind: str, name: str = "record_index") -> dict | None:
        """The published meta of one index, or None when it has none."""
        meta_path = self._index_paths(kind, name)[1]
        return read_json(meta_path) if self.fs.exists(meta_path) else None

    def _file_indexes(self, kind: str | None = None) -> list[dict]:
        """Every published record / secondary / expression index (or
        only those of ``kind``): its meta, plus ``kind`` and ``name``
        taken from the meta file name. One listing of ``_index/``, no
        Spark job."""
        base = posixpath.join(self.path, "_index")
        out = []
        for p in self.fs.list(base):
            rel = p[len(base):].lstrip("/")
            if "/" in rel or not rel.endswith("_meta.json"):
                continue
            target = _index_of_dir_name(rel[: -len("_meta.json")])
            if target is not None and kind in (None, target[0]):
                out.append({**read_json(p), "kind": target[0], "name": target[1]})
        return out

    def _index_prune(
        self,
        entries: list[dict],
        kind: str,
        name: str,
        hits: Callable[[DataFrame], DataFrame | None],
        meta: dict | None = None,
    ) -> list[dict]:
        """The prune tail every parquet index shares: drop each covered
        file that ``hits`` (the caller's filter over the index payload,
        or None to prune nothing) does not name in ``_f``. Files outside
        the covered set are kept; no covered entry means no Spark job."""
        if meta is None:
            meta = self._index_meta(kind, name)
        covered = set(meta["files"]) if meta else set()
        if not any(e["path"] in covered for e in entries):
            return entries
        hit = hits(self.spark.read.parquet(self._index_paths(kind, name)[0]))
        if hit is None:
            return entries
        hit_paths = set(
            self._to_rel([r["_f"] for r in hit.select("_f").collect()])
        )
        return [
            e
            for e in entries
            if e["path"] not in covered or e["path"] in hit_paths
        ]

    def _prune_by_record_index(
        self, entries: list[dict], keys: DataFrame
    ) -> list[dict]:
        """Exact point-lookup pruning: drop every index-covered file that
        contains NONE of the batch keys. Range stats keep a file whenever
        the batch's [min,max] overlaps it — for a scattered point-update
        batch that is usually EVERY file; the record index reduces it to
        exactly the files that hold a touched key."""
        bk = keys.select(F.col(self.key).alias("_bk"))
        return self._index_prune(
            entries, "record", "record_index",
            lambda idx: idx.join(bk, idx["_k"] == F.col("_bk"), "left_semi")
            .select("_f")
            .distinct(),
        )

    def _prune_by_expression_index(
        self, entries: list[dict], pred: str
    ) -> list[dict]:
        """Per-file [min,max] pruning on EXPRESSION values (Hudi 1.0
        expression/functional index analog): where the manifest's
        column stats are blind to ``month(ts) = 3`` or
        ``lower(city) = 'x'``, an async-built index stores each file's
        min/max of the expression and drops files whose envelope cannot
        satisfy a top-level ``<expr> <op> <literal>`` conjunct.

        Fail-closed everywhere: a top-level OR disables extraction; a
        conjunct whose left side doesn't normalize to a registered
        index expression contributes nothing; literal/stats type-class
        mismatches skip the conjunct; null envelopes always pass."""
        metas = self._file_indexes("expression")
        if not metas or _scan_top(pred, r"\bOR\b"):
            return entries
        conjs = []
        for conj in _split_top(pred, r"\bAND\b"):
            m = re.match(
                r"^\s*(.+?)\s*(==|<=|>=|=|<|>)\s*"
                r"('[^']*'|[+-]?(?:\d+\.?\d*|\.\d+)|true|false)\s*$",
                conj,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                continue
            lit_s = m.group(3)
            lit: Any
            if lit_s.startswith("'"):
                lit = lit_s[1:-1]
            elif lit_s.lower() in ("true", "false"):
                lit = lit_s.lower() == "true"
            elif re.fullmatch(r"[+-]?\d+", lit_s):
                lit = int(lit_s)
            else:
                lit = float(lit_s)
            conjs.append((_norm_expr_text(m.group(1)), m.group(2), lit))
        if not conjs:
            return entries

        def envelope(idx: DataFrame, matched) -> DataFrame | None:
            mdt = dict(idx.dtypes).get("_min", "")
            num = ("tinyint", "smallint", "int", "bigint", "float",
                   "double", "decimal")
            cond = None
            for op, lit in matched:
                ok = (
                    (isinstance(lit, bool) and mdt == "boolean")
                    or (isinstance(lit, (int, float))
                        and not isinstance(lit, bool)
                        and mdt.startswith(num))
                    or (isinstance(lit, str) and mdt == "string")
                )
                if not ok:
                    continue  # type-class mismatch → this conjunct skips
                v = F.lit(lit)
                if op in ("=", "=="):
                    c = (F.col("_min") <= v) & (F.col("_max") >= v)
                elif op == "<":
                    c = F.col("_min") < v
                elif op == "<=":
                    c = F.col("_min") <= v
                elif op == ">":
                    c = F.col("_max") > v
                else:
                    c = F.col("_max") >= v
                c = F.coalesce(c, F.lit(True))  # null envelope → keep
                cond = c if cond is None else (cond & c)
            return None if cond is None else idx.where(cond)

        for meta in metas:
            expr_norm = _norm_expr_text(meta["expr"])
            matched = [(op, lit) for lhs, op, lit in conjs if lhs == expr_norm]
            if matched:
                # one read + one collect per index, however many
                # conjuncts reference it: they are ANDed
                entries = self._index_prune(
                    entries, "expression", meta["name"],
                    lambda idx, m=matched: envelope(idx, m), meta,
                )
        return entries

    def _prune_by_secondary_index(
        self, entries: list[dict], col: str, value
    ) -> list[dict]:
        """Exact equality pruning on a NON-key column via its secondary
        index (Hudi 1.0 secondary-index analog): drop every index-covered
        file whose per-file distinct-value set lacks ``value``. Range
        stats are useless for a column uncorrelated with the file layout
        (a random status column spans its whole domain in every
        key-sorted file); the value→files map prunes exactly."""
        return self._index_prune(
            entries, "secondary", col,
            lambda idx: idx.where(F.col("_v").eqNullSafe(F.lit(value)))
            .select("_f")
            .distinct(),
        )

    def _write_files(
        self, df: DataFrame, commit: str, kind: str = "base", size_est=None
    ) -> list[dict]:
        """Write ``df`` as one commit's files and return their manifest
        entries. The table's layout rule picks the files: bucket tables
        range-partition by bucket, partitioned tables write one file set
        per partition value, and ``max_records_per_file`` caps rows per
        file. A table with none of these writes read-split-sized files
        (:func:`_read_split_sized`) when the caller passes ``size_est``,
        a callable giving the frame's estimated bytes (the COW rewrite
        does); otherwise the frame's partitioning stands."""
        # the write dir carries a per-ATTEMPT token: two writers racing
        # the same commit id then write disjoint directories, so the race
        # loser's data can never clobber the winner's files (the manifest
        # — published via atomic exclusive create — references exact
        # paths, so readers never see the orphaned loser attempt)
        import uuid

        rel_dir = f"data/{commit}-{uuid.uuid4().hex[:8]}"
        out_dir = self._abs(rel_dir)
        writer = df
        # tombstone deltas carry only (key, meta) — partition cols absent
        parts = [
            c for c in (self.meta.get("partition_fields") or []) if c in df.columns
        ]
        nbuckets = self._bucket_count()
        if nbuckets and self.key in df.columns:
            # bucket table: stamp pmod(hash(key), N) and RANGE-partition
            # on it so every file covers a tight contiguous bucket range
            # — the persisted [min,max] of BUCKET_COL is what
            # _key_probe consults. The column lives only in the
            # parquet files (the manifest schema is the caller's frame),
            # so reads project it away for free. One file group per
            # touched bucket per commit — Hudi's BUCKET index layout.
            writer = (
                df.withColumn(
                    BUCKET_COL,
                    F.pmod(
                        F.hash(self._bucket_key_col(df.schema)),
                        F.lit(nbuckets),
                    ).cast("int"),
                )
                .repartitionByRange(
                    nbuckets,
                    *[F.col(c) for c in parts],
                    F.col(BUCKET_COL),
                )
                # key-sorted within each bucket: tight per-file KEY
                # ranges stack on top of the bucket prune for free
                .sortWithinPartitions(
                    *[F.col(c) for c in parts],
                    F.col(BUCKET_COL),
                    F.col(self.key),
                )
            )
        elif parts:
            # co-locate partition values per file → one dir per value →
            # hive-style layout below + tight stats
            writer = df.repartition(*[F.col(c) for c in parts])
        mrpf = int(self.meta.get("max_records_per_file") or 0)
        if size_est is not None and not (nbuckets or parts or mrpf):
            writer = _read_split_sized(df, size_est())
        w = writer.write.mode("overwrite")
        if parts:
            # hive-style partition directories (state=Ohio/...), matching
            # the reference's hoodie hive_style_partitioning
            # (create_hudi_tables.py:151-155): external readers (plain
            # spark.read.parquet, Hive, DuckDB) discover the partition
            # columns from the layout, and snapshot scans prune by
            # directory before stats are even consulted.
            w = w.partitionBy(*parts)
        if mrpf:
            w = w.option("maxRecordsPerFile", mrpf)
        w.parquet(out_dir)
        files = [
            p
            for p in self.fs.list(out_dir)
            if p.endswith(".parquet") and "/_" not in p[len(out_dir):]
        ]
        stats_cols = [self.key, self.precombine, META_COL]
        if nbuckets and BUCKET_COL in writer.columns:
            stats_cols.append(BUCKET_COL)
        bloom_key = self._bloom_write_key(df.schema)
        stats = self._collect_stats(
            files, writer.schema, stats_cols, bloom_key=bloom_key
        )
        # a task whose partition held no rows still writes a file; it
        # has no key stats, so it would stay a candidate of every keyed
        # write until compaction — publish none
        empty = {p for p in files if stats[p]["rows"] == 0}
        for p in empty:
            self.fs.delete(p)
        files = [p for p in files if p not in empty]
        if bloom_key:
            # one sidecar per write DIRECTORY, beside (not inside) the
            # manifest: filters are ~KBs per file and would bloat every
            # timeline replay if inlined; immutable files make the
            # sidecar exact forever (record-index covered-set contract).
            # Keyed by the uuid-suffixed dir token, NOT the commit id:
            # two OCC writers racing commit N each publish a sidecar for
            # their OWN data dir, and the loser's is orphaned alongside
            # its unreferenced files — readers resolve sidecars from the
            # winning manifest's entry paths, so a lost race can never
            # un-cover the winner's files.
            blooms = {}
            for p in files:
                b = stats.get(p, {}).pop("bloom", None)
                if b is not None:
                    blooms[posixpath.join(rel_dir, os.path.relpath(p, out_dir))] = b
            if blooms:
                write_json(
                    self._bloom_sidecar_path(rel_dir.split("/", 1)[1]),
                    {"files": blooms},
                )
        out = []
        for p in files:
            rel_file = os.path.relpath(p, out_dir)
            entry = {
                "path": posixpath.join(rel_dir, rel_file),
                **stats.get(p, {"rows": None, "stats": {}}),
            }
            if kind != "base":
                entry["kind"] = kind
            if nbuckets and BUCKET_COL in writer.columns:
                # the modulus this FILE was bucketed under — a physical
                # per-file fact like stats, so bucket prunes stay exact
                # across resize_buckets generations (and under time
                # travel to a pre-resize commit) without versioned meta
                entry["bucket_n"] = nbuckets
            # partition values come from the hive-style directory names:
            # min == max == the value, exactly what the pruner needs.
            # Also record the raw (unquoted) string form per column in a
            # dedicated ``partition`` dict — insert_overwrite(dynamic)
            # compares against string-cast batch values, and the typed
            # stats domain (python date/int) can't be compared to those
            # without a codec agreement; ``None`` marks the hive null
            # sentinel explicitly so a null batch partition matches ONLY
            # null-partition files, never stats-less ones.
            if parts:
                entry["partition"] = {}
            for seg in rel_file.split("/")[:-1]:
                if "=" in seg:
                    c, v = seg.split("=", 1)
                    from urllib.parse import unquote

                    raw = unquote(v)
                    entry["partition"][c] = (
                        None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                    )
                    pv = _parse_partition_value(c, v, df.schema)
                    if pv is not None:
                        entry["stats"][c] = [pv, pv]
            out.append(entry)
        return out

    def _collect_stats(
        self,
        files: list[str],
        schema: StructType,
        stats_cols: list[str],
        bloom_key: str | None = None,
    ) -> dict[str, dict]:
        """Per-file row count + min/max stats from Parquet FOOTERS, read
        on executors (``sc.parallelize`` over the file list — per-file
        imperative metadata work, the one legitimate RDD use). Footer
        reads never touch data pages, and distributing them removes the
        O(files) driver loop from the commit path: the driver only
        assembles the manifest from the collected per-file rows. Each
        file's ``size`` and ``mtime`` ride along (:func:`_footer_stats`),
        so later scans build their file index from the manifest alone.

        ``bloom_key`` additionally builds a per-file bloom filter over
        that column in the SAME pass (one single-column read of a file
        this writer just produced — O(new data), executor-side; see
        :mod:`.bloom`). The filter rides back under a ``"bloom"`` key
        that :meth:`_write_files` strips into the commit sidecar.
        """
        if not files:
            return {}
        cols = [c for c in stats_cols if c in {f.name for f in schema.fields}]

        def one(p: str) -> dict:
            st = _footer_stats(p, cols)
            if bloom_key:
                from .bloom import bloom_for_parquet_file

                b = bloom_for_parquet_file(p, bloom_key)
                if b is not None:
                    st["bloom"] = b
            return st

        if len(files) <= (4 if bloom_key else 64):
            # small commit: footer reads are microseconds each — a cluster
            # job would cost more in scheduling than it saves. Bloom
            # builds DO read a data column, so their driver-side gate is
            # much tighter (4 files keeps the driver loop ~20 ms at
            # bench file sizes while the typical small merge commit
            # still avoids a job; anything larger distributes so big
            # files never serialize through the driver)
            return {p: one(p) for p in files}
        sc = self.spark.sparkContext
        # Fewer/larger tasks (guide §2.2): one-file tasks made the
        # stats pass pay one Python-worker round trip per FILE
        # (measured 300 files: 256 single-file tasks ≈ 2.5-3 s vs
        # 0.45-0.5 s at 8 files/slice). Footer-only passes pack 8
        # files/slice; bloom passes read a full key column per file, so
        # they pack only 2/slice to keep reader parallelism at
        # production file sizes. The 256 cap still bounds the job at
        # manifest scale (10⁵ files → 256 slices of ~400).
        per_slice = 2 if bloom_key else 8
        nslices = max(1, min(256, len(files) // per_slice))
        pairs = (
            sc.parallelize(files, nslices).map(lambda p: (p, one(p))).collect()
        )
        return dict(pairs)

    def _publish(
        self,
        commit: str,
        action: str,
        added: list[dict],
        removed: list[str],
        schema: StructType | None,
        field_ids: dict[str, str] | None = None,
        batch_id: str | None = None,
        sink_id: str | None = None,
        extra: dict | None = None,
    ) -> None:
        manifest_path = posixpath.join(self._commits_dir(), f"{commit}.json")
        ids_used: set[str] | None = None
        if schema is not None and self.meta.get("has_renames"):
            # renamed tables carry the cumulative field-id map forward on
            # every schema-bearing commit (the _field_ids walk-back finds
            # the newest one, like the schema itself); never-renamed
            # tables pay nothing — no key, identity implied. A NEW
            # column gets a FRESH id never used at ANY point in the
            # table's history (``field_ids_used``, carried forward even
            # across drops): its name may equal a live id (re-add-after-
            # rename) or a RETIRED id (rename → drop → re-add), and
            # either reuse would alias the new column onto old physical
            # bytes.
            ids_used = self._field_ids_used()
            if field_ids is None:
                prev = self._field_ids() or {}
                field_ids = {}
                for f in schema.fields:
                    fid = prev.get(f.name)
                    if fid is None:
                        fid, k = f.name, 2
                        while fid in ids_used:
                            fid = f"{f.name}#{k}"
                            k += 1
                    field_ids[f.name] = fid
                    ids_used.add(fid)
            else:
                ids_used |= set(field_ids.values())
        manifest = {
            "commit": commit,
            "action": action,
            "ts": _utcnow(),
            "files_added": added,
            "files_removed": removed,
            "schema": schema.jsonValue() if schema is not None else None,
        }
        if field_ids is not None:
            manifest["field_ids"] = field_ids
        if ids_used is not None:
            manifest["field_ids_used"] = sorted(ids_used)
        if batch_id is not None:
            # streaming replay guard (Hudi's checkpoint-in-commit-metadata):
            # foreachBatch writers stamp the epoch id so a restart-replayed
            # micro-batch is recognized and skipped (see upsert/insert);
            # batch_sink scopes the guard to one query's checkpoint
            # identity (absent = unscoped legacy/batch identity)
            manifest["batch_id"] = batch_id
            if sink_id is not None:
                manifest["batch_sink"] = sink_id
        if extra:
            # action-specific metadata (e.g. a restore commit's target,
            # consumed by the lineage walk) — merged last, reserved
            # keys must not be shadowed
            for k, v in extra.items():
                manifest.setdefault(k, v)
        # the write that fed this publish is fully materialized on disk —
        # release any batch blocks persisted for it (success OR race
        # failure: a retry re-runs the gate and re-persists)
        while self._pending_unpersist:
            self._pending_unpersist.pop().unpersist()
        if (added or removed) and self.meta.get("pre_commit_validators"):
            # validators run BEFORE the atomic manifest create: a
            # failure means nothing ever became visible — the written
            # files are unreferenced orphans (vacuum_orphans reclaims
            # them), exactly Hudi's marker-cleanup story. The manifest
            # records what passed — observability via history_df.
            manifest["validators_passed"] = self._validate_pre_commit(
                added, removed
            )
        try:
            # ATOMIC exclusive create (os.link locally, S3 conditional
            # put): the filesystem — not a check-then-write window —
            # decides which of two racing writers owns this commit id, so
            # a loser can never clobber the winner's manifest.
            create_json(manifest_path, manifest)
        except FileExistsError:
            raise RuntimeError(
                f"commit {commit} already published at {manifest_path}: "
                "concurrent writer detected (lost the atomic "
                "manifest-create race; retryable — see upsert occ_retries)"
            ) from None
        if int(commit) % CHECKPOINT_EVERY == 0:
            # consolidated live set as of this commit; itself computed
            # O(tail) from the previous checkpoint. Written AFTER the
            # manifest (a lost checkpoint only costs replay speed, never
            # correctness) and keyed by commit id so readers pinned to an
            # earlier as_of never see it.
            write_json(
                self._checkpoint_path(commit),
                {"commit": commit, "files": self.current_files(as_of=commit)},
            )
        if added and (self.meta.get("auto_index") or []):
            # synchronous per-commit index maintenance (opt-in via
            # auto_index): extend each named index over this commit's
            # NEW files only — O(commit), the Hudi metadata-table cost
            # shape. Runs AFTER the manifest publish: a failure here
            # leaves the commit durable and the index a valid covered
            # subset (staleness-correct by the index contract), never a
            # half-commit. The outcome lands in a tiny SIDECAR (the
            # manifest is already atomically visible — amending it would
            # race readers); history_df surfaces it, a lost sidecar only
            # costs the observability column, never correctness.
            maintained = self._maintain_auto_indexes()
            if maintained:
                write_json(
                    posixpath.join(
                        self._commits_dir(), f"_idxlog_{commit}.json"
                    ),
                    {"commit": commit, "auto_indexed": maintained},
                )

    def _validate_pre_commit(
        self, added: list[dict], removed: list[str]
    ) -> list[str]:
        """Run the declared pre-commit validators against the WOULD-BE
        post-commit state (pre-state files minus ``removed`` plus
        ``added`` — the data files are already on disk, only the
        manifest is pending):

        - ``equality``: each SQL (with ``<TABLE>`` bound to a view)
          must return the SAME rows pre- and post-commit — Hudi's
          SqlQueryEqualityPreCommitValidator, for invariants a write
          must not disturb.
        - ``single_result``: each [sql, expected] must return exactly
          one row/column equal (by string form) to ``expected`` on the
          post-state — Hudi's SqlQuerySingleResultPreCommitValidator,
          e.g. ["SELECT count(*) FROM <TABLE> WHERE amt < 0", 0].

        Validators see the PRE-commit manifest schema (an evolving
        commit's widened columns aren't queryable until published).
        Cost: the validator queries themselves (typically tiny
        aggregates) over pre and hypothetical post views — opt-in."""
        import uuid as _uuid

        vals = self.meta.get("pre_commit_validators") or {}
        rm = set(removed)
        post_entries = [
            e for e in self.current_files() if e["path"] not in rm
        ] + list(added)
        post = self._read_entries(post_entries)
        if self.table_type == "mor":
            post = self._merge_view(post)
        tag = _uuid.uuid4().hex[:8]
        pre_v, post_v = f"__pcv_pre_{tag}", f"__pcv_post_{tag}"
        first = self.latest_commit() is None
        # equality validators skip the FIRST commit: there is no
        # established invariant before any data exists (an empty-vs-
        # loaded compare would reject every initial load); single-
        # result validators run from commit one. The pre-state view is
        # built ONLY when an equality validator will read it — a
        # single_result-only table must not pay a manifest replay +
        # merge plan per commit for a view nothing queries.
        eq = [] if first else (vals.get("equality") or [])
        bound_pre = False
        passed: list[str] = []
        if eq:
            self.snapshot().createOrReplaceTempView(pre_v)
            bound_pre = True
        post.createOrReplaceTempView(post_v)
        try:
            for q in eq:
                a = self.spark.sql(q.replace("<TABLE>", pre_v)).collect()
                b = self.spark.sql(q.replace("<TABLE>", post_v)).collect()
                # order-insensitive row compare; repr key keeps mixed/
                # None-bearing rows sortable (plain tuple sort would
                # TypeError and abort a GOOD commit)
                ka = sorted(map(tuple, a), key=repr)
                kb = sorted(map(tuple, b), key=repr)
                if ka != kb:
                    raise ValueError(
                        f"pre-commit equality validator failed: {q!r} "
                        f"pre={a[:5]!r} post={b[:5]!r} — commit aborted"
                    )
                passed.append(f"equality:{q.strip()[:60]}")
            for q, expected in vals.get("single_result") or []:
                rows = self.spark.sql(q.replace("<TABLE>", post_v)).collect()
                if len(rows) != 1 or len(rows[0]) != 1:
                    raise ValueError(
                        f"pre-commit single-result validator {q!r} must "
                        f"return exactly one value, got {len(rows)} rows"
                    )
                got = rows[0][0]
                if str(got) != str(expected):
                    raise ValueError(
                        f"pre-commit single-result validator failed: "
                        f"{q!r} expected {expected!r} got {got!r} — "
                        "commit aborted"
                    )
                passed.append(f"single_result:{q.strip()[:60]}")
            return passed
        finally:
            if bound_pre:
                self.spark.catalog.dropTempView(pre_v)
            self.spark.catalog.dropTempView(post_v)

    def _maintain_auto_indexes(self) -> list[str]:
        svc = TableServices(self)
        schema = self._schema()
        names = set(schema.fieldNames()) if schema is not None else set()
        maintained: list[str] = []
        for spec in self.meta.get("auto_index") or []:
            target = _auto_index_target(spec)
            if target is None or (
                target[0] == "secondary" and names and target[1] not in names
            ):
                # spec names a column the current schema lacks — the
                # crash window between a rename's publish and its spec
                # rewrite (or a manual meta edit). Index extension
                # simply skips: the covered subset stays valid
                # (staleness contract), the WRITE must not fail for it
                continue
            kind, name = target
            try:
                if kind == "record":
                    svc.build_record_index(incremental=True)
                else:
                    svc.build_secondary_index(name, incremental=True)
                maintained.append(spec)
            except Exception as exc:
                # the manifest is already durable: make it unambiguous
                # to the caller that the WRITE SUCCEEDED (a bare
                # propagated error reads as a failed write, and
                # retrying an insert would duplicate rows) and the
                # index remains a valid covered subset
                raise RuntimeError(
                    f"auto-index maintenance {spec!r} failed AFTER "
                    f"commit {self.latest_commit()} durably published; "
                    "the table state is committed — do NOT retry the "
                    "write. Fix or remove the spec (set_auto_index) "
                    f"and rebuild: {exc}"
                ) from exc
        return maintained


from contextlib import contextmanager


@contextmanager
def _mrpf_override(t: "Table", target: int | None):
    """Temporarily override ``max_records_per_file`` for one rewrite
    (compaction / small-file clustering target sizing). No-op when no
    target is given — the restore must never plant a ``None`` entry in
    a meta dict that didn't have the key."""
    if not target:
        yield
        return
    had = "max_records_per_file" in t.meta
    old = t.meta.get("max_records_per_file")
    t.meta["max_records_per_file"] = target
    try:
        yield
    finally:
        if had:
            t.meta["max_records_per_file"] = old
        else:
            t.meta.pop("max_records_per_file", None)


# key type classes the bloom and bucket indexes take: their canonical
# str() form agrees between the pyarrow build side and the Spark probe
_INDEX_KEY_CLASSES = ("integral", "string")


def _type_class(dt) -> str:
    """Coarse type class for write-side schema enforcement: drift WITHIN
    a class (int→long, decimal widening) is the normal evolution Spark
    handles; drift ACROSS classes is a bug. Matches the oracle checker's
    philosophy (tests/oracle.py type_class_mismatches)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integral"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "fractional"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    if isinstance(dt, T.BinaryType):
        return "binary"
    # nested types: recurse so element-level within-class widening
    # (array<float> → array<double>, the common Arrow float32 embedding
    # shape) is allowed exactly like its scalar counterpart
    if isinstance(dt, T.ArrayType):
        return f"array<{_type_class(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_type_class(dt.keyType)},{_type_class(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name}:{_type_class(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return dt.simpleString()  # other exotic types: exact match required


def _jsonable(v):
    from decimal import Decimal

    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


# numpy dtype (driver-side stats) and Arrow type (executor-side keys) of
# each key-probe range domain
_PROBE_TYPES = {
    "integral": ("int64", "int64"),
    "fractional": ("float64", "float64"),
    "date": ("datetime64[D]", "date32"),
    "string": (object, "string"),
}


def _probe_domain(table_type, batch_type) -> str | None:
    """The domain :meth:`Table._key_probe` compares keys and footer key
    stats in, or None (no range test): both sides integral, fractional,
    string or date. Timestamps carry no footer key stats; a timestamp
    batch against a date key has no common order with the stats."""
    from pyspark.sql.types import DateType

    doms = {
        "date" if isinstance(t, DateType) else _type_class(t)
        for t in (table_type, batch_type)
    }
    dom = doms.pop() if len(doms) == 1 else None
    return dom if dom in _PROBE_TYPES else None


def _probe_value(dom: str, v):
    """One footer stat or batch key (driver side) in the probe domain.
    Decimal stats are floats (:func:`_jsonable`); rounding to float
    keeps ``<=`` order, so a range test never drops a holding file."""
    import numpy as np

    if dom == "integral":
        return int(v)
    if dom == "fractional":
        return float(v)
    if dom == "date":
        return np.datetime64(_jsonable(v), "D")
    return str(v)


def _key_probe_batch(spec: dict, batch, done):
    """One Arrow batch of :meth:`Table._key_probe`. Column 0 holds the
    batch keys, column ``1 + j`` their bucket ids under the j-th
    modulus. Returns a bool array over the spec's files (which ones at
    least one key passes every test of; files already ``done`` skip
    their bloom test) and the bucket ids seen per modulus.

    Vectorized over files: the keys sort once, each file's key range
    becomes a slice [start, end) of them through one ``searchsorted``,
    and the bucket test searches the sorted ``bucket * K + position``
    codes for [blo * K + start, bhi * K + end) — exact for a one-bucket
    file, a superset for a file spanning buckets. Only bloom-covered
    files that pass both loop in Python: each filter is its own bit
    array. A NaN key drops this batch's range tests (NaN does not
    sort)."""
    import numpy as np
    import pyarrow.compute as pc

    from .bloom import hash_pairs_array, might_contain

    col = batch.column(0)
    valid = col.is_valid()
    keys = col.filter(valid)
    bids = [
        batch.column(j + 1).filter(valid).to_numpy(zero_copy_only=False)
        for j in range(batch.num_columns - 1)
    ]
    k = len(keys)
    ok = np.zeros(len(spec["fid"]), dtype=bool)
    if k == 0:
        return ok, bids
    start = np.zeros(len(ok), dtype=np.int64)
    end = np.full(len(ok), k, dtype=np.int64)
    order = None
    dom = spec["domain"]
    if dom is not None and len(spec["rpos"]):
        v = pc.cast(keys, _PROBE_TYPES[dom][1], safe=False).to_numpy(
            zero_copy_only=False
        )
        if dom != "fractional" or not np.isnan(v).any():
            order = np.argsort(v, kind="stable")
            v = v[order]
            bids = [b[order] for b in bids]
            start[spec["rpos"]] = np.searchsorted(v, spec["lo"], "left")
            end[spec["rpos"]] = np.searchsorted(v, spec["hi"], "right")
    ok = start < end
    for j, b in enumerate(bids):
        m = spec["mod"] == j
        codes = np.sort(b.astype(np.int64) * k + np.arange(k))
        first = np.searchsorted(codes, spec["blo"][m] * k + start[m], "left")
        ok[m] &= np.searchsorted(codes, spec["bhi"][m] * k + end[m], "left") > first
    if spec["blooms"]:
        vals = keys.to_pylist()
        if order is not None:
            vals = [vals[i] for i in order]
        h1, h2 = hash_pairs_array(vals)
        for s, bloom in spec["blooms"]:
            if ok[s] and not done[s]:
                a, z = start[s], end[s]
                ok[s] = might_contain(bloom, h1[a:z], h2[a:z]).any()
    return ok, [np.unique(b) for b in bids]


def _stat_bounds(s) -> tuple:
    """(min, max) of one row-group column's footer statistics. pyarrow
    cannot convert decimal statistics stored as INT32/INT64 — Spark's
    layout for precision ≤ 18 — so those scale the raw integers."""
    if s.logical_type.type == "DECIMAL" and s.physical_type in ("INT32", "INT64"):
        import json
        from decimal import Decimal

        scale = json.loads(s.logical_type.to_json())["scale"]
        return (
            Decimal(s.min_raw).scaleb(-scale),
            Decimal(s.max_raw).scaleb(-scale),
        )
    return s.min, s.max


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Row count + min/max for ``cols`` from one Parquet footer, plus the
    file's ``size`` (bytes) and ``mtime`` (epoch ms). With those two the
    manifest entry is all a scan's file index needs
    (:func:`_manifest_scan`), as a Delta AddFile is.

    Runs on executors (see ``Table._collect_stats``); metadata-only read.
    """
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return {"rows": None, "stats": {}}
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in cols:
        i = name_to_idx.get(col)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(i).statistics
            if s is None or not s.has_min_max:
                ok = False
                break
            smin, smax = _stat_bounds(s)
            lo = smin if lo is None else min(lo, smin)
            hi = smax if hi is None else max(hi, smax)
        if ok and lo is not None:
            stats[col] = [_jsonable(lo), _jsonable(hi)]
    out = {"rows": md.num_rows, "stats": stats}
    status = LocalFS().status(path)
    if status is not None:
        out["size"], out["mtime"] = status
    return out


def _parse_partition_value(col: str, raw: str, schema: StructType):
    """Decode one hive-style directory value to the stats domain (typed
    like the column, so range pruning compares correctly). Returns None
    for the null-partition sentinel (no stats → never pruned)."""
    from urllib.parse import unquote

    val = unquote(raw)
    if val == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        dt = schema[col].dataType.simpleString()
    except Exception:
        return val
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return int(val)
    if dt in ("float", "double") or dt.startswith("decimal"):
        return float(val)
    if dt == "boolean":
        return val.lower() == "true"
    return val  # string/date/timestamp: stats domain is the string form


_PRED_CMP = re.compile(
    rf"^\s*({_SQL_IDENT})\s*(==|=|<=|>=|<|>)\s*(.+?)\s*$", re.DOTALL
)


def _pred_literal(rhs: str, dtype: str):
    """Parse a SQL literal against a column type, or None (fail
    closed). Only types whose python value orders identically to the
    recorded footer-stats domain are eligible. Dates qualify via their
    STRING form: both the footer-stats domain (``date.isoformat()``)
    and the hive directory value are zero-padded ISO ``YYYY-MM-DD``,
    which orders lexicographically = chronologically — so ``dt =
    DATE '2026-01-01'`` (the retention shape) prunes manifests.
    Timestamps/decimals/binary stay skipped: their stats domain mixes
    string forms (isoformat ``T`` vs SQL-literal space), so a lexical
    comparison could misprune."""
    rhs = rhs.strip()
    if dtype == "date":
        m = re.match(
            r"^(?:DATE\s*)?'(\d{4}-\d{2}-\d{2})'$", rhs, re.IGNORECASE
        )
        return m.group(1) if m else None
    m = re.match(r"^'([^']*)'$", rhs, re.DOTALL)
    if m is not None:
        return m.group(1) if dtype == "string" else None
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return int(rhs) if re.match(r"^[+-]?\d+$", rhs) else None
    if dtype in ("float", "double"):
        if re.match(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$", rhs):
            return float(rhs)
        return None
    if dtype == "boolean" and rhs.lower() in ("true", "false"):
        return rhs.lower() == "true"
    return None


def _filters_from_predicate(pred: str, schema: StructType | None) -> dict:
    """Extract a :meth:`Table.snapshot` ``filters`` dict from the
    prunable top-level conjuncts of a Spark-SQL predicate string.
    Best-effort and fail-closed (see :meth:`Table.read_where`): a
    conjunct this can't prove simply contributes no pruning — the
    caller applies the full predicate exactly afterwards.
    """
    if schema is None:
        return {}
    if _scan_top(pred, r"\bOR\b"):
        # a top-level OR means the AND-split fragments are NOT all
        # required conjuncts — nothing here is safe to prune on
        return {}
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    eq: dict[str, Any] = {}
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    for conj in _split_top(pred, r"\bAND\b"):
        m = _PRED_CMP.match(conj)
        if not m:
            continue
        col, op, rhs = m.group(1).strip("`"), m.group(2), m.group(3)
        if col not in types:
            continue
        val = _pred_literal(rhs, types[col])
        if val is None:
            continue
        if op in ("=", "=="):
            eq[col] = val
        elif op in (">", ">="):  # strict > prunes on the inclusive bound
            lo[col] = val if col not in lo else max(lo[col], val)
        else:  # < / <=
            hi[col] = val if col not in hi else min(hi[col], val)
    out: dict[str, Any] = {
        c: (lo.get(c), hi.get(c)) for c in {*lo, *hi} if c not in eq
    }
    out.update(eq)  # equality is the tighter check — it wins per column
    return out


def _full_partition_pred(
    pred: str, parts: list[str], schema: StructType | None
) -> dict[str, tuple[str, Any]] | None:
    """{col: (op, typed_literal)} when EVERY top-level conjunct of
    ``pred`` is ``partition_col <op> literal`` — the precondition for
    :meth:`Table.delete_where`'s manifest-only fast path. Unlike
    :func:`_filters_from_predicate` (best-effort, partial extraction
    fine), this is all-or-nothing: one conjunct it can't prove means
    the predicate might match only SOME rows of a file, so no file may
    be dropped unread. Returns None on any bail."""
    if not parts or schema is None or not pred.strip():
        return None
    if _scan_top(pred, r"\bOR\b"):
        return None
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    out: dict[str, tuple[str, Any]] = {}
    for conj in _split_top(pred, r"\bAND\b"):
        m = _PRED_CMP.match(conj)
        if not m:
            return None
        col, op, rhs = m.group(1).strip("`"), m.group(2), m.group(3)
        if col not in parts or col in out:
            return None  # non-partition column, or a double bound
        val = _pred_literal(rhs, types.get(col, ""))
        if val is None:
            return None
        out[col] = ("=" if op == "==" else op, val)
    return out or None


def _entry_fully_matches(e: dict, ops: dict[str, tuple[str, Any]]) -> bool:
    """Does this file's hive partition value satisfy every conjunct?
    Partition stats are [v, v] directory facts (``_write_files``), so
    min alone decides; files without the stat (null partition, older
    spec) never fully match."""
    for col, (op, val) in ops.items():
        st = e.get("stats", {}).get(col)
        if not st or st[0] is None:
            return False
        v = st[0]
        try:
            ok = (
                v == val
                if op == "="
                else v > val
                if op == ">"
                else v >= val
                if op == ">="
                else v < val
                if op == "<"
                else v <= val
            )
        except TypeError:
            return False
        if not ok:
            return False
    return True


def _norm_expr_text(s: str) -> str:
    """Whitespace/backtick-insensitive, case-folded expression text —
    the matching key between a registered expression index and a
    predicate conjunct's left side. Strict by design: any difference
    beyond spacing/quoting/case means no match (fail closed)."""
    return re.sub(r"\s+|`", "", s).lower()


def _stats_match(entry: dict, filters: dict[str, Any]) -> bool:
    stats = entry.get("stats", {})
    for col, cond in filters.items():
        if col not in stats:
            continue  # no stats → can't prune this file
        lo, hi = stats[col]
        if isinstance(cond, (set, frozenset)):
            # value-SET membership: keep the file iff ANY wanted value
            # can live in its [lo, hi] (exact for partition-derived
            # stats, where lo == hi == the value; conservative — never
            # mis-pruning — for data-column ranges). One snapshot with a
            # set filter replaces N per-value snapshot∪unions (the IVF
            # probe's shape), collapsing N relations to one.
            if lo is not None and hi is not None and not any(
                lo <= v <= hi for v in cond
            ):
                return False
        elif isinstance(cond, tuple):
            flo, fhi = cond
            if flo is not None and hi is not None and hi < flo:
                return False
            if fhi is not None and lo is not None and lo > fhi:
                return False
        else:
            if lo is not None and hi is not None and not (lo <= cond <= hi):
                return False
    return True


class TableServices:
    """Table maintenance jobs (SURVEY §2.2 K6/K7/K10).

    - :meth:`clean` — the Hudi cleaner analog
      (``create_hudi_tables.py:141-148``): physically delete data files
      that are no longer live and were retired more than
      ``retain_commits`` commits ago.
    - :meth:`compact` — clustering/sort-and-size rewrite
      (``create_hudi_tables.py:157-163``): rewrite the current file set
      sorted by the given columns into target-size files; row multiset
      and per-row ``_commit_time`` are preserved.
    """

    def __init__(self, table: Table):
        self.t = table

    def archive_timeline(self, keep_active: int = 20) -> list[str]:
        """Fold old commit manifests into one consolidated archive file
        (Hudi archived-timeline analog), keeping the ACTIVE `_commits/`
        directory bounded — at years-of-commits scale the directory
        LISTING itself becomes the per-query bottleneck; with archiving,
        every read lists O(keep_active) manifests + O(archive batches)
        consolidated files.

        Only commits at or below the newest live-set checkpoint are
        archivable (snapshot/incremental replay starts from a checkpoint
        and never needs an archived manifest), and at least
        ``keep_active`` stay live. Reads past the archive horizon (deep
        time travel, full-history CDC, cleaner replay) transparently
        fall back to the archive — one batch read, not O(commits) file
        opens. Crash-safe: the archive batch is written before the live
        manifests are deleted; a duplicate id resolves to the live copy.

        Returns the archived commit ids.
        """
        t = self.t
        cps = t._checkpoints()
        if not cps:
            return []
        horizon = cps[-1]
        keep_active = max(1, keep_active)  # _next_commit needs a live tail
        active = t.commits()
        archivable = [c for c in active[:-keep_active] if c <= horizon]
        if not archivable:
            return []
        manifests = {c: t._manifest(c) for c in archivable}
        write_json(
            posixpath.join(
                t._archive_dir(),
                f"commits_{archivable[0]}-{archivable[-1]}.json",
            ),
            {"manifests": manifests},
        )
        for c in archivable:
            t.fs.delete(posixpath.join(t._commits_dir(), f"{c}.json"))
        return archivable

    def build_bloom_index(self) -> str | None:
        """Enable + backfill the per-file bloom key filters
        (:mod:`.bloom` — the reference's ``hoodie.index.type = BLOOM``).

        Enabling is a meta flag: every LATER commit builds its filters
        inline with the write's stats pass. The backfill here covers
        files written BEFORE the flag: the live files no sidecar covers
        get their filters from ONE pass of the write path's stats pass
        (:meth:`_collect_stats` — driver-side for a handful of files,
        distributed past that; O(live data not yet covered), single key
        column read — async service, the write path is never slowed
        down), and each write directory's sidecar gains its new files. Inherently incremental AND self-repairing: coverage is
        tracked per FILE, so a re-run builds exactly the live files
        still missing from their sidecar — including files a previous
        run failed to read (a transient failure leaves the file out of
        the sidecar, it does not poison the directory). Returns the
        newest covered commit, or None for an empty table.
        """
        t = self.t
        if t.meta.get("index_type") == "bucket":
            # index_type is a single structural slot: silently flipping
            # it would strip the bucket layout every write depends on
            raise ValueError(
                "table uses the bucket index (a creation-time "
                "structural mode) — it cannot be converted to bloom"
            )
        # validate BEFORE persisting the flag: a rejected CREATE INDEX
        # must not leave the table flagged as bloom-indexed
        schema = t.effective_schema()
        if schema is not None and t._key_class(schema) not in _INDEX_KEY_CLASSES:
            raise ValueError(
                f"bloom index needs an integral/string record key; "
                f"{t.key!r} is neither"
            )
        if t.meta.get("index_type") != "bloom":
            t.meta["index_type"] = "bloom"
            write_json(posixpath.join(t.path, "_table.json"), t.meta)
        if schema is None:
            return None
        # coverage exactly as the key probe sees it (per-token sidecar or
        # its legacy per-commit name), read fresh: another backfill may
        # have appended since this handle cached a sidecar
        t._bloom_sidecars.clear()
        managed = [e for e in t.current_files() if e["path"].startswith("data/")]
        have = t._bloom_for_entries(managed)
        missing = [e["path"] for e, b in zip(managed, have) if b is None]
        # one pass over every uncovered file, on the write path's
        # driver-vs-distributed rule
        built = t._collect_stats(
            [t._abs(r) for r in missing], schema, [], bloom_key=t.key
        )
        blooms = {
            r: st["bloom"] for r in missing if "bloom" in (st := built[t._abs(r)])
        }
        unreadable = set(missing) - set(blooms)
        by_token: dict[str, list[str]] = {}
        for e in managed:
            by_token.setdefault(e["path"].split("/", 2)[1], []).append(e["path"])
        newest = None
        for token in sorted(by_token):
            rels = by_token[token]
            new = {r: blooms[r] for r in rels if r in blooms}
            if new:
                side = t._bloom_sidecars[token]["files"]
                write_json(
                    t._bloom_sidecar_path(token), {"files": {**side, **new}}
                )
                t._bloom_sidecars.pop(token, None)  # drop stale cache entry
            if unreadable.isdisjoint(rels):
                # "newest covered commit" means it: every live file of
                # the token made it into the sidecar this run or before
                # (a file whose read failed stays out, repairable)
                newest = token.split("-", 1)[0]
        return newest

    def drop_bloom_index(self) -> None:
        """Disable the bloom flag and delete every sidecar — the
        metadata-plane inverse of :meth:`build_bloom_index` (reads and
        writes consult filters only when the flag is set)."""
        t = self.t
        if t.meta.get("index_type") == "bucket":
            raise ValueError(
                "table uses the bucket index, not bloom — the bucket "
                "layout is structural and cannot be dropped"
            )
        t.meta.pop("index_type", None)
        write_json(posixpath.join(t.path, "_table.json"), t.meta)
        bdir = t._bloom_dir()
        if t.fs.exists(bdir):
            for p in sorted(t.fs.list(bdir), reverse=True):
                t.fs.delete(p)
        t._bloom_sidecars.clear()

    def _build_index(
        self,
        kind: str,
        name: str,
        incremental: bool,
        payload: Callable[[DataFrame], DataFrame],
        fields: dict,
    ) -> str:
        """Build or extend one parquet file index (contract at
        ``_INDEX_PREFIX``): one distributed scan of the live files —
        with ``incremental=True`` only those the published meta does not
        cover yet, appended — projected by ``payload`` to ``(_f, ...)``
        rows. A full build unpublishes an existing meta before it
        overwrites the payload; the new meta (``fields`` + the covered
        set) is written last. Returns the commit the index is exact as
        of."""
        t = self.t
        as_of = t.latest_commit()
        if as_of is None:
            raise ValueError("cannot index an empty table")
        idx_dir, meta_path = t._index_paths(kind, name)
        entries = t.current_files()
        old = t._index_meta(kind, name)
        prev: list[str] = []
        if incremental and old is not None:
            prev = old["files"]
            entries = [e for e in entries if e["path"] not in set(prev)]
        elif old is not None:
            t.fs.delete(meta_path)
        if entries:
            payload(t._read_entries(entries, with_file=True)).write.mode(
                "append" if prev else "overwrite"
            ).parquet(idx_dir)
        write_json(
            meta_path,
            {
                "as_of": as_of,
                **fields,
                "files": sorted({*prev, *(e["path"] for e in entries)}),
            },
        )
        return as_of

    def build_record_index(self, incremental: bool = False) -> str:
        """Build or extend the record-level index: ``(key, file)`` rows,
        hash-partitioned on the key (Hudi record-index analog, built
        async like Hudi's metadata indexer — the write path is never
        slowed down). A scattered point-update batch whose [min,max]
        spans the table keeps every file under range stats but touches
        only the files that hold its keys under this index
        (``Table._prune_by_record_index``). ``incremental=True`` scans
        only files added since the last build: O(new data)."""
        t = self.t
        n = max(1, int(t.spark.conf.get("spark.sql.shuffle.partitions")))
        return self._build_index(
            "record", "record_index", incremental,
            lambda df: df.select(
                F.col(t.key).alias("_k"), F.col("_file").alias("_f")
            ).repartition(n, "_k"),
            {"key": t.key},
        )

    def build_secondary_index(self, col: str, incremental: bool = False) -> str:
        """Build or extend a secondary index on a NON-key column: the
        per-file DISTINCT ``(value, file)`` pairs, hash-partitioned on
        the value (Hudi 1.0 secondary-index analog). Its size is Σ
        per-file distinct values; where a column uncorrelated with the
        file layout spans its whole domain in every file's [min,max],
        the value→files map keeps only true containers
        (``Table._prune_by_secondary_index``)."""
        t = self.t
        n = max(1, int(t.spark.conf.get("spark.sql.shuffle.partitions")))
        return self._build_index(
            "secondary", col, incremental,
            lambda df: df.select(
                F.col(col).alias("_v"), F.col("_file").alias("_f")
            ).distinct().repartition(n, "_v"),
            {"column": col},
        )

    def build_expression_index(
        self, expr: str, name: str | None = None, incremental: bool = False
    ) -> str:
        """Build or extend an EXPRESSION index (Hudi 1.0 expression/
        functional index analog): each file's ``(_f, _min, _max)`` of an
        arbitrary Spark-SQL expression — ``month(o_orderdate)``,
        ``lower(city)``. Where the manifest's per-COLUMN stats are blind
        (a function of a column has no stats), the envelope lets
        :meth:`Table.read_where` drop files whose expression range
        cannot satisfy a ``<expr> <op> <literal>`` conjunct. ``name``
        defaults to the expression folded to an identifier; extending
        an index under another expression is refused."""
        if name is None:
            name = re.sub(r"\W+", "_", expr).strip("_").lower()
        old = self.t._index_meta("expression", name)
        if (
            incremental
            and old is not None
            and _norm_expr_text(old["expr"]) != _norm_expr_text(expr)
        ):
            raise ValueError(
                f"expression index {name!r} already exists for "
                f"{old['expr']!r}; refusing to extend it with {expr!r}"
            )
        e = F.expr(expr)
        return self._build_index(
            "expression", name, incremental,
            lambda df: df.groupBy(F.col("_file").alias("_f")).agg(
                F.min(e).alias("_min"), F.max(e).alias("_max")
            ),
            {"expr": expr, "name": name},
        )

    def _drop_index(self, kind: str, name: str) -> None:
        """Remove one parquet file index and the ``auto_index`` spec that
        would rebuild it on the next write. The meta goes before the
        payload: a crash part-way leaves a meta-less payload, which
        readers treat as no index and :meth:`vacuum_orphan_indexes`
        reclaims."""
        t = self.t
        specs = t.meta.get("auto_index") or []
        kept = [s for s in specs if _auto_index_target(s) != (kind, name)]
        if kept != specs:
            self.set_auto_index(kept)
        idx_dir, meta_path = t._index_paths(kind, name)
        t.fs.delete(meta_path)
        for p in sorted(t.fs.list(idx_dir), reverse=True):
            t.fs.delete(p)
        t.fs.rmdir(idx_dir)

    def vacuum_orphans(self, older_than_seconds: float = 86400.0) -> list[str]:
        """Delete data files NO manifest has ever referenced — the
        garbage a lost OCC race or a crash between file write and
        manifest publish leaves behind (each attempt writes a unique
        ``data/<commit>-<token>/`` dir, so orphans never collide with
        live data). Referenced = union of ``files_added`` across the
        whole timeline including the archive; everything else under
        ``data/`` older than ``older_than_seconds`` goes.

        The age guard is the correctness boundary: an IN-FLIGHT writer
        has files on disk before its manifest exists, indistinguishable
        from garbage — a threshold comfortably above any write duration
        (default 24 h, Delta VACUUM's posture) makes the race
        impossible. Returns deleted paths. Ages come from ``fs.mtime``
        (local stat, or S3 LastModified — r14: previously an os-level
        stat, which returns nothing for s3a:// objects and silently
        skipped every file on object stores); files without a readable
        mtime are skipped, never deleted.
        """
        import os as _os
        import time as _time

        t = self.t
        referenced: set[str] = set()
        for c in t.commits(include_archived=True):
            m = t._manifest(c)
            for e in m.get("files_added", []):
                if not e.get("external"):
                    referenced.add(e["path"])
        data_root = posixpath.join(t.path, "data")
        if not t.fs.exists(data_root):
            return []
        now = _time.time()
        deleted: list[str] = []
        for p in t.fs.list(data_root):
            rel = posixpath.join("data", _os.path.relpath(p, data_root))
            if rel in referenced or not p.endswith(".parquet"):
                continue
            mt = t.fs.mtime(p)
            if mt is None:
                continue  # already gone (concurrent vacuum) / unstat-able
            if now - mt >= older_than_seconds:
                t.fs.delete(p)
                deleted.append(rel)
        return deleted

    def vacuum_orphan_indexes(
        self, older_than_seconds: float = 86400.0
    ) -> list[str]:
        """Sweep dangling record / secondary / expression index files
        under ``_index/`` — what a crash inside DROP INDEX, a full
        rebuild or RENAME COLUMN's payload migration leaves behind
        (``storage.move`` is copy+delete per object on S3). Reads stay
        correct throughout: a pruner that finds no meta prunes nothing.
        The sweep reclaims the bytes:

        - a payload with no published meta (a crashed drop, move or
          build — that payload is not visible to pruners);
        - ``secondary_<col>`` payloads and metas whose column is not in
          the current schema (recovery is a rebuild under the new name).

        Everything else under ``_index/`` is untouched: bloom sidecars
        (``_index/bloom/<token>.json``) are meta-less by design, and an
        expression meta whose payload is missing is harmless (an
        incremental build re-extends it).

        The age guard is the same correctness boundary as
        :meth:`vacuum_orphans`: an in-flight build/migration has payload
        files on disk before its meta publishes, so only files older
        than ``older_than_seconds`` (default 24 h) are eligible. Ages
        come from ``fs.mtime`` (LastModified on S3); files without a
        readable mtime are skipped, never deleted. Returns deleted
        paths.
        """
        import time as _time

        t = self.t
        base = posixpath.join(t.path, "_index")
        files = t.fs.list(base)
        if not files:
            return []
        schema = t._schema()
        cols = set(schema.fieldNames()) if schema is not None else set()
        names = {posixpath.basename(p) for p in files}
        now = _time.time()
        deleted: list[str] = []

        def _rm(p: str) -> None:
            age = t.fs.mtime(p)
            if age is not None and now - age >= older_than_seconds:
                t.fs.delete(p)
                deleted.append(p)

        swept_dirs: set[str] = set()
        for p in files:
            rel = p[len(base):].lstrip("/")
            seg = rel.split("/")[0]
            is_meta = "/" not in rel and seg.endswith("_meta.json")
            target = _index_of_dir_name(
                seg[: -len("_meta.json")] if is_meta else seg
            )
            if target is None:
                continue  # bloom sidecars: never debris
            dead_col = target[0] == "secondary" and cols and (
                target[1] not in cols
            )
            if is_meta:
                if dead_col:
                    _rm(p)
            elif dead_col or f"{seg}_meta.json" not in names:
                _rm(p)
                swept_dirs.add(posixpath.join(base, seg))
        for d in sorted(swept_dirs):
            t.fs.rmdir(d)
        return deleted

    def clean(
        self,
        retain_commits: int = 5,
        retain_hours: float | None = None,
    ) -> list[str]:
        """Delete data files no snapshot within the retention window needs.

        Two policies, mirroring Hudi's cleaner:

        - count-based (default — ``KEEP_LATEST_COMMITS``): a file is
          deletable iff it is live in NONE of the last
          ``retain_commits + 1`` commit states (current state + the
          ``retain_commits`` prior as_of targets);
        - time-based (``retain_hours`` set — ``KEEP_LATEST_BY_HOURS``):
          every commit whose manifest timestamp falls inside the
          trailing window is protected, plus always the latest commit
          (the current state must stay readable even on an idle table).
          ``retain_commits`` is ignored when ``retain_hours`` is given.

        Both key retention on when a file was RETIRED, not when it was
        added: a file written in commit 1 and replaced by the latest
        commit is still readable via ``snapshot(as_of=...)``/
        ``restore()`` until it ages out of the window. Single manifest
        replay, live-set snapshots at protected commits only.

        Savepointed commits (:meth:`Table.savepoint`) are protected
        unconditionally — their as-of live sets survive any retention
        window until released, the Hudi savepoint-vs-cleaner contract.
        External (bootstrapped) files are never engine-owned and are
        never deleted, live or not.
        """
        t = self.t
        if retain_hours is not None and retain_hours < 0:
            # validated before ANY mutation (incl. tombstone pruning) —
            # a rejected call must have no side effects
            raise ValueError(
                f"retain_hours must be >= 0, got {retain_hours}"
            )
        # CDC delete markers past their own retention window (the
        # tombstone window is set at create time, independent of this
        # call's data retention) — name-based expiry, zero data reads.
        # Pruned before the data-retention shortcuts: an idle table's
        # markers must still age out.
        tomb_deleted = []
        for d in t._tombstone_dirs(expired=True):
            for f in t.fs.list(d):
                t.fs.delete(f)
            # drop the emptied directory too (LocalFS; S3 prefixes
            # vanish with their objects) — leftovers would accumulate
            # and a same-named future sidecar dir would collide
            t.fs.rmdir(d)
            tomb_deleted.append(posixpath.relpath(d, t.path))
        arch = t._archived_manifests()
        commits = sorted({*t.commits(), *arch})
        if retain_hours is not None:
            if not commits:
                return tomb_deleted
            from datetime import timedelta

            cutoff = (
                datetime.now(timezone.utc) - timedelta(hours=retain_hours)
            ).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
            protected = {
                c
                for c in commits
                if str((arch.get(c) or t._manifest(c)).get("ts") or "")
                >= cutoff
            }
            protected.add(commits[-1])
            protected |= set(t.savepoints())
        else:
            if len(commits) <= retain_commits and not t.savepoints():
                return tomb_deleted
            protected = set(commits[-(retain_commits + 1):]) | set(
                t.savepoints()
            )
        live: dict[str, dict] = {}
        ever: set[str] = set()
        needed: set[str] = set()
        for c in commits:
            m = arch.get(c) or t._manifest(c)
            for rel in m.get("files_removed", []):
                live.pop(rel, None)
            for e in m.get("files_added", []):
                live[e["path"]] = e
                ever.add(e["path"])
            if c in protected:
                needed.update(live)
        deleted = []
        for p in sorted(ever - needed):
            if p.startswith("/"):
                continue  # external (bootstrapped) file — not engine-owned
            if t.fs.exists(t._abs(p)):
                t.fs.delete(t._abs(p))
                deleted.append(p)
        return deleted + tomb_deleted

    def should_compact(
        self, max_delta_commits: int = 5, max_delta_row_ratio: float = 0.2
    ) -> bool:
        """MOR compaction trigger (the Hudi NUM_COMMITS / by-size
        scheduling policy, decided from manifest metadata alone — zero
        data reads): compact when the live set carries more than
        ``max_delta_commits`` distinct delta commits OR delta rows exceed
        ``max_delta_row_ratio`` of base rows (read-side merge cost grows
        with both). COW tables never need it — always False."""
        t = self.t
        if t.table_type != "mor":
            return False
        entries = t.current_files()
        delta = [e for e in entries if e.get("kind") == "delta"]
        if not delta:
            return False
        delta_commits = {e["path"].split("/")[1].split("-")[0] for e in delta}
        if len(delta_commits) > max_delta_commits:
            return True
        base_rows = sum(
            e.get("rows") or 0 for e in entries if e.get("kind", "base") == "base"
        )
        if base_rows == 0:
            # base-less table (never compacted): the ratio is undefined —
            # only the commit-count rule applies, like Hudi's NUM_COMMITS
            return False
        delta_rows = sum(e.get("rows") or 0 for e in delta)
        return delta_rows > max_delta_row_ratio * base_rows

    def compact(
        self,
        sort_cols: list[str] | None = None,
        target_records_per_file: int | None = None,
        zorder_cols: list[str] | None = None,
        where: str | None = None,
    ) -> str | None:
        t = self.t
        entries = t.current_files()
        if where is not None:
            # partition-scoped compaction (Delta ``OPTIMIZE t WHERE``):
            # rewrite ONLY the files whose hive partition value PROVES
            # the predicate — O(partition) maintenance instead of
            # O(table). Fail-CLOSED as an error (not a silent full
            # rewrite): every top-level conjunct must be
            # ``partition_col <op> literal``, the only form a file's
            # directory value can prove.
            ops = _full_partition_pred(
                where, t.meta.get("partition_fields") or [], t._schema()
            )
            if not ops:
                raise ValueError(
                    "OPTIMIZE/compact WHERE accepts only AND-ed "
                    "partition_col <op> literal conjuncts (per-file "
                    "provable scope); got " + repr(where)
                )
            if t.table_type == "mor" and any(
                e.get("kind") == "delta" for e in entries
            ):
                # tombstone deltas carry only (key, meta) — no partition
                # columns — so a delta file cannot be attributed to the
                # scope; folding a SUBSET of deltas could reorder merge
                # winners. Full compact() first, then scope.
                raise ValueError(
                    "partition-scoped compaction on a MOR table with "
                    "live delta files is not partition-attributable — "
                    "run a full compact() first"
                )
            entries = [e for e in entries if _entry_fully_matches(e, ops)]
            if not entries:
                return None
        commit = t._next_commit()
        df = t._read_entries(entries)
        if t.table_type == "mor":
            # MOR compaction: fold deltas into the base — merged view
            # (latest per key, tombstones dropped) becomes the new base
            # file set; per-row _commit_time survives the merge
            df = t._merge_view(df)
        if t._bucket_count():
            # bucket tables: the bucket layout IS the clustering —
            # _write_files re-buckets + key-sorts within buckets, so a
            # competing sort order would both double-shuffle and break
            # the tight bucket ranges pruning depends on (Hudi likewise
            # restricts clustering under the BUCKET index)
            if zorder_cols or sort_cols:
                raise ValueError(
                    "bucket tables cluster by (bucket, key) — "
                    "sort_cols/zorder_cols are not applicable; call "
                    "compact() bare to rewrite at the current layout"
                )
        elif zorder_cols:
            # multi-dimensional clustering: range-sort on the Morton
            # z-value so every zorder column gets tight per-file stats
            # (Delta/Hudi ZORDER analog; see operators/zorder.py)
            from .operators.zorder import zvalue

            df = df.withColumn("_z", zvalue(df, zorder_cols))
            sort_cols = ["_z"]
        else:
            sort_cols = sort_cols or [t.key]
        if not t._bucket_count():
            # range-partition on the sort key then sort within: globally
            # clustered layout → tight min/max stats per file (the point
            # of the reference's SparkSortAndSizeExecutionStrategy)
            total = sum(e.get("rows") or 0 for e in entries)
            if target_records_per_file:
                nparts = max(1, -(-total // target_records_per_file))
                df = df.repartitionByRange(nparts, *sort_cols)
            else:
                df = df.repartitionByRange(*sort_cols)
            df = df.sortWithinPartitions(*sort_cols)
        if zorder_cols:
            # the z-value did its job (range partition + in-file order);
            # drop it before writing — projection preserves sort order
            df = df.drop("_z")
        with _mrpf_override(t, target_records_per_file):
            added = t._write_files(df, commit)
        removed = [e["path"] for e in entries]
        t._publish(commit, "replace", added, removed, df.schema)
        return commit

    def cluster_small_files(
        self,
        threshold_rows: int,
        target_records_per_file: int | None = None,
    ) -> str | None:
        """Size-based INCREMENTAL clustering (Hudi's
        SparkSizeBasedClusteringPlanStrategy / small-file limit): rewrite
        ONLY live base files under ``threshold_rows`` into right-sized
        ones, leaving every healthy file byte-identical in place. Where
        :meth:`compact` costs O(table) per run, this costs O(small
        files) — the steady-state file-sizing service for a table fed by
        frequent small commits: at 100 TB a nightly run touches just the
        day's commit dribble, never the compacted bulk.

        Selection is fail-safe: only ``data/`` base files with a known
        row count qualify (delta/tombstone files belong to compaction —
        folding a SUBSET of deltas could reorder merge winners; external
        bootstrap files and unknown-size entries are never touched).
        Per-row ``_commit_time`` survives the rewrite, so incremental
        and CDC reads are unaffected. Returns the commit, or None when
        fewer than two small files exist (nothing to bin-pack).
        """
        if threshold_rows <= 0:
            raise ValueError(
                f"threshold_rows must be positive, got {threshold_rows}"
            )
        t = self.t
        entries = t.current_files()
        small = [
            e
            for e in entries
            if e.get("kind", "base") == "base"
            and e["path"].startswith("data/")
            and e.get("rows") is not None
            and e["rows"] < threshold_rows
        ]
        if len(small) <= 1:
            return None
        if len({e["path"].split("/", 2)[1] for e in small}) <= 1:
            # every small file came out of ONE write (typically the
            # previous packing pass): re-packing them gains nothing and
            # would churn a commit per maintenance run forever — wait
            # for new dribble to join before packing again
            return None
        commit = t._next_commit()
        df = t._read_entries(small)
        if "_deleted" in df.columns:
            # MOR read-schema widening — the selected files are all base
            # files, so the column is all-null padding; don't persist it
            df = df.drop("_deleted")
        if not t._bucket_count():
            # key-clustered output (the bucket branch in _write_files
            # re-buckets + key-sorts on its own). FLOOR division: packed
            # files land AT OR ABOVE the threshold, so they exit the
            # small set and the next run skips them
            total = sum(e["rows"] for e in small)
            tr = target_records_per_file or threshold_rows
            nparts = max(1, total // tr)
            df = df.repartitionByRange(nparts, t.key).sortWithinPartitions(
                t.key
            )
        with _mrpf_override(t, target_records_per_file):
            added = t._write_files(df, commit)
        t._publish(
            commit, "replace", added, [e["path"] for e in small], df.schema
        )
        return commit

    def set_auto_index(self, specs: list[str] | None) -> None:
        """Enable (or, with ``None``/empty, disable) synchronous
        per-commit index maintenance on an EXISTING table — see
        ``Table.create(auto_index=)``. Enabling does not backfill by
        itself: the first data-adding commit after enabling extends an
        index that exists, or full-builds one that doesn't (the
        incremental builders' no-meta path), so a large table should
        run the explicit ``build_*`` service once first if the first
        post-enable commit must stay O(commit)."""
        t = self.t
        if specs:
            sch = t.effective_schema()
            t.meta["auto_index"] = _validate_auto_index(
                list(specs),
                t.key,
                set(sch.fieldNames()) if sch is not None else None,
            )
        else:
            t.meta.pop("auto_index", None)
        write_json(posixpath.join(t.path, "_table.json"), t.meta)

    def set_pre_commit_validators(self, validators: dict | None) -> None:
        """Set (or, with ``None``/empty, clear) the table's pre-commit
        validators — see ``Table.create(pre_commit_validators=)`` and
        :meth:`.Table._validate_pre_commit` for the contract."""
        t = self.t
        if validators:
            t.meta["pre_commit_validators"] = _validate_validators(
                validators
            )
        else:
            t.meta.pop("pre_commit_validators", None)
        write_json(posixpath.join(t.path, "_table.json"), t.meta)

    def resize_buckets(self, new_count: int, rewrite: bool = True) -> str | None:
        """Change a bucket table's bucket count (Hudi's consistent-
        hashing bucket index solves the same problem — a day-1 count
        that no longer fits the table's size — via bucket split/merge;
        here the per-file recorded modulus makes BOTH migration modes
        exact):

        - ``rewrite=True`` (default): update the count, then one
          :meth:`compact` pass re-buckets every live row under the new
          modulus — one ``replace`` commit, O(table) cost, and every
          subsequent merge prunes on the new layout immediately.
        - ``rewrite=False``: METADATA-ONLY. New writes bucket under the
          new count while existing files keep pruning by their own
          recorded ``bucket_n`` — correctness never depends on the
          migration having happened (each file's bucket ids are a pure
          function of ITS modulus). Merge cost during the transition is
          bounded by the batch's buckets under each live generation
          (at most two resolve jobs per merge); a later bare
          :meth:`compact` or the next full rewrite converges the
          layout. This is the 100 TB path: no O(table) rewrite on the
          critical path.

        Time travel stays exact in both modes: pre-resize commits list
        pre-resize files, whose recorded modulus drives the prune;
        files written before modulus recording existed (legacy) are
        covered by ``legacy_bucket_count`` — the FIRST resize stamps
        the count it replaced into the table meta, and before any
        resize the count was immutable, so every legacy file provably
        carries it (this also makes an interrupted rewrite safe: the
        meta flip alone leaves exactly the metadata-only state).
        Returns the replace commit, or None when metadata-only / the
        count is unchanged."""
        t = self.t
        if t.meta.get("index_type") != "bucket":
            raise ValueError(
                "resize_buckets needs index_type='bucket' (plain and "
                "bloom tables have no bucket layout to resize)"
            )
        new_count = int(new_count)
        if new_count < 1:
            raise ValueError(f"bucket_count must be >= 1, got {new_count}")
        if new_count == int(t.meta["bucket_count"]):
            return None
        t.meta.setdefault(
            "legacy_bucket_count", int(t.meta["bucket_count"])
        )
        t.meta["bucket_count"] = new_count
        write_json(posixpath.join(t.path, "_table.json"), t.meta)
        # the point-read memo is keyed (value, modulus) so stale counts
        # can't be served; nothing to invalidate
        if not rewrite:
            return None
        return self.compact()

    def _canonical_sync_key(self, ident: str) -> str:
        """Resolve ``ident`` to its fully-qualified catalog.db.table
        spelling for use as the sync-watermark key, so every spelling
        of one physical mirror shares a watermark. Quoted identifiers
        (backticks) are left as-is — a dot inside a quoted part would
        defeat the split, and an exotic spelling merely falls back to
        per-spelling tracking (redundant re-sync, never wrong data)."""
        if "`" in ident:
            return ident
        parts = ident.split(".")
        if len(parts) >= 3:
            return ident
        spark = self.t.spark
        if len(parts) == 2:
            # Spark resolves the head of a 2-part ident CATALOG-FIRST:
            # 'prod.t' with a registered catalog 'prod' is catalog
            # prod's table t, NOT database prod in the session catalog
            # — prefixing currentCatalog() would collide its watermark
            # with a genuine 'spark_catalog.prod.t' mirror (one
            # spelling's sync would mark the other up to date: a
            # permanently stale mirror, r13 review finding). A
            # catalog-headed spelling keeps per-spelling tracking.
            # listCatalogs() alone is NOT enough (r13 advice): on this
            # PySpark it returns only already-LOADED catalogs plus
            # spark_catalog, so a catalog registered via
            # spark.sql.catalog.<name> but never yet referenced would be
            # invisible on the FIRST sync of 'prod.t' — canonicalized to
            # 'spark_catalog.prod.t' while every later call (catalog now
            # loaded) keeps it raw: inconsistent watermark keys, and the
            # mis-keyed spelling collides with a genuine session-catalog
            # prod.t mirror. Treat the head as a catalog when it is
            # CONFIGURED, not just loaded.
            cats = {c.name for c in spark.catalog.listCatalogs()}
            if (
                parts[0] in cats
                or spark.conf.get(f"spark.sql.catalog.{parts[0]}", None)
                is not None
            ):
                return ident
            return f"{spark.catalog.currentCatalog()}.{ident}"
        return (
            f"{spark.catalog.currentCatalog()}."
            f"{spark.catalog.currentDatabase()}.{ident}"
        )

    def _advance_sync_watermark(
        self, key: str, ident: str, latest: str
    ) -> None:
        """Record ``latest`` as synced under the canonical key,
        migrating any legacy raw-spelling entry."""
        t = self.t
        m = t.meta.setdefault("catalog_sync", {})
        m.pop(ident, None)
        m[key] = latest
        write_json(posixpath.join(t.path, "_table.json"), t.meta)

    def sync_spark_catalog(
        self, ident: str, location: str | None = None,
        catalog: str | None = None,
    ) -> list[str]:
        """Sync the table's read-optimized snapshot into a Spark
        catalog as a REAL datasource parquet table — the engine-native
        analog of the Hudi hive-sync the reference carries disabled
        (``create_hudi_tables.py:130-138``, off at ``:249,270``):
        after a sync, ANY Spark SQL client (or plain
        ``spark.table(ident)``, Hive, DuckDB over the location) reads
        the current snapshot without knowing the engine exists.

        Target selection (the reference's ``hive_sync.metastore.uris``
        config shape): ``catalog`` (or a fully-qualified
        ``catalog.db.table`` ident) routes every DDL/DML this method
        issues to that REGISTERED Spark catalog. The default session
        catalog (``spark_catalog``) is itself metastore-backed when
        the session is built with
        ``spark.sql.catalogImplementation=hive`` +
        ``hive.metastore.uris=thrift://...`` (the reference's HMS
        target — deployment config, not engine code; the hive/derby
        jars ship with this PySpark). Additional catalogs register via
        ``spark.sql.catalog.<name>=<plugin class>`` and are addressed
        here by name — the sync path itself is catalog-agnostic.

        Cost model (the 100 TB contract):

        - FIRST sync (or unpartitioned table, or lost attribution):
          full snapshot CTAS, hive-partitioned like the engine table.
        - LATER syncs of a partitioned table: **O(changed partitions)**
          — the commit manifests since the last synced commit name
          every touched partition (added entries carry the partition
          dict; removed paths resolve against the as-of-sync live set),
          and ONLY those partitions are rewritten via dynamic
          partition-overwrite ``insertInto``; partitions the engine
          dropped are ``ALTER TABLE .. DROP PARTITION``ed from the
          catalog. Untouched partitions' files are not read or written.

        The last synced commit is recorded per-ident in the table meta,
        so repeated syncs are incremental and an up-to-date table is a
        no-op (returns []). Returns the refreshed partition descriptors
        (``["*"]`` for a full sync). META_COL is dropped — the mirror
        is the user-facing snapshot, not the engine bookkeeping.
        """
        t = self.t
        spark = t.spark
        if catalog is not None:
            # prepend only — ident keeps its (db.)table parts, so the
            # session/HMS catalog's required namespace is expressible:
            # catalog='spark_catalog', ident='default.t' →
            # spark_catalog.default.t (a dot-in-ident guard here made
            # the documented HMS target unreachable: spark_catalog
            # rejects an empty namespace)
            ident = f"{catalog}.{ident}"
        pf = list(t.meta.get("partition_fields") or [])
        latest = t.latest_commit()
        if latest is None:
            raise ValueError("cannot sync an empty table")
        # The watermark key is the CANONICAL (catalog.db.table) spelling
        # — 'default.t' and 'spark_catalog.default.t' address the same
        # physical mirror, and keying on the raw spelling would track
        # independent synced commits for it (one spelling's syncs leave
        # the other's watermark stale → redundant full/incremental
        # re-syncs; r12 advice). A pre-canonicalization watermark under
        # the raw spelling is honored once and migrated on write.
        key = self._canonical_sync_key(ident)
        sync_map = t.meta.get("catalog_sync") or {}
        synced = sync_map.get(key, sync_map.get(ident))
        exists = spark.catalog.tableExists(ident)
        if synced is not None and exists and synced >= latest:
            # up-to-date mirror is a no-op for UNPARTITIONED tables too
            # (r11-advice: this check lived inside the partitioned-only
            # branch, so an up-to-date flat table re-ran the full CTAS
            # on every sync call)
            return []
        snap = t.snapshot().drop(META_COL)
        touched: list[tuple] | None = None
        if synced is not None and exists and pf:
            if dict(spark.table(ident).dtypes) != dict(snap.dtypes):
                # schema evolved (ADD/DROP/RENAME/TYPE change) since the
                # mirror was created — the incremental insertInto path
                # would silently drop new columns, fail analysis on
                # retired ones, or store-assign a widened type into the
                # mirror's narrow column (ANSI overflow at best, a
                # permanently narrowed mirror at worst) — name-AND-type
                # compare, fall back to a full resync (fail-closed)
                touched = None
            else:
                touched = self._touched_partitions(synced, latest, pf)
        if touched is None:
            w = snap.write.mode("overwrite").format("parquet")
            if pf:
                w = w.partitionBy(*pf)
            if location is not None:
                w = w.option("path", location)
            w.saveAsTable(ident)
            self._advance_sync_watermark(key, ident, latest)
            return ["*"]
        if not touched:
            # commits landed but touched no data files (pure metadata
            # commits) — nothing to rewrite, just advance the watermark
            self._advance_sync_watermark(key, ident, latest)
            return []
        cond = F.lit(False)
        for tup in touched:
            c = F.lit(True)
            for col, raw in zip(pf, tup):
                c = c & (
                    F.col(col).isNull()
                    if raw is None
                    else (F.col(col).cast("string") == F.lit(raw))
                )
            cond = cond | c
        changed = snap.where(cond)
        # bounded collect: one distinct row per TOUCHED partition (the
        # partition-count plane, never the data plane). Values are
        # string-cast SPARK-side so they compare against the manifests'
        # hive-dir strings (Spark casts boolean→'true', date→ISO — a
        # Python str() would read 'True' and misclassify a freshly
        # rewritten partition as dropped)
        present = {
            tuple(r[col] for col in pf)
            for r in changed.select(
                *[F.col(c).cast("string").alias(c) for c in pf]
            )
            .distinct()
            .collect()
        }
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        try:
            old_mode = spark.conf.get(mode_key)
        except Exception:  # unset → restore by unsetting
            old_mode = None
        spark.conf.set(mode_key, "dynamic")
        try:
            if present:
                cols = spark.table(ident).columns
                changed.select(*cols).write.mode("overwrite").insertInto(
                    ident
                )
        finally:
            if old_mode is None:
                spark.conf.unset(mode_key)
            else:
                spark.conf.set(mode_key, old_mode)
        for tup in sorted(
            set(touched) - present, key=lambda x: tuple(map(repr, x))
        ):
            spec = ", ".join(
                # backslashes doubled FIRST (Spark string literals
                # process \-escapes by default: an unescaped trailing
                # backslash eats the closing quote, an inner one
                # corrupts the value into a silent IF EXISTS no-op),
                # then single quotes doubled (o'brien must not break
                # the statement or smuggle SQL in). A null component
                # names the hive default-partition sentinel — OMITTING
                # it would broaden the spec and drop every sibling
                # partition under the non-null components.
                "{} = '{}'".format(
                    col,
                    "__HIVE_DEFAULT_PARTITION__"
                    if raw is None
                    else str(raw)
                    .replace("\\", "\\\\")
                    .replace("'", "''"),
                )
                for col, raw in zip(pf, tup)
            )
            spark.sql(
                f"ALTER TABLE {ident} DROP IF EXISTS PARTITION ({spec})"
            )
        self._advance_sync_watermark(key, ident, latest)
        return [
            "/".join("null" if r is None else r for r in tup)
            for tup in sorted(
                touched, key=lambda x: tuple(map(repr, x))
            )
        ]

    def _touched_partitions(
        self, since: str, until: str, pf: list[str]
    ) -> list[tuple] | None:
        """Distinct partition tuples touched by commits in
        ``(since, until]`` — from the manifests alone (O(changed
        files), no data read). Removed paths resolve through the
        as-of-``since`` live set plus the window's own additions; any
        unattributable file fails closed (None → caller full-syncs)."""
        t = self.t
        known: dict[str, dict] = {
            e["path"]: e for e in t.current_files(as_of=since)
        }
        touched: set[tuple] = set()

        def _tup(entry: dict) -> tuple | None:
            p = entry.get("partition")
            if not isinstance(p, dict) or set(pf) - set(p):
                return None
            return tuple(p[c] for c in pf)

        for c in t.commits(include_archived=True):
            if c <= since or c > until:
                continue
            m = t._manifest(c)
            for e in m.get("files_added") or []:
                tup = _tup(e)
                if tup is None:
                    return None
                touched.add(tup)
                known[e["path"]] = e
            for rel in m.get("files_removed") or []:
                e = known.get(rel)
                if e is None:
                    return None
                tup = _tup(e)
                if tup is None:
                    return None
                touched.add(tup)
        return sorted(touched, key=lambda x: tuple(map(repr, x)))
