"""SQL DDL front-end over engine tables: ``CREATE TABLE`` (incl.
CTAS) / ``ALTER TABLE`` / ``DROP TABLE`` / ``SHOW`` / ``DESCRIBE``
statement strings compiled onto the table lifecycle APIs.

Completes the SQL-statement surface next to :mod:`.sql_dml` (writes)
and :func:`.catalog_api.sql_over` (reads): the Hudi Spark-SQL DDL
family (``CREATE TABLE .. USING hudi TBLPROPERTIES (primaryKey=..,
preCombineField=.., type=..)``, per
``AirflowHudiLabs``'s table-creation jobs) re-expressed over
:class:`.table.Table` with ``USING engine``. Spark itself cannot run
this DDL without a catalog plugin; here the "catalog" is an explicit
``dict[str, Table]`` the caller owns — CREATE adds an entry, DROP
removes one, RENAME rekeys — the same dict :func:`.sql_dml.execute`
and :func:`.catalog_api.attach` consume, so the three surfaces compose
into a full SQL session over a directory of tables.

Grammar (case-insensitive keywords; clauses in any order after
``USING``):

    CREATE TABLE [IF NOT EXISTS] <name>
        [(col type[, ...])]                  -- omitted for CTAS
        USING engine
        [PARTITIONED BY (col[, ...])]
        [LOCATION '<path>']                  -- default: <base_dir>/<name>
        [TBLPROPERTIES (k = v[, ...])]       -- primaryKey + preCombineField
                                             -- required; type = 'cow'|'mor',
                                             -- maxRecordsPerFile = N,
                                             -- indexType = 'bloom'|'bucket',
                                             -- bucketCount = N, autoIndex =
                                             -- 'record_index[,secondary_index(c)]';
                                             -- other keys stored verbatim
        [AS <select ...>]                    -- CTAS: schema from the query

    ALTER TABLE <name> ADD COLUMNS (col type[, ...])
    ALTER TABLE <name> DROP COLUMN <col>
    ALTER TABLE <name> ALTER COLUMN <col> TYPE <type>   -- widening only
    ALTER TABLE <name> RENAME COLUMN <col> TO <newcol>  -- metadata-only
    ALTER TABLE <name> SET TBLPROPERTIES (k = v[, ...])
    ALTER TABLE <name> RENAME TO <newname>
    CREATE INDEX <name> ON [TABLE] <table>
        USING { record_index() | secondary_index(col)
              | expression_index(<expr>) | bloom_index() }
    DROP INDEX <name> ON [TABLE] <table>
    ALTER TABLE <name> DROP PARTITION (col = lit[, ...])
    TRUNCATE TABLE <name>
    DROP TABLE [IF EXISTS] <name> [PURGE]
    SHOW TABLES
    SHOW PARTITIONS <name>
    SHOW INDEXES [ON|FROM] <name>
    SHOW CREATE TABLE <name>
    DESCRIBE [EXTENDED] <name>               -- DESC accepted

Returns (per route): CREATE → the opened :class:`Table`; ALTER ADD
COLUMNS / DROP COLUMN → the commit id they publish; ALTER SET
TBLPROPERTIES / RENAME TO / DROP TABLE → ``None`` (metadata-plane
only, no commit — matching the kernel: property and name changes
rewrite ``_table.json``, not the timeline); SHOW / DESCRIBE → a result
DataFrame. ``SET TBLPROPERTIES`` refuses the structural properties
(primaryKey / preCombineField / type / partitioning) — those are fixed
at creation, exactly as Hudi refuses to re-key a table. ``DROP TABLE``
detaches the catalog entry and leaves the files; ``PURGE`` also
deletes every file under the table path (irreversible — the SQL
keyword is the explicit opt-in).
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .sqltext import IDENT as _IDENT
from .sqltext import scan_top as _scan_top
from .sqltext import split_top as _split_top
from .storage import fs_for, write_json
from .table import META_COL, Table

__all__ = ["execute_ddl"]

# properties fixed at creation; SET TBLPROPERTIES refuses them
_STRUCTURAL = {
    "primarykey": "record_key",
    "precombinefield": "precombine",
    "type": "table_type",
}


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] in "'\"" and v[-1] == v[0]:
        return v[1:-1]
    return v


def _parse_props(body: str) -> dict[str, str]:
    props: dict[str, str] = {}
    for part in _split_top(body, r","):
        if not part.strip():
            continue
        m = re.match(
            rf"\s*('[^']*'|\"[^\"]*\"|{_IDENT}(?:\.{_IDENT})*)\s*=\s*(.+?)\s*$",
            part,
            re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse TBLPROPERTIES entry {part!r}")
        k = _unquote(m.group(1)).strip("`")
        if k.lower() in (p.lower() for p in props):
            raise ValueError(f"duplicate TBLPROPERTIES key {k!r}")
        props[k] = _unquote(m.group(2))
    return props


def _clause_paren(s: str, start: int) -> tuple[str, int]:
    """Body of the ( ... ) group starting at the first '(' at/after
    ``start``; returns (inner_text, end_index_after_close)."""
    i = s.find("(", start)
    if i < 0:
        raise ValueError(f"expected '(' after position {start} in {s[:80]!r}")
    depth, j, n = 0, i, len(s)
    while j < n:
        c = s[j]
        if c in ("'", '"', "`"):
            k = s.find(c, j + 1)
            j = n if k < 0 else k + 1
            continue
        depth += c == "("
        depth -= c == ")"
        if depth == 0:
            return s[i + 1 : j], j + 1
        j += 1
    raise ValueError(f"unbalanced parentheses in {s[:80]!r}")


def _parse_coldefs(body: str) -> list[tuple[str, str]]:
    cols: list[tuple[str, str]] = []
    for part in _split_top(body, r","):
        part = part.strip()
        if not part:
            continue
        m = re.match(rf"({_IDENT})\s+(.+?)\s*$", part, re.DOTALL)
        if not m:
            raise ValueError(f"cannot parse column definition {part!r}")
        cols.append((m.group(1).strip("`"), m.group(2)))
    return cols


def _parse_create(s: str) -> dict:
    m = re.match(
        rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*",
        s,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"not a CREATE TABLE statement: {s[:80]!r}")
    out: dict = {
        "if_not_exists": bool(m.group(1)),
        "name": m.group(2).strip("`"),
        "cols": None,
        "partition": [],
        "location": None,
        "props": {},
        "select": None,
    }
    rest = s[m.end() :].lstrip()
    if rest.startswith("("):
        body, end = _clause_paren(rest, 0)
        out["cols"] = _parse_coldefs(body)
        rest = rest[end:].lstrip()
    um = re.match(rf"USING\s+({_IDENT})\s*", rest, re.IGNORECASE)
    if not um:
        raise ValueError(
            "CREATE TABLE needs a USING <provider> clause (`USING engine`)"
        )
    rest = rest[um.end() :]
    # CTAS select split off first so its text is never clause-scanned
    as_spans = _scan_top(rest, r"\bAS\s+SELECT\b|\bAS\s+WITH\b")
    if as_spans:
        a, b = as_spans[0]
        # keep the SELECT/WITH keyword (AS itself is dropped)
        out["select"] = rest[a:].split(None, 1)[1]
        rest = rest[:a]
    i, n = 0, len(rest)
    while i < n:
        if rest[i].isspace():
            i += 1
            continue
        pm = re.match(r"PARTITIONED\s+BY\s*", rest[i:], re.IGNORECASE)
        if pm:
            body, end = _clause_paren(rest, i + pm.end())
            out["partition"] = [
                c.strip().strip("`") for c in body.split(",") if c.strip()
            ]
            i = end
            continue
        lm = re.match(
            r"LOCATION\s+('[^']*'|\"[^\"]*\")", rest[i:], re.IGNORECASE
        )
        if lm:
            out["location"] = _unquote(lm.group(1))
            i += lm.end()
            continue
        tm = re.match(r"TBLPROPERTIES\s*", rest[i:], re.IGNORECASE)
        if tm:
            body, end = _clause_paren(rest, i + tm.end())
            out["props"] = _parse_props(body)
            i = end
            continue
        raise ValueError(
            f"unrecognized CREATE TABLE clause at {rest[i : i + 40]!r}"
        )
    if out["cols"] is None and out["select"] is None:
        raise ValueError(
            "CREATE TABLE needs a column list or an AS SELECT query"
        )
    if out["cols"] is not None and out["select"] is not None:
        raise ValueError("CTAS takes its schema from the query — drop the "
                         "explicit column list")
    return out


def _create(
    spark: SparkSession,
    p: dict,
    catalog: dict[str, Table],
    base_dir: str | None,
) -> Table:
    name = p["name"]
    if name in catalog:
        if p["if_not_exists"]:
            return catalog[name]
        raise ValueError(f"table {name!r} already exists in the catalog")
    props = {k.lower(): v for k, v in p["props"].items()}
    key = props.pop("primarykey", None)
    precombine = props.pop("precombinefield", None)
    if not key or not precombine:
        raise ValueError(
            "TBLPROPERTIES must set primaryKey and preCombineField "
            "(engine tables are keyed upsert tables)"
        )
    table_type = props.pop("type", "cow").lower()
    mrpf = int(props.pop("maxrecordsperfile", 0))
    # hoodie.index.type / hoodie.bucket.index.num.buckets analogs
    index_type = props.pop("indextype", None)
    if index_type is not None:
        index_type = index_type.lower()
    bucket_count = int(props.pop("bucketcount", 0))
    # hoodie.metadata.record.index.enable / secondary-index analogs:
    # comma-separated specs, e.g. 'record_index,secondary_index(c)'
    auto_raw = props.pop("autoindex", None)
    auto_index = (
        [s.strip() for s in str(auto_raw).split(",") if s.strip()]
        if auto_raw
        else None
    )
    path = p["location"]
    if path is None:
        if base_dir is None:
            raise ValueError(
                f"CREATE TABLE {name!r} needs a LOCATION clause (no "
                "base_dir configured for default placement)"
            )
        path = posixpath.join(base_dir.rstrip("/"), name)
    if p["if_not_exists"] and fs_for(path).exists(
        posixpath.join(path.rstrip("/"), "_table.json")
    ):
        # pre-existing table files: attach as-is — IF NOT EXISTS means
        # the declared schema / CTAS query must NOT re-run (Hudi CTAS
        # semantics: the query only populates a table this statement
        # itself created)
        catalog[name] = Table.load(spark, path)
        return catalog[name]
    # original-cased leftover keys stored verbatim
    extra = {
        k: v for k, v in p["props"].items() if k.lower() in props
    }
    declared = None
    if p["cols"] is not None:
        # parse + validate BEFORE creating anything on disk
        ddl = ", ".join(f"`{c}` {ty}" for c, ty in p["cols"])
        declared = StructType.fromDDL(ddl)
        for c in (key, precombine, *p["partition"]):
            if c not in declared.fieldNames():
                raise ValueError(
                    f"declared column list lacks structural column {c!r}"
                )
        if auto_index:
            # a typo'd secondary_index column must fail the CREATE, not
            # the first post-commit maintenance pass
            from .table import _validate_auto_index

            _validate_auto_index(
                auto_index, key, set(declared.fieldNames())
            )
    ctas_df = None
    if p["select"] is not None:
        # analyze + validate the CTAS query BEFORE creating anything on
        # disk too: a bad query must not leave an orphan _table.json
        # that blocks re-running the corrected statement at the same
        # LOCATION
        ctas_df = spark.sql(p["select"])
        if META_COL in ctas_df.columns:
            # SELECT * from an attached engine view carries the system
            # meta column; the new table stamps its own
            ctas_df = ctas_df.drop(META_COL)
        for c in (key, precombine, *p["partition"]):
            if c not in ctas_df.columns:
                raise ValueError(
                    f"CTAS query output lacks structural column {c!r}"
                )
    t = Table.create(
        spark,
        path,
        key=key,
        precombine=precombine,
        partition_fields=p["partition"] or None,
        table_name=name,
        max_records_per_file=mrpf,
        table_type=table_type,
        index_type=index_type,
        bucket_count=bucket_count,
        auto_index=auto_index,
    )
    if declared is not None:
        t.meta["declared_schema"] = declared.jsonValue()
    if extra:
        t.meta["tblproperties"] = extra
    if extra or declared is not None:
        write_json(posixpath.join(t.path, "_table.json"), t.meta)
    if ctas_df is not None:
        t.bulk_insert(ctas_df)
    catalog[name] = t
    return t


def _lookup(catalog: dict[str, Table], name: str) -> Table:
    name = name.strip("`")
    if name not in catalog:
        raise ValueError(f"unknown table {name!r} in the catalog")
    return catalog[name]


def _show_create(spark: SparkSession, name: str, t: Table) -> DataFrame:
    schema = t.effective_schema()
    cols = (
        ",\n  ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields
            if f.name != META_COL
        )
        if schema is not None
        else ""
    )
    props = {
        "primaryKey": f"'{t.key}'",
        "preCombineField": f"'{t.precombine}'",
        "type": f"'{t.table_type}'",
    }
    if t.meta.get("max_records_per_file"):
        props["maxRecordsPerFile"] = str(t.meta["max_records_per_file"])
    if t.meta.get("index_type"):
        props["indexType"] = f"'{t.meta['index_type']}'"
    if t.meta.get("bucket_count"):
        props["bucketCount"] = str(t.meta["bucket_count"])
    if t.meta.get("auto_index"):
        props["autoIndex"] = "'" + ",".join(t.meta["auto_index"]) + "'"
    for k, v in (t.meta.get("tblproperties") or {}).items():
        props[k] = f"'{v}'"
    parts = [f"CREATE TABLE `{name}` (\n  {cols})", "USING engine"]
    pf = t.meta.get("partition_fields") or []
    if pf:
        parts.append("PARTITIONED BY (" + ", ".join(pf) + ")")
    parts.append(f"LOCATION '{t.path}'")
    parts.append(
        "TBLPROPERTIES (\n  "
        + ",\n  ".join(f"{k} = {v}" for k, v in props.items())
        + ")"
    )
    return spark.createDataFrame(
        [("\n".join(parts),)], "createtab_stmt string"
    )


def _describe(
    spark: SparkSession, name: str, t: Table, extended: bool
) -> DataFrame:
    schema = t.effective_schema()
    rows: list[tuple[str, str, str]] = []
    if schema is not None:
        rows += [
            (f.name, f.dataType.simpleString(), "")
            for f in schema.fields
            if f.name != META_COL
        ]
    pf = t.meta.get("partition_fields") or []
    if pf:
        rows.append(("# Partition Information", "", ""))
        rows += [(c, "", "") for c in pf]
    if extended:
        rows.append(("", "", ""))
        rows.append(("# Detailed Table Information", "", ""))
        rows += [
            ("Name", t.meta.get("table_name", name), ""),
            ("Location", t.path, ""),
            ("Provider", "engine", ""),
            ("Type", t.table_type, ""),
            ("Primary Key", t.key, ""),
            ("PreCombine Field", t.precombine, ""),
            ("Last Commit", t.latest_commit() or "", ""),
        ]
        for k, v in (t.meta.get("tblproperties") or {}).items():
            rows.append((f"Property: {k}", v, ""))
    return spark.createDataFrame(
        rows, "col_name string, data_type string, comment string"
    )


def execute_ddl(
    spark: SparkSession,
    stmt: str,
    catalog: dict[str, Table],
    base_dir: str | None = None,
):
    """Execute a DDL string against ``catalog`` (mutated in place:
    CREATE adds, DROP removes, RENAME rekeys). See the module docstring
    for the grammar and the per-route return value."""
    s = stmt.strip().rstrip(";")
    if re.match(r"CREATE\s+TABLE\b", s, re.IGNORECASE):
        return _create(spark, _parse_create(s), catalog, base_dir)
    m = re.match(
        rf"CREATE\s+INDEX\s+({_IDENT})\s+ON\s+(?:TABLE\s+)?({_IDENT})"
        r"\s+USING\s+([A-Za-z_]+)\s*\((.*)\)\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        # Hudi 1.0's CREATE INDEX family over the engine's async
        # indexers: record_index() (key→file map), secondary_index(col)
        # (value→files map), expression_index(<spark-sql expr>)
        # (per-file min/max envelope of a computed value). Returns the
        # commit the index is exact as of; files written later fall
        # through unpruned until the index is rebuilt.
        from .table import TableServices

        name = m.group(1).strip("`")
        t = _lookup(catalog, m.group(2))
        kind = m.group(3).lower()
        arg = m.group(4).strip()
        svc = TableServices(t)
        if kind == "record_index":
            if arg:
                raise ValueError("record_index() takes no arguments")
            if name.lower() != "record_index":
                # the kernel stores this index under ONE canonical name;
                # accepting any declared name would leave DROP INDEX
                # <declared-name> unresolvable
                raise ValueError(
                    "the record index's name is canonical: use "
                    "CREATE INDEX record_index ON ... USING record_index()"
                )
            return svc.build_record_index()
        if kind == "secondary_index":
            cm = re.fullmatch(rf"({_IDENT})", arg)
            if not cm:
                raise ValueError(
                    f"secondary_index takes one column name, got {arg!r}"
                )
            col = cm.group(1).strip("`")
            if name != col:
                # secondary indexes are stored and consulted BY COLUMN;
                # a divergent declared name would make the symmetric
                # DROP INDEX <name> fail
                raise ValueError(
                    f"a secondary index is named by its column: use "
                    f"CREATE INDEX {col} ON ... USING secondary_index({col})"
                )
            return svc.build_secondary_index(col)
        if kind in ("expression_index", "column_stats"):
            if not arg:
                raise ValueError("expression_index needs an expression")
            if name.lower() in ("bloom_index", "record_index", "bucket_index"):
                # reserved: DROP INDEX / SHOW INDEXES resolve these
                # literals to their structural kinds, so an expression
                # index so named could never be addressed unambiguously
                raise ValueError(
                    f"index name {name!r} is reserved for the "
                    f"{name.lower().split('_')[0]} index kind"
                )
            return svc.build_expression_index(arg, name=name)
        if kind in ("bloom_index", "bloom_filters"):
            # per-file key membership filters (hoodie.index.type=BLOOM,
            # Hudi 1.0's bloom_filters index type): enables the flag and
            # backfills sidecars for pre-existing commits
            if arg:
                raise ValueError("bloom_index() takes no arguments")
            if name.lower() != "bloom_index":
                raise ValueError(
                    "the bloom index's name is canonical: use "
                    "CREATE INDEX bloom_index ON ... USING bloom_index()"
                )
            return svc.build_bloom_index()
        if kind == "bucket_index":
            raise ValueError(
                "the bucket index is a creation-time structural mode — "
                "existing file layouts can't be re-bucketed in place; "
                "declare it in CREATE TABLE TBLPROPERTIES "
                "(indexType='bucket', bucketCount=N)"
            )
        raise ValueError(
            f"unknown index kind {kind!r}: use record_index / "
            "secondary_index / expression_index / bloom_index"
        )
    m = re.match(
        rf"DROP\s+INDEX\s+({_IDENT})\s+ON\s+(?:TABLE\s+)?({_IDENT})\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        # metadata-plane removal (TableServices._drop_index). Accepts an
        # expression-index NAME, a secondary-indexed COLUMN name, or the
        # literal ``record_index``; resolution order is record →
        # expression → secondary (CREATE enforces canonical names for
        # record/secondary, so a clash means the user named an
        # expression index after an indexed column — the expression
        # index wins and a second DROP removes the secondary one).
        from .table import TableServices

        name = m.group(1).strip("`")
        t = _lookup(catalog, m.group(2))
        if name.lower() == "bloom_index" and t.meta.get("index_type") == "bloom":
            # table not bloom-flagged → fall through to the generic
            # resolution below (CREATE reserves this name for the bloom
            # kind, but a pre-reservation expression index could exist)
            TableServices(t).drop_bloom_index()
            return None
        if (
            name.lower() == "bucket_index"
            and t.meta.get("index_type") == "bucket"
        ):
            raise ValueError(
                "the bucket index is a creation-time structural mode — "
                "it cannot be dropped; recreate the table without it"
            )
        wanted = [("expression", name), ("secondary", name)]
        if name.lower() == "record_index":
            wanted.insert(0, ("record", "record_index"))
        published = {(i["kind"], i["name"]) for i in t._file_indexes()}
        for target in wanted:
            if target in published:
                TableServices(t)._drop_index(*target)
                return None
        raise ValueError(f"no index {name!r} on table {m.group(2)!r}")
    m = re.match(
        rf"ALTER\s+TABLE\s+({_IDENT})\s+(.*)$", s, re.IGNORECASE | re.DOTALL
    )
    if m:
        t = _lookup(catalog, m.group(1))
        body = m.group(2).strip()
        pm = re.match(
            r"DROP\s+(IF\s+EXISTS\s+)?PARTITION\s*", body, re.IGNORECASE
        )
        if pm:
            # Spark/Hudi ALTER TABLE … DROP PARTITION: one manifest-only
            # commit retires the named partition's live files (see
            # Table.delete_partition — O(manifest) at any data size,
            # time travel preserved). Literals go through the same
            # table-typed hive codec as static INSERT OVERWRITE specs.
            from .sql_dml import _parse_partition_spec, partition_spec_to_hive

            inner, end = _clause_paren(body, pm.end())
            if body[end:].strip():
                raise ValueError(
                    f"trailing text after DROP PARTITION: {body[end:][:40]!r}"
                )
            if not (t.meta.get("partition_fields") or []):
                raise ValueError(
                    f"DROP PARTITION on unpartitioned table "
                    f"{m.group(1).strip('`')!r}"
                )
            static = _parse_partition_spec(inner, t)
            hive = partition_spec_to_hive(spark, t.effective_schema(), static)
            return t.delete_partition(hive, missing_ok=bool(pm.group(1)))
        am = re.match(r"ADD\s+COLUMNS\s*", body, re.IGNORECASE)
        if am:
            inner, end = _clause_paren(body, am.end())
            if body[end:].strip():
                raise ValueError(
                    f"trailing text after ADD COLUMNS: {body[end:][:40]!r}"
                )
            return t.alter_add_columns(_parse_coldefs(inner))
        dm = re.match(
            rf"DROP\s+COLUMN\s+({_IDENT})\s*$", body, re.IGNORECASE
        )
        if dm:
            return t.alter_drop_column(dm.group(1).strip("`"))
        atm = re.match(
            rf"ALTER\s+COLUMN\s+({_IDENT})\s+TYPE\s+(.+?)\s*$",
            body,
            re.IGNORECASE,
        )
        if atm:
            # metadata-only type widening (Hudi 1.0 / Spark type
            # promotion — see Table.alter_column_type)
            return t.alter_column_type(
                atm.group(1).strip("`"), atm.group(2).strip()
            )
        sm = re.match(r"SET\s+TBLPROPERTIES\s*", body, re.IGNORECASE)
        if sm:
            inner, end = _clause_paren(body, sm.end())
            if body[end:].strip():
                raise ValueError(
                    f"trailing text after SET TBLPROPERTIES: "
                    f"{body[end:][:40]!r}"
                )
            props = _parse_props(inner)
            for k in props:
                if k.lower() in _STRUCTURAL:
                    raise ValueError(
                        f"TBLPROPERTIES key {k!r} is structural (fixed "
                        "at CREATE TABLE) — create a new table instead"
                    )
            for k, v in props.items():
                if k.lower() == "maxrecordsperfile":
                    t.meta["max_records_per_file"] = int(v)
                else:
                    t.meta.setdefault("tblproperties", {})[k] = v
            write_json(posixpath.join(t.path, "_table.json"), t.meta)
            return None
        rcm = re.match(
            rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})\s*$",
            body,
            re.IGNORECASE,
        )
        if rcm:
            # metadata-only column rename (Iceberg/Hudi 1.0 RENAME
            # COLUMN — see Table.alter_rename_column: field-id map keeps
            # old files readable under the new name, zero files touched)
            return t.alter_rename_column(
                rcm.group(1).strip("`"), rcm.group(2).strip("`")
            )
        rm = re.match(
            rf"RENAME\s+TO\s+({_IDENT})\s*$", body, re.IGNORECASE
        )
        if rm:
            new = rm.group(1).strip("`")
            if new in catalog:
                raise ValueError(f"table {new!r} already exists")
            old = m.group(1).strip("`")
            t.meta["table_name"] = new
            write_json(posixpath.join(t.path, "_table.json"), t.meta)
            catalog[new] = catalog.pop(old)
            # a temp view bound under the OLD name by a prior read
            # would keep serving the renamed table's stale snapshot
            spark.catalog.dropTempView(old)
            return None
        raise ValueError(f"unsupported ALTER TABLE clause: {body[:60]!r}")
    m = re.match(
        rf"TRUNCATE\s+TABLE\s+({_IDENT})\s*$", s, re.IGNORECASE
    )
    if m:
        # manifest-only truncate (Hudi TRUNCATE TABLE): one commit
        # retires every live file — no data deleted, so time travel to
        # any pre-truncate commit still reads the rows, and VACUUM
        # reclaims the bytes on its own retention schedule
        t = _lookup(catalog, m.group(1))
        commit = t._next_commit()
        t._publish(
            commit, "truncate",
            [], [e["path"] for e in t.current_files()], t._schema(),
        )
        return commit
    m = re.match(
        rf"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_IDENT})(\s+PURGE)?\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        name = m.group(2).strip("`")
        if name not in catalog:
            if m.group(1):
                return None
            raise ValueError(f"unknown table {name!r} in the catalog")
        t = catalog.pop(name)
        # without this, a temp view bound by a prior read keeps serving
        # the dropped table's full (stale) snapshot by name
        spark.catalog.dropTempView(name)
        if m.group(3):
            fs = fs_for(t.path)
            for f in sorted(fs.list(t.path), reverse=True):
                fs.delete(f)
        return None
    m = re.match(
        rf"SHOW\s+PARTITIONS\s+({_IDENT})\s*$", s, re.IGNORECASE
    )
    if m:
        # metadata-plane only (Hudi/Spark SHOW PARTITIONS): distinct
        # live partition tuples from the MANIFEST's per-file partition
        # values, rendered hive-style col=val[/col2=val2] in partition-
        # field order — no data file is listed or opened
        name = m.group(1).strip("`")
        t = _lookup(catalog, name)
        parts = t.meta.get("partition_fields") or []
        if not parts:
            raise ValueError(
                f"SHOW PARTITIONS: table {name!r} is not partitioned"
            )
        seen = set()
        for e in t.current_files():
            pd_ = e.get("partition") or {}
            seen.add(
                "/".join(
                    f"{c}={'__HIVE_DEFAULT_PARTITION__' if pd_.get(c) is None else pd_.get(c)}"
                    for c in parts
                )
            )
        return spark.createDataFrame(
            [(p,) for p in sorted(seen)], "partition string"
        )
    m = re.match(
        rf"SHOW\s+INDEXES\s+(?:ON\s+|FROM\s+)?({_IDENT})\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        # metadata-plane (Hudi 1.0 SHOW INDEXES): every index structure
        # the kernel would consult, from meta flags and the _index/
        # directory — no data file opened. One row per index:
        # (index_name, index_type, target) where target is the indexed
        # column (record/secondary/bloom) or expression text.
        name = m.group(1).strip("`")
        t = _lookup(catalog, name)
        rows: list[tuple[str, str, str]] = []
        if t.meta.get("index_type") == "bloom":
            rows.append(("bloom_index", "bloom", t.key))
        if t.meta.get("index_type") == "bucket":
            rows.append(
                (
                    "bucket_index",
                    "bucket",
                    f"{t.key} % {t.meta.get('bucket_count')}",
                )
            )
        for i in t._file_indexes():
            target = {
                "record": t.key, "expression": i.get("expr"),
                "secondary": i["name"],
            }[i["kind"]]
            rows.append((i["name"], i["kind"], target))
        return spark.createDataFrame(
            sorted(rows), "index_name string, index_type string, target string"
        )
    if re.match(r"SHOW\s+TABLES\s*$", s, re.IGNORECASE):
        return spark.createDataFrame(
            [
                (n, t.path, t.table_type, t.latest_commit() or "")
                for n, t in sorted(catalog.items())
            ],
            "tableName string, location string, type string, "
            "latest_commit string",
        )
    m = re.match(
        rf"SHOW\s+CREATE\s+TABLE\s+({_IDENT})\s*$", s, re.IGNORECASE
    )
    if m:
        name = m.group(1).strip("`")
        return _show_create(spark, name, _lookup(catalog, name))
    m = re.match(
        rf"(?:DESCRIBE|DESC)\s+(EXTENDED\s+)?(?:TABLE\s+)?({_IDENT})\s*$",
        s,
        re.IGNORECASE,
    )
    if m:
        name = m.group(2).strip("`")
        return _describe(
            spark, name, _lookup(catalog, name), bool(m.group(1))
        )
    raise ValueError(f"unsupported DDL statement: {s[:80]!r}")
