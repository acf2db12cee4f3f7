"""SQL-surface catalog: expose engine tables to ``spark.sql`` as views.

The reference's primary query interface is SQL over temp views
(SURVEY §1.1 temp-view catalog): every loaded table is registered by
name and all queries are strings. ``attach`` recreates that surface over
engine tables — each name binds to the table's current snapshot (or an
incremental window), after which arbitrary ``spark.sql`` runs against
them with full Catalyst planning.

Scale note: a plain snapshot view names EVERY live file in its scan —
Catalyst still pushes predicates into the parquet reads, but at 10⁵
files the listing itself dominates a selective query. Two ways to get
manifest pruning on this surface:

- pass ``where`` to bind a view through :meth:`Table.read_where`, which
  consults the manifest's file stats FIRST and only plans the
  surviving files (the read-side analog of the upsert key-prune
  envelope); or
- just call :func:`sql_over` — it scans the query string's own
  top-level WHERE conjuncts (``view.col <op> literal`` or
  unambiguous bare columns), attributes them to attached views, and
  binds those views pre-pruned, with NO API change for the reader.

Both are fail-closed: a predicate the extractor can't attribute with
certainty contributes no pruning and the full query semantics are
untouched (pruning only drops files whose stats PROVE the predicate
false for every row in them — under outer joins a pruned right side
just null-extends rows the WHERE conjunct then removes, same result).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .sqltext import IDENT, scan_top, split_top
from .table import Table, _filters_from_predicate, _norm_expr_text


def attach(
    spark: SparkSession,
    tables: dict[str, str | Table],
    query_type: str = "snapshot",
    where: dict[str, str] | None = None,
    as_of: dict[str, str] | None = None,
    **read_kw,
) -> dict[str, Table]:
    """Register each ``{view_name: table_path}`` as a temp view.

    ``where`` maps view names to Spark-SQL predicate strings: those
    views bind manifest-pruned reads (:meth:`Table.read_where`) instead
    of the full snapshot — same rows as filtering the snapshot, but a
    selective key/partition predicate scans only the files whose stats
    admit it. ``read_where`` is a SNAPSHOT read, so naming a view in
    ``where`` while asking for a different ``query_type`` is a
    conflict and raises rather than silently widening an incremental/
    CDC window to filtered-full-history.

    ``as_of`` maps view names to commit ids: those views bind the
    table state AT that commit (time travel). Composes with ``where``
    (pruned time-traveled read); snapshot-only like ``where``.

    ``tables`` values may be paths or already-opened :class:`Table`
    handles (no second manifest load on the hot read path).

    Returns the opened Table handles (for writes/services on the same
    objects)."""
    if where and query_type != "snapshot":
        raise ValueError(
            f"where= binds snapshot reads; conflicting "
            f"query_type={query_type!r} for view(s) {sorted(where)}"
        )
    if as_of and query_type != "snapshot":
        raise ValueError(
            f"as_of= binds snapshot reads; conflicting "
            f"query_type={query_type!r} for view(s) {sorted(as_of)}"
        )
    out: dict[str, Table] = {}
    for name, path in tables.items():
        t = path if isinstance(path, Table) else Table.load(spark, path)
        pred = (where or {}).get(name)
        ver = (as_of or {}).get(name)
        if pred is not None:
            df = t.read_where(pred, as_of=ver)
        elif ver is not None:
            df = t.snapshot(as_of=ver)
        else:
            df = t.read(query_type, **read_kw)
        df.createOrReplaceTempView(name)
        out[name] = t
    return out


_REL_RX = re.compile(
    rf"^\s*({IDENT})\s*(?:(?:AS\s+)?({IDENT})\s*)?$", re.IGNORECASE
)
# STRICT conjunct form: (qual.)col <op> literal — the only shape
# read_where can prune on, and the only shape that is guaranteed to
# resolve on the bare single-table view after de-qualification (a
# conjunct like ``a.k = b.k2 + 1`` must NOT be extracted: stripped of
# its qualifier it references another relation's column).
_LITERAL = r"'[^']*'|[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?|true|false"
_QCOL_RX = re.compile(
    rf"^\s*(?:({IDENT})\s*\.\s*)?({IDENT})\s*(==|=|<=|>=|<|>)\s*"
    rf"({_LITERAL})\s*$",
    re.IGNORECASE,
)


def _idents_in_parens(s: str) -> set[str]:
    """Lower-cased identifier tokens that occur at paren depth > 0,
    outside quoted strings/backticks. Subqueries are parenthesized, so
    any view NAME appearing here may be read independently of its
    top-level FROM binding — pruning that binding would change the
    subquery's input."""
    out: set[str] = set()
    i, n, depth = 0, len(s), 0
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            j = s.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
            i += 1
            continue
        if c == ")":
            depth -= 1
            i += 1
            continue
        m = re.match(r"[A-Za-z_][\w$]*", s[i:])
        if m:
            if depth > 0:
                out.add(m.group(0).lower())
            i += m.end()
            continue
        i += 1
    return out


_TT_RX = re.compile(
    rf"({IDENT})\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)",
    re.IGNORECASE,
)


def _time_travel(
    query: str, tables: dict[str, Table]
) -> tuple[str, dict[str, str]]:
    """Extract ``view VERSION|TIMESTAMP AS OF <literal>`` clauses
    (Delta/Spark-v2 time-travel syntax — Spark itself rejects it on
    temp views) for ATTACHED views, at any paren depth but never inside
    quoted strings/backticks. Returns the rewritten query (clauses
    replaced by the bare view name) and ``{view: commit_id}``.

    The commit binds the view NAME for the whole query — every
    reference to it (including column qualifiers) sees the same as-of
    state — so two clauses naming one view must agree or raise.
    ``VERSION AS OF`` takes a commit number (``1``) or the exact commit
    id string; ``TIMESTAMP AS OF`` takes a wall-clock string resolved
    via :meth:`Table.commit_at_timestamp` (newest commit at or before
    it; predating the first commit raises — Delta semantics). Clauses
    naming something that is NOT an attached view are left untouched
    (Spark raises its own error — fail closed, never a guess)."""
    out: dict[str, str] = {}
    pieces: list[str] = []
    i, last, n = 0, 0, len(query)
    while i < n:
        c = query[i]
        if c in ("'", '"'):
            j = query.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        # SQL comments must not time-travel: a stale "-- v VERSION AS
        # OF 1" comment would silently rebind the live view
        if query.startswith("--", i):
            j = query.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if query.startswith("/*", i):
            j = query.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        # only try at a token boundary: a view name must not match the
        # SUFFIX of a longer identifier ("myconv VERSION..." with view
        # "conv"), and "t1.v VERSION..." qualifies a column, not a view.
        # Backticks are tried BEFORE being skipped as quoting so
        # `view` VERSION AS OF works (the regex's IDENT covers them).
        at_boundary = not (
            i > 0
            and (query[i - 1] in "$." or query[i - 1].isalnum()
                 or query[i - 1] == "_")
        )
        m = _TT_RX.match(query, i) if at_boundary else None
        if not m:
            if c == "`":
                j = query.find("`", i + 1)
                i = n if j < 0 else j + 1
            else:
                i += 1
            continue
        name = m.group(1).strip("`")
        if name not in tables:
            i = m.end(1)  # not ours — leave for Spark to reject
            continue
        t, kind, lit = tables[name], m.group(2).upper(), m.group(3)
        if kind == "VERSION":
            commit = f"{int(lit):020d}" if not lit.startswith("'") else lit[1:-1]
        else:
            if not lit.startswith("'"):
                raise ValueError(
                    f"TIMESTAMP AS OF needs a quoted timestamp string: "
                    f"{m.group(0)!r}"
                )
            commit = t.commit_at_timestamp(lit[1:-1])
        if commit not in t.commits(include_archived=True):
            raise ValueError(
                f"view {name!r} has no commit {commit!r} to travel to"
            )
        if out.setdefault(name, commit) != commit:
            raise ValueError(
                f"conflicting time-travel versions for view {name!r}: "
                f"{out[name]!r} vs {commit!r}"
            )
        pieces.append(query[last : m.start()])
        pieces.append(m.group(1))
        last = i = m.end()
    pieces.append(query[last:])
    return "".join(pieces), out


_EXPRLIT_RX = re.compile(
    rf"^\s*(.+?)\s*(==|<=|>=|=|<|>)\s*({_LITERAL})\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _pred_hits_expression_index(pred: str, t: Table) -> bool:
    """True when any top-level conjunct's left side matches one of the
    table's registered expression indexes — the signal that a fragment
    with no column-stats filters is still worth routing through
    :meth:`Table.read_where`."""
    metas = t._file_indexes("expression")
    if not metas:
        return False
    exprs = {_norm_expr_text(m["expr"]) for m in metas}
    for conj in split_top(pred, r"\bAND\b"):
        m = _EXPRLIT_RX.match(conj)
        if m and _norm_expr_text(m.group(1)) in exprs:
            return True
    return False


_TC_RX = re.compile(
    rf"table_changes\s*\(\s*(?:'([^']*)'|({IDENT}))\s*,\s*'([^']*)'"
    rf"\s*(?:,\s*'([^']*)'\s*)?(?:,\s*'([^']*)'\s*)?\)",
    re.IGNORECASE,
)


def tc_referenced_names(stmt: str) -> set[str]:
    """View names referenced by ``table_changes(...)`` calls in the
    statement — found with the SAME quote/comment-aware walk as the
    rewriter, so a call spelled inside a string literal or a comment
    contributes nothing (it will not be rewritten either)."""
    out: set[str] = set()
    i, n = 0, len(stmt)
    while i < n:
        c = stmt[i]
        if c in ("'", '"', "`"):
            j = stmt.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        if stmt.startswith("--", i):
            j = stmt.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if stmt.startswith("/*", i):
            j = stmt.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        at_boundary = not (
            i > 0
            and (
                stmt[i - 1] in "$."
                or stmt[i - 1].isalnum()
                or stmt[i - 1] == "_"
            )
        )
        m = _TC_RX.match(stmt, i) if at_boundary else None
        if m:
            out.add(
                (m.group(1) if m.group(1) is not None else m.group(2)).strip("`")
            )
            i = m.end()
            continue
        i += 1
    return out


def _table_changes(
    spark: SparkSession, query: str, tables: dict[str, Table]
) -> str:
    """Rewrite ``table_changes(<view>, '<mode>', '<begin>'[, '<end>'])``
    calls — the SQL form of incremental/CDC reads, mirroring Hudi
    0.14's ``hudi_table_changes(table, mode, begin [, end])``
    table-valued function (the reference pins Hudi 0.14.0,
    ``AirflowHudiLabs/Lab2/jobs/python/incremental_etl_orders.py``
    consumes exactly this incremental window) — into bound temp views.

    The view may be a bare identifier or a quoted string (Hudi's
    form). ``mode`` is ``latest_state`` (incremental: the latest
    version of every key changed in the window) or ``cdc`` (per-key
    change rows with ``_change_type``). ``begin`` is a commit id, a
    bare commit NUMBER (``'3'`` → the zero-padded id, same codec as
    ``VERSION AS OF``), or ``'earliest'`` (from the start of the
    timeline); the window is begin-EXCLUSIVE / end-INCLUSIVE, exactly
    :meth:`Table.incremental`. Occurrences inside quoted strings or
    comments are untouched, and a first argument that is not an
    attached view is left for Spark to reject (fail closed — Spark has
    no ``table_changes`` TVF, so the error is loud, never a guess)."""

    def _commit(t: Table, lit: str) -> str | None:
        if lit.lower() == "earliest":
            return None
        c = f"{int(lit):020d}" if lit.isdigit() else lit
        if c not in t.commits(include_archived=True):
            raise ValueError(
                f"table_changes: no commit {c!r} in the table's timeline"
            )
        return c

    pieces: list[str] = []
    i, last, n, bound = 0, 0, len(query), 0
    while i < n:
        c = query[i]
        if c in ("'", '"', "`"):
            j = query.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        if query.startswith("--", i):
            j = query.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if query.startswith("/*", i):
            j = query.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        at_boundary = not (
            i > 0
            and (
                query[i - 1] in "$."
                or query[i - 1].isalnum()
                or query[i - 1] == "_"
            )
        )
        m = _TC_RX.match(query, i) if at_boundary else None
        if not m:
            i += 1
            continue
        name = (m.group(1) if m.group(1) is not None else m.group(2)).strip("`")
        if name not in tables:
            i = m.end()  # not ours — Spark raises its own TVF error
            continue
        t = tables[name]
        mode = m.group(3).lower()
        if mode not in ("latest_state", "cdc"):
            raise ValueError(
                f"table_changes mode must be 'latest_state' or 'cdc', "
                f"got {m.group(3)!r}"
            )
        if m.group(4) is None:
            raise ValueError(
                "table_changes needs a begin commit: "
                "table_changes(view, mode, begin [, end])"
            )
        begin = _commit(t, m.group(4))
        end = _commit(t, m.group(5)) if m.group(5) is not None else None
        df = t.incremental(begin, end) if mode == "latest_state" else t.changes(
            begin, end
        )
        view = f"__tc_{name}_{bound}"
        bound += 1
        df.createOrReplaceTempView(view)
        pieces.append(query[last : m.start()])
        pieces.append(view)
        last = i = m.end()
    pieces.append(query[last:])
    return "".join(pieces)


def _skip_parens(s: str, i: int) -> int | None:
    """``i`` at an opening ``(``: index just past its matching ``)``,
    honoring quoted strings/backticks; None if unbalanced."""
    depth, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            j = s.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return None


def _cte_names(query: str, start: int) -> set[str] | None:
    """Lower-cased names of the top-level CTEs declared by the WITH
    whose keyword ends at ``start``. None = any shape the strict
    ``name [(cols)] AS (body)[, ...]`` walk can't parse, including
    WITH RECURSIVE (a recursive CTE re-reads its own body; stay out)
    — callers treat None as fail-closed."""
    if re.match(r"\s*RECURSIVE\b", query[start:], re.IGNORECASE):
        return None
    out: set[str] = set()
    i = start
    while True:
        m = re.match(
            rf"\s*({IDENT})\s*(?:\([^)]*\)\s*)?AS\s*\(",
            query[i:],
            re.IGNORECASE,
        )
        if not m:
            return None
        out.add(m.group(1).strip("`").lower())
        j = _skip_parens(query, i + m.end() - 1)
        if j is None:
            return None
        i = j
        m2 = re.match(r"\s*,", query[i:])
        if not m2:
            return out
        i += m2.end()


def _from_relations(query: str) -> dict[str, str] | None:
    """{qualifier: view_name} for every relation in the query's single
    top-level FROM clause, or None (fail closed: no FROM / more than
    one / a subquery or anything else unparseable in it). Subqueries
    elsewhere are parenthesized, so ``scan_top`` never sees their
    keywords."""
    froms = scan_top(query, r"\bFROM\b")
    if len(froms) != 1:
        return None
    seg = query[froms[0][1] :]
    ends = scan_top(
        seg,
        r"\bWHERE\b|\bGROUP\s+BY\b|\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b"
        r"|\bWINDOW\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b",
    )
    if ends:
        seg = seg[: ends[0][0]]
    rels: dict[str, str] = {}
    for part in split_top(seg, r",|\bJOIN\b"):
        # strip join-type keywords that precede JOIN and the ON clause
        # that follows the relation
        part = re.sub(
            r"\b(INNER|LEFT|RIGHT|FULL|OUTER|CROSS|SEMI|ANTI|NATURAL)\b",
            " ",
            part,
            flags=re.IGNORECASE,
        )
        on = scan_top(part, r"\bON\b|\bUSING\b")
        if on:
            part = part[: on[0][0]]
        if not part.strip():
            continue
        m = _REL_RX.match(part)
        if not m:
            return None  # subquery / lateral / unparseable → no pruning
        name = m.group(1).strip("`")
        alias = (m.group(2) or name).strip("`")
        if alias.upper() in ("ON", "USING"):
            return None
        if alias in rels:
            return None  # duplicate qualifier → ambiguous
        rels[alias] = name
    return rels or None


def _auto_where(
    query: str, tables: dict[str, Table]
) -> dict[str, str]:
    """Extract per-view predicate strings from the query's own
    top-level WHERE conjuncts. Attribution rules (each fail-closed):

    - ``qual.col <op> literal`` → the view ``qual`` names (directly or
      via its FROM alias), if attached;
    - bare ``col <op> literal`` → only when EVERY relation in FROM is
      an attached engine view and exactly ONE of their schemas has
      ``col`` (otherwise the reference is ambiguous or could belong to
      a relation whose contents we can't see);
    - a top-level OR anywhere in the WHERE disables extraction
      entirely (the conjuncts are not all required);
    - anything unparseable contributes nothing.

    The returned fragments feed :meth:`Table.read_where` per view —
    which itself extracts only provable ``col op literal`` conjuncts —
    so double fail-closed."""
    withs = scan_top(query, r"\bWITH\b")
    if withs:
        # CTE queries prune only under a provably-safe shape: exactly
        # one top-level WITH whose declaration list parses strictly
        # (no RECURSIVE) and whose CTE names shadow NO attached view —
        # a shadowing CTE would make the main FROM read the CTE while
        # attribution pruned the view binding underneath it. Views
        # READ inside a CTE body are already protected: bodies are
        # parenthesized, so _idents_in_parens (below) drops any view
        # named in one from attribution. Everything else stays the
        # r8 fail-closed bail (a scalar subquery once read a pruned
        # binding — the global_max regression).
        if len(withs) > 1:
            return {}
        ctes = _cte_names(query, withs[0][1])
        if ctes is None or any(n.lower() in ctes for n in tables):
            return {}
    wh = scan_top(query, r"\bWHERE\b")
    if len(wh) != 1:
        return {}
    pred = query[wh[0][1] :]
    ends = scan_top(
        pred,
        r"\bGROUP\s+BY\b|\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|\bWINDOW\b"
        r"|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b",
    )
    if ends:
        pred = pred[: ends[0][0]]
    if scan_top(pred, r"\bOR\b"):
        return {}
    all_rels = _from_relations(query)
    if all_rels is None:
        return {}
    # a view joined to ITSELF under two aliases cannot take a per-view
    # pre-filter (each alias needs the unfiltered relation) — exclude
    # such views from attribution; ambiguity bookkeeping below still
    # runs over ALL relations, so their columns stay unattributable
    counts: dict[str, int] = {}
    for n in all_rels.values():
        counts[n] = counts.get(n, 0) + 1
    rels = {a: n for a, n in all_rels.items() if counts[n] == 1}
    if not rels:
        return {}
    all_attached = all(n in tables for n in all_rels.values())
    col_owner: dict[str, str | None] = {}
    if all_attached:
        for alias, name in all_rels.items():
            schema = tables[name]._schema()
            for f in schema.fields if schema is not None else []:
                # None marks a column seen in >1 relation → ambiguous
                col_owner[f.name] = (
                    alias if f.name not in col_owner else None
                )
    out: dict[str, list[str]] = {}
    # expression-index pass, SINGLE-relation queries only: a conjunct
    # whose left side normalizes to one of the view's REGISTERED
    # expression indexes attributes verbatim — with one relation every
    # column belongs to it, and a registered index expression is a
    # deterministic column function by the build contract, so
    # pre-applying the conjunct on the binding equals applying it after
    # the join-free FROM. Multi-relation queries stay out (a function's
    # argument columns can't be attributed textually), as does any
    # conjunct whose text doesn't exactly match a registered expression.
    if len(all_rels) == 1 and all_attached:
        only = next(iter(all_rels.values()))
        exprs = {
            _norm_expr_text(m["expr"])
            for m in tables[only]._file_indexes("expression")
        }
        if exprs:
            for conj in split_top(pred, r"\bAND\b"):
                if _QCOL_RX.match(conj):
                    continue  # the plain col-op-literal pass owns it
                m = _EXPRLIT_RX.match(conj)
                if m and _norm_expr_text(m.group(1)) in exprs:
                    out.setdefault(only, []).append(
                        f"{m.group(1).strip()} {m.group(2)} {m.group(3)}"
                    )
    for conj in split_top(pred, r"\bAND\b"):
        m = _QCOL_RX.match(conj)
        if not m:
            continue
        qual = m.group(1).strip("`") if m.group(1) else None
        col = m.group(2).strip("`")
        if qual is None:
            qual = col_owner.get(col)
        if qual is None or qual not in rels or rels[qual] not in tables:
            continue
        # rebuild the fragment FROM THE MATCH GROUPS (never a textual
        # qualifier strip — that would also rewrite a string literal
        # that happens to contain "<qual>.")
        frag = f"{col} {m.group(3)} {m.group(4)}"
        out.setdefault(rels[qual], []).append(frag)
    # a view whose NAME also appears inside any parenthesized region
    # (scalar/IN/EXISTS subquery) is read there independently of the
    # top-level FROM binding — pruning the binding would filter that
    # second read too. Drop such views from attribution.
    deep = _idents_in_parens(query)
    return {
        name: " AND ".join(frags)
        for name, frags in out.items()
        if name.lower() not in deep
    }


def sql_over(
    spark: SparkSession,
    tables: dict[str, str | Table],
    query: str,
    where: dict[str, str] | None = None,
) -> DataFrame:
    """One-shot: attach snapshots and run a SQL string over them — the
    reference's interface, plus manifest pruning for free: unless
    ``where`` overrides it, the query's own top-level WHERE conjuncts
    are attributed to the attached views (see :func:`_auto_where`) and
    those views bind pre-pruned, so a selective SQL-string reader
    plans only the files whose stats admit its predicate.

    ``view VERSION AS OF <n|'commit'>`` / ``view TIMESTAMP AS OF
    '<ts>'`` in the query time-travels that view's binding (see
    :func:`_time_travel`) — the Delta/Spark-v2 syntax Spark itself
    cannot plan over temp views. ``table_changes(view, mode, begin
    [, end])`` reads an incremental/CDC commit window as a table
    (see :func:`_table_changes`) — the SQL form of
    ``attach(query_type="incremental"|"cdc")``, mirroring Hudi's
    ``hudi_table_changes`` TVF."""
    opened = {
        n: (p if isinstance(p, Table) else Table.load(spark, p))
        for n, p in tables.items()
    }
    query, travel = _time_travel(query, opened)
    query = _table_changes(spark, query, opened)
    if where is None:
        auto = _auto_where(query, opened)
        where = {
            name: pred
            for name, pred in auto.items()
            # a time-traveled view keeps its full as-of read: the auto
            # extractor attributed columns against the CURRENT schema,
            # which an evolving table may not have had at the target
            # commit — fail closed rather than prune against the wrong
            # stats generation
            if name not in travel
            and (
                _filters_from_predicate(pred, opened[name]._schema())
                or _pred_hits_expression_index(pred, opened[name])
            )
        } or None
    attach(spark, opened, where=where, as_of=travel or None)
    return spark.sql(query)
