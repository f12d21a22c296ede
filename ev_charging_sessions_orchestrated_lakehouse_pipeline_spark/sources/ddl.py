"""SQL-*text* management surface for snapshot tables.

The reference manages its lakehouse tables entirely through
``spark.sql`` DDL text (``CREATE TABLE ... USING iceberg ...
TBLPROPERTIES``, ALTER/OPTIMIZE statements —
jobs/ev_sessions_gold_etl.py:127-150), and its analysts reach the
catalog by NAME, durably, through Glue (README.md:41).  The snapshot
format's management operations have been Python-API/CLI only:
:func:`execute_sql` closes that gap by routing the standard
lakehouse-DDL statement shapes to the existing, tested snapshot
functions, and :func:`register_all_tables` gives a fresh session
Glue-like one-call durable catalog bootstrap — every snapshot table
under a warehouse root becomes addressable from ``spark.sql`` by its
directory name.

Design notes (and why this is NOT a SQL parser):

* The grammar below is the fixed, documented statement vocabulary of
  the lakehouse-management surface (Delta/Iceberg's ALTER TABLE /
  OPTIMIZE / VACUUM / RESTORE / DESCRIBE shapes).  Each statement is
  matched by an anchored regex and dispatched to the single
  authoritative implementation in :mod:`snaptable` — there is exactly
  one code path per operation, so SQL text and the Python API can
  never diverge semantically.
* Anything that is NOT a management statement falls through to
  ``spark.sql`` untouched, so one entry point serves both queries
  (over views from :func:`register_all_tables` /
  ``register_snapshot_view``) and management.
* Every statement returns a DataFrame (possibly a one-row status
  frame), matching ``spark.sql``'s contract so callers can treat the
  endpoint uniformly.

Scale: every routed operation is metadata-bounded on the driver
(manifest reads + one commit); the heavy ones (OPTIMIZE's rewrite,
ANALYZE's scan) run as normal distributed Spark jobs inside the
routed function.  Nothing here touches data on the driver.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_df
from . import snaptable as st

__all__ = ["execute_sql", "register_all_tables", "resolve_table"]

#: table identifier inside a statement: `backquoted path`, 'quoted
#: path', "quoted path", or a bare [dotted] identifier resolved
#: against the warehouse root
_IDENT = r"(`[^`]+`|'[^']+'|\"[^\"]+\"|[A-Za-z_][\w.]*)"


def resolve_table(ident: str, warehouse: str | None = None) -> str:
    """Resolve a statement's table identifier to a snapshot-table
    path.  Quoted/backquoted identifiers and anything containing a
    path separator are taken as paths verbatim (the ``delta.`/path/``
    idiom without the scheme prefix); a bare name needs ``warehouse``
    and resolves to ``<warehouse>/<name>`` — the Glue-database model
    where a database IS a storage prefix."""
    t = ident.strip()
    if t[:1] in "`'\"" and t[-1:] == t[:1]:
        return t[1:-1]
    if os.sep in t:
        return t
    if warehouse is None:
        raise ValueError(
            f"bare table name {t!r} needs a warehouse root to resolve "
            "against (pass warehouse=, or quote a full path)"
        )
    return os.path.join(warehouse, t)


def _row_df(spark: SparkSession, d: dict) -> DataFrame:
    """One-row status DataFrame with stable lexicographic column
    order and JSON-encoded nested values (statement results must be
    schema-stable across runs)."""
    cols = sorted(d)
    vals = tuple(
        json.dumps(d[c], default=str) if isinstance(d[c], (dict, list)) else d[c]
        for c in cols
    )
    return local_df(spark, [vals], cols)


def _parse_tblproperties(body: str) -> dict[str, str]:
    """``'k'='v', k2=v2`` — quoted or bare keys/values."""
    props: dict[str, str] = {}
    for part in _split_top_level(body):
        if "=" not in part:
            raise ValueError(f"TBLPROPERTIES expects k=v pairs, got {part!r}")
        k, v = part.split("=", 1)
        props[_unquote(k)] = _unquote(v)
    return props


def _split_top_level(body: str) -> list[str]:
    """Split on commas not inside quotes or parentheses (property
    values may carry commas; UPDATE SET expressions carry function
    calls)."""
    out, cur, q, depth = [], [], None, 0
    for ch in body:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def _split_columns(body: str) -> list[str]:
    """Column-list split: like :func:`_split_top_level` but ALSO
    angle-bracket aware — ``a map<string, int> NOT NULL`` is one
    entry (complex Spark types carry top-level-looking commas inside
    ``<>``, which TBLPROPERTIES values never do). Angle brackets
    count as brackets ONLY outside parentheses: inside a
    parenthesized expression (``GENERATED ALWAYS AS (CASE WHEN a > 5
    ...)``) ``<``/``>`` are comparison operators, and counting them
    would corrupt the depth and merge the following entries."""
    out, cur, q, paren, angle = [], [], None, 0, 0
    for ch in body:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            paren += 1
            cur.append(ch)
        elif ch == ")":
            paren -= 1
            cur.append(ch)
        elif ch == "<" and paren == 0:
            angle += 1
            cur.append(ch)
        elif ch == ">" and paren == 0:
            angle -= 1
            cur.append(ch)
        elif ch == "," and paren == 0 and angle == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def _unquote(s: str) -> str:
    s = s.strip()
    if s[:1] in "'\"`" and s[-1:] == s[:1]:
        return s[1:-1]
    return s


def _scan_keyword(text: str, keyword: str) -> list[int]:
    """Start offsets of standalone (word-bounded) ``keyword``
    occurrences OUTSIDE string literals and parentheses — the one
    honest way to split SQL text on a keyword: a regex split would
    tear apart a literal like ``'... WHERE ...'`` or a parenthesized
    subquery. Case-insensitive; SQL ``''`` escaping pairs up
    naturally (close+reopen)."""
    kw = keyword.upper()
    up = text.upper()
    out: list[int] = []
    q: str | None = None
    depth = 0
    i, n, kl = 0, len(text), len(kw)
    while i < n:
        ch = text[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and up.startswith(kw, i)
            and (i == 0 or not (up[i - 1].isalnum() or up[i - 1] == "_"))
            and (
                i + kl >= n
                or not (up[i + kl].isalnum() or up[i + kl] == "_")
            )
        ):
            out.append(i)
            i += kl
            continue
        i += 1
    return out


def _split_keyword_once(text: str, keyword: str) -> tuple[str, str | None]:
    """Split ``text`` at the FIRST top-level ``keyword`` (outside
    literals/parens): ``(before, after)``, ``after=None`` if absent."""
    pos = _scan_keyword(text, keyword)
    if not pos:
        return text, None
    i = pos[0]
    return text[:i].rstrip(), text[i + len(keyword):].lstrip()


def _strip_line_comments(body: str) -> str:
    """Drop ``-- ...`` line comments outside string literals (the
    reference's gold DDL carries them inside its column list —
    jobs/ev_sessions_gold_etl.py:143)."""
    out: list[str] = []
    q: str | None = None
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if q:
            if ch == q:
                q = None
            out.append(ch)
        elif ch in "'\"":
            q = ch
            out.append(ch)
        elif ch == "-" and body.startswith("--", i):
            while i < n and body[i] != "\n":
                i += 1
            continue
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _cols_list(body: str) -> list[str]:
    return [_unquote(c) for c in body.split(",") if c.strip()]


def _parse_literal(tok: str):
    t = tok.strip()
    if t[:1] in "'\"":
        return _unquote(t)
    low = t.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        raise ValueError(f"unsupported literal {tok!r} in WHERE clause")


#: one conjunct of the supported WHERE grammar
_CONJ = re.compile(
    r"\s*(\w+)\s*(?:"
    r"(IS\s+NOT\s+NULL)|(IS\s+NULL)"
    r"|(IN)\s*\(((?:[^()'\"]|'[^']*'|\"[^\"]*\")*)\)"
    r"|(>=|<=|!=|<>|=|>|<)\s*('[^']*'|\"[^\"]*\"|[\w.+-]+)"
    r")\s*",
    re.IGNORECASE,
)


def _strip_outer_parens(s: str) -> str:
    """Strip balanced whole-string paren wrapping: ``(a AND b)`` ->
    ``a AND b``; ``(a) OR (b)`` is left alone (the parens don't span
    the string). Quote-aware."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        q: str | None = None
        wrapped = True
        for i, ch in enumerate(s):
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    wrapped = False
                    break
        if not wrapped:
            break
        s = s[1:-1].strip()
    return s


def parse_where(clause: str) -> list:
    """Parse a WHERE clause into the filter form the snapshot DML
    takes: a conjunctive clause yields ``[(col, op, val), ...]``; a
    top-level ``OR`` of conjunct groups yields DNF branches
    ``[[...], [...]]`` — the :func:`snaptable.scan_any` shape, so
    disjunctive DELETE/UPDATE still prune files PER BRANCH instead of
    degrading to a full scan. The grammar is deliberately restricted
    to ``col OP literal`` / ``IS [NOT] NULL`` / ``IN (...)`` combined
    by AND (within a branch) and top-level OR (between branches)
    because these drive FILE-LEVEL DATA SKIPPING
    (snaptable._prune_files): an opaque predicate would force reading
    every file, which at 100 TB defeats the point of stats. Anything
    else raises with a pointer to the Python API (which accepts
    arbitrary Column predicates via DataFrame rewrite)."""
    text = clause.strip()
    ors = _scan_keyword(text, "OR")
    if not ors:
        return _parse_conjunct(_strip_outer_parens(text))
    parts: list[str] = []
    prev = 0
    for i in ors:
        parts.append(text[prev:i])
        prev = i + 2
    parts.append(text[prev:])
    return [_parse_conjunct(_strip_outer_parens(p)) for p in parts]


def _parse_conjunct(clause: str) -> list[tuple]:
    out: list[tuple] = []
    rest = clause.strip()
    while rest:
        m = _CONJ.match(rest)
        if not m:
            raise ValueError(
                f"unsupported WHERE fragment {rest!r}: SQL DML supports "
                "conjunctions of col OP literal / IS [NOT] NULL / "
                "IN (...) (these drive file-level data skipping); use "
                "the Python API for arbitrary predicates"
            )
        col = m.group(1)
        if m.group(2):
            out.append((col, "notnull", None))
        elif m.group(3):
            out.append((col, "isnull", None))
        elif m.group(4):
            # quote-aware split: a quoted IN literal may carry commas
            vals = _split_top_level(m.group(5))
            if not vals:
                raise ValueError(
                    f"empty IN list for column {col!r}: matches nothing "
                    "by definition — almost certainly a statement bug"
                )
            out.append((col, "in", [_parse_literal(v) for v in vals]))
        else:
            op = "!=" if m.group(6) == "<>" else m.group(6)
            out.append((col, op, _parse_literal(m.group(7))))
        rest = rest[m.end():]
        if rest:
            am = re.match(r"AND\s+", rest, re.IGNORECASE)
            if not am:
                raise ValueError(
                    f"unsupported WHERE connective at {rest!r}: within a "
                    "conjunct group only AND is supported; OR must appear "
                    "at the TOP level between [parenthesized] conjunct "
                    "groups — '(a AND b) OR (c)' — so each disjunct can "
                    "still prune files (DNF skipping)"
                )
            rest = rest[am.end():]
    return out


def _lower_merge_clauses(
    spark: SparkSession,
    table: str,
    src: DataFrame,
    keys: list[str],
    src_alias: str,
    tgt_alias: str,
    mclauses: list[tuple],
    nclauses: list[tuple],
) -> tuple[DataFrame, str | None]:
    """Lower conditional / column-level MERGE clauses to a whole-row
    source rewrite (Delta grammar: ``WHEN MATCHED [AND c] THEN UPDATE
    SET col = expr, ...`` / ``WHEN NOT MATCHED [AND c] THEN INSERT
    (cols) VALUES (exprs)``): join the source to the target on the
    merge keys, evaluate the first-match-wins clause cascade per row
    with both statement aliases in scope, and emit one full
    target-schema row per source row plus a delete marker —
    exactly what :func:`snaptable.merge_into` consumes, so SQL text
    and the Python merge core share one committed semantics.

    Per-row outcomes: a matched pair takes its first satisfied
    MATCHED clause (column-level assignments see BOTH aliases;
    unassigned columns keep the target value; DELETE marks the row);
    a matched pair satisfying NO clause re-emits the target row
    unchanged (whole-row update to itself). An unmatched source row
    takes its first satisfied NOT MATCHED clause (INSERT column list
    fills unlisted columns with NULL; ``INSERT *`` copies same-named
    source columns); satisfying none, it is dropped (marker). Every
    expression value casts to the declared target column type.

    Scale: the lowering join scans the target once and the merge core
    scans it again — the same two-phase profile as Delta's MERGE
    (find-touched + rewrite). The rewritten source stays
    source-sized: one output row per source row, never target-sized.
    """
    from pyspark.sql import functions as F

    _, man = st._manifest_at(table)
    ident = (man.get("identity") or {}).get("col")
    tgt = st.read_snapshot(spark, table)
    tgt_fields = [f for f in tgt.schema.fields if f.name != ident]
    tgt_names = [f.name for f in tgt_fields]
    for _, _, atype, payload in mclauses:
        if atype == "update_cols":
            bad = set(payload) - set(tgt_names)
            if bad:
                raise ValueError(
                    f"MERGE assigns unknown target column(s) "
                    f"{sorted(bad)}; target columns: {tgt_names}"
                )
            if ident and ident in payload:
                raise ValueError(
                    f"column {ident!r} is GENERATED ALWAYS AS "
                    "IDENTITY; MERGE must not assign it"
                )
            bad_keys = set(payload) & set(keys)
            if bad_keys:
                # the merge core is KEY-based: rewriting a source row
                # under a new key would leave the original target row
                # untouched (its old key no longer appears in the
                # source), silently duplicating instead of updating —
                # refuse loudly (Databricks flags merge-key updates
                # for the same reason)
                raise ValueError(
                    f"MERGE UPDATE must not assign merge key(s) "
                    f"{sorted(bad_keys)}; rewrite the row via DELETE "
                    "+ INSERT instead"
                )
    for _, _, atype, payload in nclauses:
        if atype == "insert_cols":
            bad = set(payload) - set(tgt_names)
            if bad:
                raise ValueError(
                    f"MERGE inserts unknown target column(s) "
                    f"{sorted(bad)}; target columns: {tgt_names}"
                )
    if tgt_alias == src_alias:
        raise ValueError(
            f"MERGE target and source share the alias {src_alias!r}; "
            "qualify them differently in the ON clause"
        )
    MCOL = "__merge_tgt_marker"
    DELCOL = "__merge_sql_delete"
    joined = src.alias(src_alias).join(
        tgt.withColumn(MCOL, F.lit(True)).alias(tgt_alias),
        on=[
            F.col(f"{src_alias}.{k}") == F.col(f"{tgt_alias}.{k}")
            for k in keys
        ],
        how="left",
    )
    matched = F.col(f"{tgt_alias}.{MCOL}").isNotNull()

    def _cascade_idx(cls: list[tuple]):
        """First-match-wins clause index (null = no clause applies);
        a null condition value means the clause does not apply —
        F.when's three-valued logic gives that for free."""
        expr = None
        for i, (_, cond, _, _) in enumerate(cls):
            c = F.expr(cond) if cond else F.lit(True)
            expr = F.when(c, F.lit(i)) if expr is None else expr.when(c, F.lit(i))
        return expr if expr is not None else F.lit(None).cast("int")

    midx = _cascade_idx(mclauses)
    nidx = _cascade_idx(nclauses)
    src_cols = set(src.columns)

    def _matched_val(c: str):
        keep = F.col(f"{tgt_alias}.{c}")
        expr = None
        for i, (_, _, atype, payload) in enumerate(mclauses):
            if atype == "update_star":
                v = F.col(f"{src_alias}.{c}") if c in src_cols else keep
            elif atype == "update_cols":
                v = F.expr(payload[c]) if c in payload else keep
            else:  # delete: value irrelevant, row dropped via marker
                v = keep
            w = F.when(midx == i, v)
            expr = w if expr is None else expr.when(midx == i, v)
        return expr.otherwise(keep) if expr is not None else keep

    def _unmatched_val(c: str, dtype):
        null = F.lit(None).cast(dtype)
        expr = None
        for i, (_, _, atype, payload) in enumerate(nclauses):
            if atype == "insert_star":
                v = F.col(f"{src_alias}.{c}") if c in src_cols else null
            else:  # insert_cols
                v = F.expr(payload[c]) if c in payload else null
            w = F.when(nidx == i, v)
            expr = w if expr is None else expr.when(nidx == i, v)
        return expr.otherwise(null) if expr is not None else null

    out = [
        F.when(matched, _matched_val(f.name))
        .otherwise(_unmatched_val(f.name, f.dataType))
        .cast(f.dataType)
        .alias(f.name)
        for f in tgt_fields
    ]
    del_idx = [i for i, (_, _, a, _) in enumerate(mclauses) if a == "delete"]
    m_del = midx.isin(del_idx) if del_idx else F.lit(False)
    n_del = nidx.isNull()  # no insert clause applied: drop the row
    marker = F.coalesce(
        F.when(matched, m_del).otherwise(n_del), F.lit(False)
    )
    return joined.select(*out, marker.alias(DELCOL)), DELCOL


# ---------------------------------------------------------------------------
# statement grammar — anchored, case-insensitive, whitespace-tolerant
# ---------------------------------------------------------------------------

_F = re.IGNORECASE | re.DOTALL


def _m(pattern: str, sql: str):
    return re.fullmatch(pattern, sql.strip().rstrip(";").strip(), _F)


def execute_sql(
    spark: SparkSession, statement: str, warehouse: str | None = None
) -> DataFrame:
    """Run one SQL statement against the lakehouse: management DDL
    (the Delta/Iceberg ALTER TABLE / OPTIMIZE / VACUUM / RESTORE /
    ANALYZE / DESCRIBE vocabulary, routed to :mod:`snaptable`) or —
    fallthrough — any ordinary Spark SQL over the session catalog.
    Always returns a DataFrame.  The statement shapes mirror the
    reference's SQL-first table management
    (jobs/ev_sessions_gold_etl.py:127-150):

    * ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [USING snapshot]
      [PARTITIONED BY (c1, ...)] [CLUSTER BY (c1, ...)]
      [TBLPROPERTIES (...)] AS SELECT ...`` — CTAS + liquid
      declaration; OR REPLACE re-declares atomically with history
      preserved (:func:`snaptable.replace_table`)
    * ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t (col TYPE
      [NOT NULL] [GENERATED ALWAYS AS (expr)] [, ...]) [USING x]
      [PARTITIONED BY (...)] [CLUSTER BY (...)] [TBLPROPERTIES
      (...)]`` — the reference's EXACT gold-table DDL shape
      (jobs/ev_sessions_gold_etl.py:127-150): an empty typed table
      (-- line comments inside the column list are stripped, like
      the reference's), later fed by INSERT / COPY INTO / streaming.
      NOT NULL marks land as ENFORCED CHECK constraints; GENERATED
      ALWAYS AS lifts into the manifest's generated-column map
    * ``INSERT INTO t SELECT ... | VALUES ...`` /
      ``INSERT OVERWRITE [TABLE] t SELECT ... | VALUES ...`` (static
      full-table overwrite, one atomic commit, history preserved)
    * ``COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
      [PATTERN = '<glob>'] [FORMAT_OPTIONS (...)] [COPY_OPTIONS
      ('force'='true')]`` — idempotent file ingest (loaded files skip
      on re-run)
    * ``DELETE FROM t [WHERE <predicate>]`` / ``UPDATE t SET c =
      expr [, ...] [WHERE <predicate>]`` — WHERE grammar is the
      skipping-friendly subset (see :func:`parse_where`): AND-combined
      ``col OP literal`` conjunct groups, optionally OR-combined at
      the top level (``(a AND b) OR (c)`` lowers to DNF branches, so
      each disjunct still prunes files)
    * ``MERGE INTO t USING src|(<subquery>) [AS] s ON t.k = s.k [AND
      ...]`` followed by any ordered mix of ``WHEN MATCHED [AND c]
      THEN UPDATE SET * | UPDATE SET col = expr, ... | DELETE``,
      ``WHEN NOT MATCHED [AND c] THEN INSERT * | INSERT (cols)
      VALUES (exprs)``, ``WHEN NOT MATCHED BY SOURCE [AND c] THEN
      DELETE | UPDATE SET col = expr, ...`` — the full Delta clause
      grammar, first-match-wins.
      Unconditional whole-row statements take the single-scan fast
      path; conditional / column-level clauses lower to a source
      rewrite over the joined aliases (see
      :func:`_lower_merge_clauses`), where conditions and assignment
      expressions may reference BOTH aliases
    * ``ALTER TABLE t ADD CONSTRAINT name CHECK (expr)``
    * ``ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name``
    * ``ALTER TABLE t DROP FEATURE feature-name`` (protocol downgrade)
    * ``ALTER TABLE t CLUSTER BY (c1, ...) | NONE`` (liquid clustering)
    * ``ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)``
    * ``ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)``
    * ``ALTER TABLE t RENAME COLUMN old TO new``
    * ``ALTER TABLE t DROP COLUMN c``
    * ``ALTER TABLE t ALTER COLUMN c TYPE newtype`` (type widening)
    * ``OPTIMIZE t [WHERE <partition equalities>] [ZORDER BY (c1,
      c2)]`` — WHERE scopes the compaction to matching partition
      directories (Delta's grammar: partition predicates only)
    * ``VACUUM t [RETAIN n HOURS] [DRY RUN]``
    * ``APPLY CHANGES INTO t FROM src|(<subquery>) KEYS (k, ...)
      SEQUENCE BY seq [APPLY AS DELETE WHEN cond] [STORED AS SCD
      TYPE 1|2]`` — DLT's CDC apply, batch form: type 1 compacts per
      key by the sequence column and MERGEs (latest wins, deletes
      drop their match); type 2 splices into the stored SCD2 history
      via the same core the streaming surface rides
    * ``ALTER TABLE t CREATE TAG|BRANCH name [AS OF VERSION n]`` /
      ``ALTER TABLE t DROP TAG|BRANCH name`` /
      ``ALTER TABLE t FAST FORWARD branch`` / ``SHOW REFS t`` — the
      WAP surface (Iceberg tag/branch DDL shapes)
    * ``RESTORE TABLE t TO VERSION AS OF n`` /
      ``RESTORE TABLE t TO TAG name``
    * ``RESTORE TABLE t TO TIMESTAMP AS OF <unix-seconds or 'ts'>``
    * ``ANALYZE TABLE t COMPUTE STATISTICS FOR {ALL COLUMNS|COLUMNS c1, ...}``
    * ``DESCRIBE HISTORY t``
    * ``DESCRIBE DETAIL t``
    * ``SHOW TABLES [IN '<root>']`` / ``SHOW TBLPROPERTIES t`` /
      ``SHOW PARTITIONS t`` (manifest-only layout report)
    * ``DESCRIBE [TABLE] t`` (columns, types, partition flags)
    * ``TRUNCATE TABLE t`` (metadata-only: zero files referenced, no
      data file touched, history preserved)
    * ``DROP TABLE [IF EXISTS] t`` (refuses non-snapshot directories)

    ``t`` is a backquoted/quoted path or a bare name resolved against
    ``warehouse`` (see :func:`resolve_table`)."""

    def tbl(ident: str) -> str:
        return resolve_table(ident, warehouse)

    # management statements match against comment-stripped text (the
    # reference's gold DDL carries -- comments inside its column
    # list); the fallthrough at the bottom hands Spark the ORIGINAL
    # statement — its parser handles comments itself
    s = _strip_line_comments(statement)

    m = _m(
        rf"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?{_IDENT}"
        rf"(?:\s+USING\s+snapshot)?"
        # one paren nesting level so hidden-partitioning transforms
        # (days(ts), bucket(4, id)) parse
        rf"(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))+)\))?"
        rf"(?:\s+CLUSTER\s+BY\s*\(([^)]+)\))?"
        rf"(?:\s+TBLPROPERTIES\s*\(([^)]+)\))?"
        rf"\s+AS\s+(SELECT\s+.+)",
        s,
    )
    if m:
        or_replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
        if or_replace and if_not_exists:
            raise ValueError(
                "CREATE OR REPLACE TABLE cannot carry IF NOT EXISTS "
                "(Spark rejects the combination too)"
            )
        t = tbl(m.group(3))
        exists = st.current_version(t) is not None
        if exists and not or_replace:
            if if_not_exists:
                return _row_df(
                    spark,
                    {
                        "operation": "create_table",
                        "version": st.current_version(t),
                        "skipped": "exists",
                    },
                )
            raise ValueError(f"{t} already exists (use IF NOT EXISTS)")
        # paren-aware split: bucket(4, id) holds a top-level-looking
        # comma inside its own parens
        pcols = (
            [p.replace(" ", "") if "(" in p else p
             for p in _split_top_level(m.group(4))]
            if m.group(4)
            else []
        )
        df = spark.sql(m.group(7))
        if exists:  # OR REPLACE: atomic re-declare, history preserved
            v = st.replace_table(df, t, pcols)
        else:
            v = st.create_table(df, t, pcols)
        if m.group(5):  # CLUSTER BY at creation (liquid tables)
            v = st.set_clustering(t, _cols_list(m.group(5)))
        if m.group(6):
            v = st.set_table_properties(t, _parse_tblproperties(m.group(6)))
        return _row_df(
            spark,
            {
                "operation": "replace_table" if exists else "create_table",
                "version": v,
            },
        )

    # plain column-list DDL — the reference's ACTUAL gold-table shape
    # (jobs/ev_sessions_gold_etl.py:127-150: CREATE TABLE IF NOT
    # EXISTS ... (typed cols) USING iceberg PARTITIONED BY
    # (event_date) TBLPROPERTIES (...), no AS SELECT): an EMPTY typed
    # table, later fed by INSERT / COPY INTO / streaming (e.g.
    # cdc_scd2_stream's create-the-target-first contract,
    # streaming/ingest.py). The column list is handed to Spark's own
    # DDL schema parser, so every Spark type (incl. decimal/array/
    # map/struct and NOT NULL marks) parses exactly as CREATE TABLE
    # would parse it.
    m = _m(
        rf"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        rf"{_IDENT}\s*"
        rf"\(((?:[^()']|\([^()]*\)|'[^']*')+)\)"
        rf"(?:\s+USING\s+\w+)?"
        rf"(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))+)\))?"
        rf"(?:\s+CLUSTER\s+BY\s*\(([^)]+)\))?"
        rf"(?:\s+TBLPROPERTIES\s*\(([^)]+)\))?",
        s,
    )
    if m:
        or_replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
        if or_replace and if_not_exists:
            raise ValueError(
                "CREATE OR REPLACE TABLE cannot carry IF NOT EXISTS "
                "(Spark rejects the combination too)"
            )
        t = tbl(m.group(3))
        exists = st.current_version(t) is not None
        if exists and not or_replace:
            if if_not_exists:
                return _row_df(
                    spark,
                    {
                        "operation": "create_table",
                        "version": st.current_version(t),
                        "skipped": "exists",
                    },
                )
            raise ValueError(f"{t} already exists (use IF NOT EXISTS)")
        # per-column decorations the schema parser doesn't own:
        # GENERATED ALWAYS AS (expr) lifts into the manifest's
        # generated map; NOT NULL additionally lands as an ENFORCED
        # CHECK constraint (Spark's parser only records the mark —
        # the constraint machinery is what actually refuses nulls on
        # every future commit, Delta's NOT NULL invariant)
        entries, generated, constraints = [], {}, {}
        for entry in _split_columns(m.group(4)):
            entry = re.sub(r"\s+", " ", entry).strip()
            g = re.fullmatch(
                r"(.+?)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)", entry, _F
            )
            if g:
                entry, expr = g.group(1).strip(), g.group(2).strip()
                generated[entry.split()[0].strip("`")] = expr
            if re.search(r"\bNOT\s+NULL\b", entry, _F):
                col = entry.split()[0].strip("`")
                constraints[f"{col}_not_null"] = f"{col} IS NOT NULL"
            entries.append(entry)
        schema_ddl = ", ".join(entries)
        empty = local_df(spark, [], schema_ddl)
        pcols = (
            [p.replace(" ", "") if "(" in p else p
             for p in _split_top_level(m.group(5))]
            if m.group(5)
            else []
        )
        if exists:  # OR REPLACE: empty re-declare, history preserved
            if constraints or generated:
                raise ValueError(
                    "CREATE OR REPLACE with NOT NULL / GENERATED "
                    "columns is not supported yet — declare them via "
                    "ALTER TABLE ADD CONSTRAINT after the replace"
                )
            v = st.replace_table(empty, t, pcols)
        else:
            v = st.create_table(
                empty, t, pcols, constraints=constraints, generated=generated
            )
        if m.group(6):
            v = st.set_clustering(t, _cols_list(m.group(6)))
        if m.group(7):
            v = st.set_table_properties(t, _parse_tblproperties(m.group(7)))
        return _row_df(
            spark,
            {
                "operation": "replace_table" if exists else "create_table",
                "version": v,
            },
        )

    m = _m(
        rf"COPY\s+INTO\s+{_IDENT}\s+FROM\s+('[^']+'|\"[^\"]+\")"
        rf"\s+FILEFORMAT\s*=\s*(\w+)"
        rf"(?:\s+PATTERN\s*=\s*('[^']+'|\"[^\"]+\"))?"
        rf"(?:\s+FORMAT_OPTIONS\s*\(([^)]*)\))?"
        rf"(?:\s+COPY_OPTIONS\s*\(([^)]*)\))?",
        s,
    )
    if m:
        copts = _parse_tblproperties(m.group(6)) if m.group(6) else {}
        rep = st.copy_into(
            spark,
            tbl(m.group(1)),
            _unquote(m.group(2)),
            file_format=m.group(3).lower(),
            pattern=_unquote(m.group(4)) if m.group(4) else None,
            options=_parse_tblproperties(m.group(5)) if m.group(5) else None,
            force=str(copts.get("force", "")).lower() == "true",
        )
        if rep["version"] is None:  # nothing new: report the head
            rep["version"] = st.current_version(tbl(m.group(1)))
        return _row_df(spark, {"operation": "copy_into", **rep})

    m = _m(
        rf"INSERT\s+(INTO|OVERWRITE)(?:\s+TABLE)?\s+{_IDENT}\s+"
        rf"(SELECT\s+.+|VALUES\s*.+)",
        s,
    )
    if m:
        overwrite = m.group(1).upper() == "OVERWRITE"
        t = tbl(m.group(2))
        body = m.group(3)
        if re.match(r"VALUES", body, re.IGNORECASE):
            df = spark.sql(f"SELECT * FROM ({body})")
        else:
            df = spark.sql(body)
        target = st.read_snapshot(spark, t).schema
        if len(df.columns) != len(target.fields):
            raise ValueError(
                f"INSERT arity mismatch: {t} has {len(target.fields)} "
                f"columns, statement supplies {len(df.columns)}"
            )
        # positional bind + implicit cast to the target types — the
        # standard SQL INSERT coercion (a VALUES literal 0 is int,
        # the table column may be bigint)
        aligned = df.toDF(*[f.name for f in target.fields]).select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields]
        )
        if overwrite:
            # Spark's static INSERT OVERWRITE: full-table replace in
            # one atomic commit, history preserved (the dynamic
            # partition-overwrite path is overwrite_partitions /
            # REPLACE WHERE — both reachable through the Python API)
            v = st.overwrite_table(aligned, t)
            return _row_df(
                spark, {"operation": "insert_overwrite", "version": v}
            )
        v = st.append(aligned, t)
        return _row_df(spark, {"operation": "insert", "version": v})

    m = _m(rf"DELETE\s+FROM\s+{_IDENT}(?:\s+WHERE\s+(.+))?", s)
    if m:
        filters = parse_where(m.group(2)) if m.group(2) else []
        v = st.delete_where(spark, tbl(m.group(1)), filters)
        return _row_df(spark, {"operation": "delete", "version": v})

    m = _m(rf"UPDATE\s+{_IDENT}\s+SET\s+(.+)", s)
    if m:
        # the SET/WHERE boundary is found by the literal-aware
        # scanner, not regex: a SET expression may legitimately carry
        # the text ' WHERE ' inside a string literal
        set_body, where_body = _split_keyword_once(m.group(2), "WHERE")
        set_exprs = {}
        for part in _split_top_level(set_body):
            if "=" not in part:
                raise ValueError(f"UPDATE SET expects col = expr, got {part!r}")
            c, e = part.split("=", 1)
            set_exprs[c.strip()] = e.strip()
        filters = parse_where(where_body) if where_body else []
        v = st.update_where(spark, tbl(m.group(1)), filters, set_exprs)
        return _row_df(spark, {"operation": "update", "version": v})

    m = _m(
        rf"MERGE\s+INTO\s+{_IDENT}\s+USING\s+"
        rf"(\((?:[^()]|\([^()]*\))*\)|[A-Za-z_]\w*)"
        rf"(?:\s+AS)?\s+(\w+)\s+ON\s+(.+?)\s+(WHEN\s+.+)",
        s,
    )
    if m:
        t = tbl(m.group(1))
        src_sql, alias, on, clauses = (
            m.group(2),
            m.group(3),
            m.group(4),
            m.group(5),
        )
        src = (
            spark.sql(src_sql[1:-1])
            if src_sql.startswith("(")
            else spark.table(src_sql)
        )
        # ON: conjunction of same-named equi-joins (t.k = s.k) — the
        # form merge keys take; anything else can't drive the pruned
        # partition-rewrite path and raises
        keys = []
        target_alias = None
        for conj in re.split(r"\s+AND\s+", on, flags=_F):
            em = re.fullmatch(
                r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", conj
            )
            if not em or em.group(2) != em.group(4):
                raise ValueError(
                    f"unsupported MERGE ON fragment {conj!r}: use "
                    "conjunctions of target.k = source.k with matching "
                    "column names (merge keys); arbitrary join "
                    "conditions need the Python API"
                )
            # either side may be the source alias; the other qualifier
            # names the target
            q1, q2 = em.group(1), em.group(3)
            target_alias = q1 if q2 == alias else q2
            keys.append(em.group(2))

        _LIT = r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\""

        def _sub_outside_literals(pattern: str, repl: str, text: str) -> str:
            """re.sub applied only OUTSIDE string literals — an alias
            prefix inside a quoted value is data, not a reference."""
            parts = re.split(f"({_LIT})", text)
            return "".join(
                p if p[:1] in "'\"" else re.sub(pattern, repl, p)
                for p in parts
            )

        def _unqualify(cond: str, evaluated_on: str) -> str:
            """Strip the alias the condition's frame provides (outside
            string literals); a reference to the OTHER side's alias
            cannot be evaluated there and must be rejected, not
            silently misresolved."""
            keep = alias if evaluated_on == "source" else target_alias
            other = target_alias if evaluated_on == "source" else alias
            stripped = re.sub(_LIT, "''", cond)
            if other and re.search(rf"\b{other}\.", stripped):
                raise ValueError(
                    f"MERGE condition {cond!r} references the "
                    f"{'target' if evaluated_on == 'source' else 'source'}"
                    f" alias {other!r}, but this clause is evaluated on "
                    f"the {evaluated_on} rows only; rewrite it over "
                    f"{evaluated_on} columns (alias {keep!r})"
                )
            return (
                _sub_outside_literals(rf"\b{keep}\.", "", cond)
                if keep
                else cond
            )
        # ---- parse clauses (literal-aware WHEN / THEN splitting) ----
        # only a WHEN followed by [NOT] MATCHED opens a clause: an
        # unparenthesized CASE WHEN inside a condition or assignment
        # expression is also at paren-depth 0, and treating it as a
        # boundary would reject legal Delta SQL
        starts = [
            i
            for i in _scan_keyword(clauses, "WHEN")
            if re.match(
                r"\s+(NOT\s+MATCHED|MATCHED)\b", clauses[i + 4 :], _F
            )
        ]
        if not starts or clauses[: starts[0]].strip():
            raise ValueError(f"malformed MERGE clauses at {clauses[:60]!r}")
        bounds = starts + [len(clauses)]
        parsed: list[tuple] = []  # (kind, cond, atype, payload)
        for a, b in zip(bounds, bounds[1:]):
            chunk = clauses[a:b].strip()
            head, action = _split_keyword_once(chunk, "THEN")
            if action is None:
                raise ValueError(f"MERGE clause missing THEN: {chunk[:60]!r}")
            hm = re.fullmatch(
                r"WHEN\s+(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED|MATCHED)"
                r"(?:\s+AND\s+(.+))?",
                head.strip(),
                _F,
            )
            if not hm:
                raise ValueError(f"malformed MERGE clause head {head!r}")
            kind = re.sub(r"\s+", " ", hm.group(1).upper())
            cond = hm.group(2)
            act = action.strip()
            am_cols = re.fullmatch(r"UPDATE\s+SET\s+(.+)", act, _F)
            am_ins = re.fullmatch(
                r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)", act, _F
            )
            if re.fullmatch(r"UPDATE\s+SET\s+\*", act, _F):
                atype, payload = "update_star", None
            elif am_cols:
                atype = "update_cols"
                payload = {}
                for part in _split_top_level(am_cols.group(1)):
                    if "=" not in part:
                        raise ValueError(
                            f"MERGE UPDATE SET expects col = expr, got {part!r}"
                        )
                    lhs, rhs = part.split("=", 1)
                    lhs = lhs.strip()
                    qm = re.fullmatch(r"(?:(\w+)\.)?(\w+)", lhs)
                    if not qm:
                        raise ValueError(
                            f"malformed MERGE assignment target {lhs!r}"
                        )
                    # an optional qualifier must be the TARGET alias —
                    # 'SET s.col = ...' would silently assign the
                    # wrong table in real SQL engines too
                    if qm.group(1) and qm.group(1) == alias:
                        raise ValueError(
                            f"MERGE assignment target {lhs!r} is "
                            f"qualified with the SOURCE alias "
                            f"{alias!r}; assignments write target "
                            "columns"
                        )
                    payload[qm.group(2)] = rhs.strip()
            elif re.fullmatch(r"INSERT\s+\*", act, _F):
                atype, payload = "insert_star", None
            elif am_ins:
                cols = [c.strip() for c in am_ins.group(1).split(",") if c.strip()]
                exprs = _split_top_level(am_ins.group(2))
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"MERGE INSERT column/value arity mismatch: "
                        f"{len(cols)} columns, {len(exprs)} values"
                    )
                atype = "insert_cols"
                payload = dict(
                    zip([re.sub(r"^\w+\.", "", c) for c in cols], exprs)
                )
            elif re.fullmatch(r"DELETE", act, _F):
                atype, payload = "delete", None
            else:
                raise ValueError(
                    f"unsupported MERGE action {act[:60]!r}: supported "
                    "are UPDATE SET * | UPDATE SET col = expr, ... | "
                    "DELETE | INSERT * | INSERT (cols) VALUES (exprs)"
                )
            allowed = {
                "MATCHED": {"update_star", "update_cols", "delete"},
                "NOT MATCHED": {"insert_star", "insert_cols"},
                # BY SOURCE has no source row: whole-row SET * is
                # meaningless there, column-level UPDATE and DELETE
                # are the Delta grammar
                "NOT MATCHED BY SOURCE": {"delete", "update_cols"},
            }[kind]
            if atype not in allowed:
                raise ValueError(
                    f"unsupported MERGE combination: WHEN {kind} THEN "
                    f"{act[:40]}"
                )
            parsed.append((kind, cond, atype, payload))
        # SQL MERGE clauses evaluate in order, first match wins: any
        # clause after an UNCONDITIONAL clause of the same kind is
        # unreachable — refuse, like Spark/Delta's analyzer
        for want in ("MATCHED", "NOT MATCHED", "NOT MATCHED BY SOURCE"):
            closed = False
            for kind, cond, atype, _ in parsed:
                if kind != want:
                    continue
                if closed:
                    raise ValueError(
                        f"unreachable MERGE clause 'WHEN {kind} ... THEN "
                        f"{atype}': an earlier unconditional WHEN {kind} "
                        "clause already consumes every such row (clauses "
                        "evaluate in order, first match wins)"
                    )
                if not cond:
                    closed = True
        mclauses = [c for c in parsed if c[0] == "MATCHED"]
        nclauses = [c for c in parsed if c[0] == "NOT MATCHED"]
        # WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET
        # col = expr — evaluated on the TARGET rows the source did not
        # match (there is no source row: conditions and expressions
        # must resolve over target columns only, so the target alias
        # strips and a source-alias reference rejects). Ordered,
        # first-match-wins (apply_not_matched_by_source_clauses).
        tcols = set(st.read_snapshot(spark, t).columns)
        nmbs_clauses: list[tuple] = []
        for _, cond, atype, payload in (
            c for c in parsed if c[0] == "NOT MATCHED BY SOURCE"
        ):
            c2 = _unqualify(cond, "target") if cond else None
            if atype == "update_cols":
                bad = set(payload) - tcols
                if bad:
                    raise ValueError(
                        f"MERGE BY SOURCE UPDATE assigns unknown target "
                        f"column(s) {sorted(bad)}"
                    )
                bad_keys = set(payload) & set(keys)
                if bad_keys:
                    # rewriting a kept row's key can collide with an
                    # incoming insert — same duplication hazard as the
                    # MATCHED-side key assignment
                    raise ValueError(
                        f"MERGE UPDATE must not assign merge key(s) "
                        f"{sorted(bad_keys)}"
                    )
                nmbs_clauses.append(
                    (
                        c2,
                        "update",
                        {
                            c: _unqualify(e, "target")
                            for c, e in payload.items()
                        },
                    )
                )
            else:
                nmbs_clauses.append((c2, "delete", None))
        nmbs = nmbs_clauses or None

        def _mentions_target(cond: str | None) -> bool:
            if cond is None or not target_alias:
                return False
            return bool(
                re.search(
                    rf"\b{re.escape(target_alias)}\.",
                    re.sub(_LIT, "''", cond),
                )
            )

        fast = (
            all(
                (cond is None and atype == "update_star")
                # matched-delete may carry a cond, but the fast path
                # evaluates it on SOURCE rows only — a target-alias
                # reference needs the joined-frame general path
                or (atype == "delete" and not _mentions_target(cond))
                for _, cond, atype, _ in mclauses
            )
            and all(
                cond is None and atype == "insert_star"
                for _, cond, atype, _ in nclauses
            )
            and any(a == "update_star" for _, _, a, _ in mclauses)
            and any(a == "insert_star" for _, _, a, _ in nclauses)
        )
        delete_col = None
        if fast:
            # whole-row fast path: matched rows replaced by source
            # rows, unmatched source rows inserted — one target scan,
            # partition-pruned in merge_into when the source carries
            # the partition columns
            # matched-delete conditions ride the source as ONE marker
            # column (merge_into's delete_col protocol), evaluated on
            # SOURCE rows. Several conditional DELETE clauses OR
            # together — they all precede the unconditional UPDATE SET
            # * (the unreachable-clause check enforces the order), and
            # any of them claiming the row deletes it; a per-clause
            # withColumn would silently overwrite earlier predicates.
            del_pred = None
            for _, cond, atype, _ in mclauses:
                if atype != "delete":
                    continue
                pred = F.coalesce(
                    F.expr(_unqualify(cond, "source"))
                    if cond
                    else F.lit(True),
                    F.lit(False),
                )
                del_pred = pred if del_pred is None else (del_pred | pred)
            if del_pred is not None:
                delete_col = "__merge_sql_delete"
                src = src.withColumn(delete_col, del_pred)
            # source columns the target schema doesn't carry are
            # batch plumbing (CDC flags, sequence numbers) — drop
            # them before the whole-row merge, keeping the marker
            extra = [
                c for c in src.columns if c not in tcols and c != delete_col
            ]
            if extra:
                src = src.drop(*extra)
        else:
            # general path: conditional / column-level clauses lower
            # to a SOURCE REWRITE (join source<->target on the merge
            # keys, evaluate the clause cascade per row, emit full
            # target-schema rows + a delete marker) feeding the same
            # whole-row merge core — one extra target scan, the same
            # two-phase cost profile as Delta's own MERGE
            # NMBS-only statements are legal (full-sync delete of
            # unmatched target rows, Delta-style): the lowering then
            # re-emits matched targets unchanged and drops unmatched
            # source rows — the regex guarantees >=1 clause overall
            src, delete_col = _lower_merge_clauses(
                spark, t, src, keys, alias, target_alias, mclauses, nclauses
            )
        v = st.merge_into(
            spark,
            t,
            src,
            keys,
            delete_col=delete_col,
            not_matched_by_source=nmbs,
        )
        return _row_df(spark, {"operation": "merge", "version": v})

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)",
        s,
    )
    if m:
        v = st.add_constraint(spark, tbl(m.group(1)), m.group(2), m.group(3).strip())
        return _row_df(spark, {"operation": "add_constraint", "version": v})

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(\w+)",
        s,
    )
    if m:
        v = st.drop_constraint(tbl(m.group(1)), m.group(3), if_exists=bool(m.group(2)))
        return _row_df(spark, {"operation": "drop_constraint", "version": v})

    m = _m(rf"ALTER\s+TABLE\s+{_IDENT}\s+SET\s+TBLPROPERTIES\s*\((.+)\)", s)
    if m:
        t = tbl(m.group(1))
        v = st.set_table_properties(t, _parse_tblproperties(m.group(2)))
        return _row_df(
            spark,
            {
                "operation": "set_properties",
                "version": v,
                "properties": st.table_properties(t),
            },
        )

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+UNSET\s+TBLPROPERTIES\s*"
        rf"(IF\s+EXISTS\s+)?\((.+)\)",
        s,
    )
    if m:
        t = tbl(m.group(1))
        v = st.unset_table_properties(
            t, _cols_list(m.group(3)), if_exists=bool(m.group(2))
        )
        return _row_df(
            spark,
            {
                "operation": "unset_properties",
                "version": v,
                "properties": st.table_properties(t),
            },
        )

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+CLUSTER\s+BY\s+(?:NONE|\(([^)]+)\))", s
    )
    if m:
        cols = _cols_list(m.group(2)) if m.group(2) else None
        v = st.set_clustering(tbl(m.group(1)), cols)
        return _row_df(spark, {"operation": "cluster_by", "version": v})

    m = _m(rf"ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+FEATURE\s+([\w-]+)", s)
    if m:
        v = st.drop_feature(tbl(m.group(1)), m.group(2))
        return _row_df(spark, {"operation": "drop_feature", "version": v})

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+ADD\s+COLUMNS?\s*"
        # one angle/paren nesting level so decimal(10,2) and
        # array<struct<...>> column types parse
        rf"\(((?:[^()]|\([^()]*\))+)\)",
        s,
    )
    if m:
        # hand the whole column list to Spark's DDL schema parser via
        # add_columns — every type CREATE TABLE accepts works here
        v = st.add_columns(tbl(m.group(1)), m.group(2).strip(), spark=spark)
        return _row_df(spark, {"operation": "add_columns", "version": v})

    m = _m(rf"ALTER\s+TABLE\s+{_IDENT}\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)", s)
    if m:
        v = st.rename_column(tbl(m.group(1)), m.group(2), m.group(3))
        return _row_df(spark, {"operation": "rename_column", "version": v})

    m = _m(rf"ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+COLUMN\s+(\w+)", s)
    if m:
        v = st.drop_column(tbl(m.group(1)), m.group(2))
        return _row_df(spark, {"operation": "drop_column", "version": v})

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w(),\s]+)",
        s,
    )
    if m:
        v = st.widen_column(tbl(m.group(1)), m.group(2), m.group(3).strip().lower())
        return _row_df(spark, {"operation": "widen_column", "version": v})

    m = _m(
        rf"OPTIMIZE\s+{_IDENT}(?:\s+WHERE\s+(.+?))?"
        rf"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?",
        s,
    )
    if m:
        t = tbl(m.group(1))
        parts: dict | None = None
        if m.group(2):
            # Delta's OPTIMIZE ... WHERE: the predicate must name
            # PARTITION columns with equality only — compaction is a
            # file-layout operation, it can only scope by directory
            # (at 100 TB you compact yesterday's partition, never the
            # table). parse_where enforces the grammar; we enforce
            # partitionhood.
            branches = parse_where(m.group(2))
            conj = (
                branches
                if branches and isinstance(branches[0], tuple)
                else None
            )
            if conj is None:
                raise ValueError(
                    "OPTIMIZE WHERE takes one conjunction of partition "
                    "equalities (no OR)"
                )
            pcols = set(st._spec_names(st._manifest_at(t)[1]["partition_cols"]))
            parts = {}
            for col, op, val in conj:
                if op not in ("=", "==") or col not in pcols:
                    raise ValueError(
                        f"OPTIMIZE WHERE supports equality on partition "
                        f"columns only; got {col} {op} {val!r} "
                        f"(partitions: {sorted(pcols)})"
                    )
                parts[col] = val
        zcols = _cols_list(m.group(3)) if m.group(3) else None
        v = st.optimize(
            spark,
            t,
            cluster_by=zcols,
            zorder=bool(zcols),
            partitions=parts,
        )
        return _row_df(spark, {"operation": "optimize", "version": v})

    m = _m(
        rf"VACUUM\s+{_IDENT}"
        rf"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?(\s+DRY\s+RUN)?",
        s,
    )
    if m:
        # RETAIN n HOURS is Delta's retention window: it bounds BOTH
        # time travel (age-based manifest expiry) and the unreferenced-
        # file grace (files younger than the window survive the sweep)
        hours = float(m.group(2)) if m.group(2) else None
        rep = st.vacuum(
            tbl(m.group(1)),
            dry_run=bool(m.group(3)),
            grace_seconds=hours * 3600.0 if hours is not None else None,
            retain_hours=hours,
        )
        return _row_df(spark, {"operation": "vacuum", **rep})

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+CREATE\s+(TAG|BRANCH)\s+([\w.-]+)"
        rf"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
        s,
    )
    if m:
        t = tbl(m.group(1))
        ver = int(m.group(4)) if m.group(4) else None
        if m.group(2).upper() == "TAG":
            v = st.create_tag(t, m.group(3), version=ver)
            return _row_df(
                spark,
                {"operation": "create_tag", "tag": m.group(3), "version": v},
            )
        st.create_branch(t, m.group(3), version=ver)
        return _row_df(
            spark, {"operation": "create_branch", "branch": m.group(3)}
        )

    m = _m(rf"ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+(TAG|BRANCH)\s+([\w.-]+)", s)
    if m:
        t = tbl(m.group(1))
        if m.group(2).upper() == "TAG":
            st.drop_tag(t, m.group(3))
            return _row_df(
                spark, {"operation": "drop_tag", "tag": m.group(3)}
            )
        st.drop_branch(t, m.group(3))
        return _row_df(
            spark, {"operation": "drop_branch", "branch": m.group(3)}
        )

    m = _m(
        rf"ALTER\s+TABLE\s+{_IDENT}\s+FAST\s+FORWARD\s+([\w.-]+)", s
    )
    if m:
        v = st.fast_forward(tbl(m.group(1)), m.group(2))
        return _row_df(
            spark,
            {"operation": "fast_forward", "branch": m.group(2), "version": v},
        )

    m = _m(rf"SHOW\s+REFS\s+{_IDENT}", s)
    if m:
        t = tbl(m.group(1))
        if st.current_version(t) is None:
            # an empty listing would be indistinguishable from "table
            # exists with no refs", masking a typo'd name
            raise ValueError(f"{t} does not exist")
        refs = st.list_refs(t)
        rows = [
            ("tag", name, v, None)
            for name, v in sorted(refs["tags"].items())
        ] + [
            ("branch", name, b["head"], b["fork_version"])
            for name, b in sorted(refs["branches"].items())
        ]
        return local_df(spark, 
            rows, "ref_type string, name string, version int, fork_version int"
        )

    m = _m(rf"RESTORE\s+TABLE\s+{_IDENT}\s+TO\s+TAG\s+([\w.-]+)", s)
    if m:
        t = tbl(m.group(1))
        v = st.rollback(t, st.read_tag(t, m.group(2)))
        return _row_df(spark, {"operation": "restore", "version": v})

    m = _m(rf"RESTORE\s+TABLE\s+{_IDENT}\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)", s)
    if m:
        v = st.rollback(tbl(m.group(1)), int(m.group(2)))
        return _row_df(spark, {"operation": "restore", "version": v})

    m = _m(
        rf"RESTORE\s+TABLE\s+{_IDENT}\s+TO\s+TIMESTAMP\s+AS\s+OF\s+"
        rf"('[^']+'|\d+(?:\.\d+)?)",
        s,
    )
    if m:
        raw = m.group(2)
        ts: object
        if raw.startswith("'"):
            import datetime

            ts = datetime.datetime.fromisoformat(_unquote(raw))
        else:
            ts = float(raw)
        v = st.restore_to_timestamp(tbl(m.group(1)), ts)
        return _row_df(spark, {"operation": "restore", "version": v})

    m = _m(
        rf"ANALYZE\s+TABLE\s+{_IDENT}\s+COMPUTE\s+STATISTICS\s+FOR\s+"
        rf"(ALL\s+COLUMNS|COLUMNS\s+.+)",
        s,
    )
    if m:
        spec = m.group(2)
        cols = (
            None
            if re.fullmatch(r"ALL\s+COLUMNS", spec, _F)
            else _cols_list(re.sub(r"^COLUMNS\s+", "", spec, flags=_F))
        )
        v = st.analyze_table(spark, tbl(m.group(1)), columns=cols)
        return _row_df(spark, {"operation": "analyze", "version": v})

    m = _m(r"SHOW\s+TABLES(?:\s+IN\s+(\S+))?", s)
    if m:
        root = _unquote(m.group(1)) if m.group(1) else warehouse
        if root is None:
            raise ValueError("SHOW TABLES needs a warehouse (IN '<root>')")
        rows = []
        for entry in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            path = os.path.join(root, entry)
            if _is_snapshot_table(path):
                rows.append((entry, path, st.current_version(path)))
        return local_df(spark, 
            rows, "tableName string, location string, version int"
        )

    m = _m(rf"SHOW\s+TBLPROPERTIES\s+{_IDENT}", s)
    if m:
        props = st.table_properties(tbl(m.group(1)))
        return local_df(spark, 
            sorted(props.items()) or [], "key string, value string"
        )

    m = _m(rf"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?{_IDENT}", s)
    if m:
        t = tbl(m.group(2))
        if st.current_version(t) is None:
            if m.group(1):
                return _row_df(
                    spark, {"operation": "drop_table", "skipped": "absent"}
                )
            raise ValueError(f"{t} does not exist (or is not a snapshot table)")
        # refuses anything that isn't a snapshot table: the manifest
        # check above is the guard against rm -rf'ing an arbitrary dir
        import shutil

        shutil.rmtree(t)
        return _row_df(spark, {"operation": "drop_table", "location": t})

    m = _m(rf"DESCRIBE\s+HISTORY\s+{_IDENT}", s)
    if m:
        hist = st.history(tbl(m.group(1)))
        return local_df(spark, 
            [
                (
                    h["version"],
                    h["parent"],
                    h["operation"],
                    float(h["committed_at"]),
                    h["n_files"],
                    h["n_partitions"],
                    json.dumps(h.get("metrics"), sort_keys=True)
                    if h.get("metrics")
                    else None,
                )
                for h in hist
            ],
            "version int, parent int, operation string, committed_at double, "
            "n_files int, n_partitions int, metrics string",
        )

    m = _m(rf"DESCRIBE\s+DETAIL\s+{_IDENT}", s)
    if m:
        t = tbl(m.group(1))
        head, man = st._manifest_at(t)
        return _row_df(
            spark,
            {
                "location": t,
                "version": head,
                # manifest-only exact count (stats minus DVs) — the
                # detail row stays metadata-bounded at any table size
                "rows": st.metadata_count(t),
                "n_files": len(man["files"]),
                "partition_cols": man["partition_cols"],
                "properties": man.get("properties") or {},
                "constraints": man.get("constraints") or {},
                "reader_features": sorted(man.get("reader_features") or []),
                "writer_features": sorted(man.get("writer_features") or []),
            },
        )

    m = _m(
        rf"APPLY\s+CHANGES\s+INTO\s+{_IDENT}\s+FROM\s+"
        rf"(\w+|\((?:[^()]|\([^()]*\))+\))\s+"
        rf"KEYS\s*\(([^)]+)\)\s+SEQUENCE\s+BY\s+(\w+)"
        rf"(?:\s+APPLY\s+AS\s+DELETE\s+WHEN\s+(.+?))?"
        rf"(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+([12]))?",
        s,
    )
    if m:
        # DLT's APPLY CHANGES INTO, batch form: type 1 (default)
        # compacts the feed per key by the sequence column and MERGEs
        # (latest wins, delete rows drop their match); type 2 splices
        # the batch into the stored SCD2 history via the SAME core
        # the streaming surface rides (scd2_apply_to_table), so SQL
        # text, batch Python, and the stream share one semantics.
        t = tbl(m.group(1))
        if st.current_version(t) is None:
            raise ValueError(
                f"{t} does not exist; create it first (APPLY CHANGES "
                "cannot infer the target's partitioning)"
            )
        src_ref = m.group(2)
        src = (
            spark.sql(f"SELECT * FROM {src_ref}")
            if not src_ref.startswith("(")
            else spark.sql(src_ref[1:-1])
        )
        keys = _cols_list(m.group(3))
        seq = m.group(4)
        missing = [c for c in [*keys, seq] if c not in src.columns]
        if missing:
            raise ValueError(
                f"APPLY CHANGES source lacks column(s) {missing}; "
                f"source columns: {src.columns}"
            )
        delete_when = m.group(5)
        scd_type = int(m.group(6) or 1)
        head_v = st.current_version(t)
        # an empty feed must be a no-op, not a full-table rewrite —
        # the streaming twin guards identically (ingest.process_batch)
        if src.isEmpty():
            return _row_df(
                spark,
                {
                    "operation": "apply_changes"
                    + ("_scd2" if scd_type == 2 else ""),
                    "version": head_v,
                    "skipped": "empty feed",
                },
            )
        # duplicate (keys, seq) pairs make the winner (and hence the
        # merged row, or whether a tied delete fires) run-to-run
        # nondeterministic — DLT raises on non-unique sequencing, so
        # do we (use a monotonic id, or disambiguate upstream)
        dup = (
            src.groupBy(*keys, seq)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            r0 = dup[0]
            raise ValueError(
                "APPLY CHANGES requires a UNIQUE (keys, sequence) per "
                f"change; duplicate at {[(k, r0[k]) for k in keys]}, "
                f"{seq}={r0[seq]!r}"
            )
        DEL = "__cdc_delete"
        if delete_when:
            src = src.withColumn(
                DEL, F.coalesce(F.expr(delete_when), F.lit(False))
            )
        if scd_type == 2:
            from ..streaming.ingest import scd2_apply_to_table

            # attrs come from the TARGET schema (everything that is
            # not a key or a validity column) — deriving them from
            # the source would drag feed plumbing (the op column the
            # delete predicate reads, sequence metadata) into the
            # history scan and break on UNRESOLVED_COLUMN
            tcols = st.read_snapshot(spark, t).columns
            validity = ["valid_from", "valid_to", "is_current"]
            if not all(c in tcols for c in validity):
                raise ValueError(
                    f"SCD TYPE 2 target {t} must carry "
                    f"{validity} (plus keys + attributes); "
                    f"target columns: {tcols}"
                )
            attrs = [
                c for c in tcols if c not in {*keys, *validity}
            ]
            lack = [c for c in attrs if c not in src.columns]
            if lack:
                raise ValueError(
                    f"APPLY CHANGES source lacks target attribute "
                    f"column(s) {lack}; source columns: {src.columns}"
                )
            v = scd2_apply_to_table(
                spark,
                t,
                src,
                keys,
                seq,
                attrs,
                delete_col=DEL if delete_when else None,
            )
            return _row_df(
                spark,
                {"operation": "apply_changes_scd2", "version": v},
            )
        from ..operators.merge import compact_changelog

        compact = compact_changelog(src, keys, [seq])
        tcols2 = set(st.read_snapshot(spark, t).columns)
        extra = [
            c
            for c in compact.columns
            if c not in tcols2 and c != (DEL if delete_when else None)
        ]
        if extra:  # sequence/meta columns are feed plumbing
            compact = compact.drop(*extra)
        v = st.merge_into(
            spark,
            t,
            compact,
            keys,
            delete_col=DEL if delete_when else None,
        )
        return _row_df(
            spark, {"operation": "apply_changes", "version": v}
        )

    m = _m(rf"TRUNCATE\s+TABLE\s+{_IDENT}", s)
    if m:
        v = st.truncate_table(tbl(m.group(1)))
        return _row_df(spark, {"operation": "truncate", "version": v})

    m = _m(rf"SHOW\s+PARTITIONS\s+{_IDENT}", s)
    if m:
        layout = st.table_layout(tbl(m.group(1)))
        return local_df(spark, 
            [
                (
                    "/".join(f"{k}={v}" for k, v in e["partition"].items())
                    or "<unpartitioned>",
                    e["n_files"],
                    e["rows"],
                )
                for e in layout
            ],
            "partition string, n_files int, rows long",
        )

    m = _m(rf"DESCRIBE\s+(?:TABLE\s+)?{_IDENT}", s)
    if m:
        t = tbl(m.group(1))
        _, man = st._manifest_at(t)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(man["schema"]))
        pnames = {
            st._parse_transform(e)[1] for e in man["partition_cols"]
        }
        return local_df(spark, 
            [
                (f.name, f.dataType.simpleString(), f.name in pnames)
                for f in schema.fields
            ],
            "col_name string, data_type string, is_partition boolean",
        )

    # not a management statement: ordinary Spark SQL over the session
    # catalog (snapshot views registered via register_all_tables /
    # register_snapshot_view, temp views, built-in functions, ...)
    return spark.sql(statement)


def _is_snapshot_table(path: str) -> bool:
    d = os.path.join(path, st.SNAPSHOT_DIR)
    if not os.path.isdir(d):
        return False
    return any(re.fullmatch(r"v\d{8}\.json", f) for f in os.listdir(d))


def register_all_tables(
    spark: SparkSession,
    warehouse_root: str,
    global_views: bool = False,
    prefix: str = "",
) -> dict[str, str]:
    """Glue-catalog-style session bootstrap: scan ``warehouse_root``
    for snapshot tables (any direct subdirectory holding a manifest
    log) and register each at its HEAD as a SQL view named after its
    directory — one call and a FRESH session reaches every table by
    name from ``spark.sql``, the durability the reference gets from
    the Glue catalog (README.md:41; Terraform-provisioned database).

    Returns ``{table_name: registered_view_name}``.  Metadata-only:
    one manifest read per table, no data touched.  ``global_views``
    registers ``global_temp`` views (visible to every session of the
    same Spark application — the closest in-process analogue of a
    shared catalog); ``prefix`` namespaces the view names
    (``prefix="gold_"`` → ``gold_ev_sessions``).  Views pin the head
    AT REGISTRATION (snapshot isolation); call again to advance, like
    re-running a query in Delta."""
    if not os.path.isdir(warehouse_root):
        raise ValueError(f"warehouse root {warehouse_root!r} does not exist")
    out: dict[str, str] = {}
    for entry in sorted(os.listdir(warehouse_root)):
        path = os.path.join(warehouse_root, entry)
        if not _is_snapshot_table(path):
            continue
        name = prefix + re.sub(r"\W", "_", entry)
        out[entry] = st.register_snapshot_view(
            spark, path, name, global_view=global_views
        )
    return out
