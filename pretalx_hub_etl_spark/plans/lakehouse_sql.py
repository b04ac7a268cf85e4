"""SQL catalog for the lakehouse tables: named views + VERSION AS OF.

The engine API serves programmatic users (`MergeSink.read_pruned`,
`MorTable.read(as_of=...)`); this layer is the SQL face a warehouse user
expects (VERDICT r10 item 1):

    cat = LakehouseSqlCatalog(spark)
    cat.register_cow("orders_t", "/data/orders_t")
    cat.register_mor("cust_t", "/data/cust_t", key="c_custkey")
    cat.sql("SELECT * FROM orders_t VERSION AS OF 2 WHERE o_orderkey < 9")

Resolution model (the "thin view-generation" shape the real formats
implement inside their catalogs):

- CoW tables resolve NATIVELY by default (round 12): the commit
  manifest supplies the version's file list driver-side and Spark
  scans those parquet files directly — JVM vectorized scan, real
  column pruning, parquet row-group pushdown, partition columns via
  basePath, and correct semantics when one view is referenced several
  times in a query. ``register_cow(..., use_datasource=True)`` keeps
  the ``lakehouse`` Python DataSource relation instead (the V2
  provider compat surface; its planner-side manifest skipping is
  gated on explicitly single-referenced loads — Spark 4.1 collapses
  co-occurring scans of one Python-DS relation, so per-occurrence
  pruning is unsound there; see `sources/lakehouse_ds.py`).
- MoR tables cannot be a per-file relation (latest-wins needs a key
  shuffle), so they resolve to a GENERATED TEMP VIEW over
  ``MorTable.read`` — the same one-scan-per-role + window plan the
  engine API serves, reachable from plain SQL.
- ``<table> VERSION AS OF <n>`` is rewritten before parsing to a
  version-pinned view (``<table>__asof_<n>``), created on demand from
  the same reader with ``version``/``as_of`` pinned. Real formats do
  this rewrite in the parser; a Python-level engine does it one step
  earlier — same observable SQL.

Freshness: every ``sql()`` call re-registers the views of the tables it
mentions, so each query sees the table's CURRENT committed version
(catalog semantics), while version-pinned views are immutable by
construction.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..session import release_checkpoint

_ASOF_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)\b",
    re.IGNORECASE,
)
_TS_ASOF_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
    re.IGNORECASE,
)


def _parse_ts_ms(ts: str) -> int:
    """Epoch-ms of a ``TIMESTAMP AS OF`` literal: integer epoch ms, or
    an ISO-ish timestamp (naive -> UTC)."""
    s = str(ts).strip()
    try:
        return int(s)
    except ValueError:
        pass
    import datetime as dt

    d = dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp() * 1000)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*"
    r"(?:\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s*)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REPLACE_WHERE_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s+REPLACE\s+WHERE\s+(.+?)\s+"
    r"((?:SELECT|VALUES|TABLE|WITH)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_]\w*)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_]\w*)(?:\s+WHERE\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+([A-Za-z_]\w*)(?:\s+RETAIN\s+(\d+)(\s+HOURS)?)?"
    r"(\s+DRY\s+RUN)?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
_OPTIMIZE_Z_RE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_WHERE_RE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s+WHERE\s+(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE_INC_RE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s+INCREMENTAL\s*$",
    re.IGNORECASE,
)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*$",
    re.IGNORECASE,
)
_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+(?:(WITH\s+SCHEMA\s+EVOLUTION)\s+)?INTO\s+"
    r"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*))?\s+USING\s+",
    re.IGNORECASE | re.DOTALL,
)
_MATCHED_RE = re.compile(
    r"^\s*WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
    r"(?:UPDATE\s+SET\s+(.+)|(DELETE))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_BY_SOURCE_RE = re.compile(
    r"^\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?\s+"
    r"THEN\s+(?:(DELETE)|UPDATE\s+SET\s+(.+))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_MATCHED_RE = re.compile(
    r"^\s*WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?(?:\s+AND\s+(.+?))?\s+"
    r"THEN\s+INSERT\s+(.+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_COLS_RE = re.compile(
    r"^\s*\(([^)]*)\)\s+VALUES\s*\((.+)\)\s*$", re.IGNORECASE | re.DOTALL
)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*"
    r"\((.*?)\)\s*USING\s+lakehouse\s+LOCATION\s+'([^']+)'"
    r"(?:\s+TBLPROPERTIES\s*\((.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_]\w*)\s+"
    r"USING\s+lakehouse\s+LOCATION\s+'([^']+)'"
    r"(?:\s+TBLPROPERTIES\s*\((.*?)\))?\s+AS\s+(SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([A-Za-z_]\w*)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_SHOW_VIEWS_RE = re.compile(r"^\s*SHOW\s+VIEWS\s*$", re.IGNORECASE)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
_CONVERT_RE = re.compile(
    r"^\s*CONVERT\s+TO\s+LAKEHOUSE\s+'([^']+)'"
    r"(?:\s+AS\s+([A-Za-z_]\w*))?"
    r"(?:\s+TBLPROPERTIES\s*\((.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ADD\s+COLUMNS?\s*"
    r"\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+RENAME\s+TO\s+"
    r"([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_BEGIN_TXN_RE = re.compile(
    r"^\s*BEGIN(?:\s+TRANSACTION)?\s*$", re.IGNORECASE
)
_COMMIT_RE = re.compile(
    r"^\s*COMMIT(?:\s+TRANSACTION)?\s*$", re.IGNORECASE
)
_ROLLBACK_RE = re.compile(
    r"^\s*ROLLBACK(?:\s+TRANSACTION)?\s*$", re.IGNORECASE
)
_HEAL_TXN_RE = re.compile(
    r"^\s*HEAL\s+TRANSACTIONS\s*$", re.IGNORECASE
)
_ALTER_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+RENAME\s+COLUMN\s+"
    r"([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+COLUMNS?\s+"
    r"(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_WIDEN_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"([A-Za-z_]\w*)\s+TYPE\s+([A-Za-z]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+SET\s+TBLPROPERTIES\s*"
    r"\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_CHECK_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ADD\s+CONSTRAINT\s+"
    r"([A-Za-z_]\w*)\s+CHECK\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_CHECK_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+CONSTRAINT\s+"
    r"(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_NOTNULL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"([A-Za-z_]\w*)\s+(SET|DROP)\s+NOT\s+NULL\s*$",
    re.IGNORECASE,
)
_COPY_RE = re.compile(
    r"^\s*COPY\s+INTO\s+([A-Za-z_]\w*)\s+FROM\s+'([^']+)'\s+"
    r"FILEFORMAT\s*=\s*(PARQUET|CSV|JSON)"
    r"(?:\s+PATTERN\s*=\s*'([^']+)')?"
    r"(?:\s+FORMAT_OPTIONS\s*\((.*?)\))?"
    r"(?:\s+FORCE\s*=\s*(TRUE|FALSE))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+([A-Za-z_]\w*)\s+SHALLOW\s+CLONE\s+"
    r"([A-Za-z_]\w*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+"
    r"LOCATION\s+'([^']+)'\s*$",
    re.IGNORECASE,
)
#: `table_changes('<name>', lo[, hi])` — the CDC table-valued function
#: (the Delta shape), rewritten to a generated view before parsing
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\(\s*'([A-Za-z_]\w*)'\s*,\s*(\d+|'[^']+')\s*"
    r"(?:,\s*(\d+|'[^']+')\s*)?\)",
    re.IGNORECASE,
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?!HISTORY\b|DETAIL\b)([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_DETAIL_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+DETAIL\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([A-Za-z_]\w*)\s+COMPUTE\s+STATISTICS\s*$",
    re.IGNORECASE,
)
_ANALYZE_COLS_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([A-Za-z_]\w*)\s+COMPUTE\s+STATISTICS\s+"
    r"FOR\s+COLUMNS\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*$",
    re.IGNORECASE,
)


def _scan_top_level(s: str, word: str, start: int = 0) -> int:
    """Index of the first TOP-LEVEL occurrence of keyword ``word``
    (case-insensitive, word-bounded, outside parentheses/brackets and
    single-quoted strings), or -1. The pre-parser for MERGE's clause
    structure — conditions and subqueries may contain the same words
    nested inside parens or literals."""
    wl = len(word)
    depth = 0
    in_str = False
    i = start
    up = s.upper()
    wu = word.upper()
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif (
            depth == 0
            and up.startswith(wu, i)
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (
                i + wl >= len(s)
                or not (s[i + wl].isalnum() or s[i + wl] == "_")
            )
        ):
            return i
        i += 1
    return -1


def _split_top_commas(s: str) -> list[str]:
    """Split on top-level commas only (commas inside parentheses OR
    single-quoted literals stay put — TBLPROPERTIES (zorder_by='k,ck')
    is ONE entry)."""
    parts, depth, cur = [], 0, []
    in_str = False
    for ch in s:
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _unquote_prop(v: str) -> str:
    """TBLPROPERTIES value decode: outer quotes off, doubled inner
    quotes ('' -> ') restored — the standard SQL escape, what lets a
    CHECK expression containing string literals round-trip through
    SHOW CREATE TABLE."""
    v = v.strip()
    for q in ("'", '"'):
        if len(v) >= 2 and v.startswith(q) and v.endswith(q):
            return v[1:-1].replace(q * 2, q)
    return v


def _quote_prop(v: object) -> str:
    """TBLPROPERTIES value encode (inverse of :func:`_unquote_prop`);
    lists emit comma-joined (the form CREATE TABLE normalizes back)."""
    if isinstance(v, (list, tuple)):
        v = ",".join(str(x) for x in v)
    return "'" + str(v).replace("'", "''") + "'"


def _prop_key(raw: str) -> str:
    """TBLPROPERTIES key normalization: control keys fold to lowercase,
    but the dotted invariant families keep their SUFFIX case (a
    constraint named Check_Positive must round-trip byte-identically).
    The FAMILY prefix itself always folds to lowercase — the enforcement
    side (sinks/constraints.py) matches ``constraint.`` / ``generated.``
    / ``notnull.`` case-sensitively, so a stored ``Constraint.pos``
    would be re-emitted by SHOW CREATE TABLE yet silently never
    enforced at write time. Keys may arrive quoted (``'constraint.x'``
    = constraint.x — the standard SQL spelling); the quotes come off
    before normalization or the stored key would never match."""
    k = _unquote_prop(raw)
    fam, dot, suffix = k.partition(".")
    if dot and fam.lower() in (
        "constraint",
        "generated",
        "notnull",
        "default",
        "identity",
    ):
        return f"{fam.lower()}.{suffix}"
    return k.lower()


def _split_assignments(s: str) -> list[tuple[str, str]]:
    """``a = expr, b = f(x, y)`` -> [(a, expr), (b, f(x, y))]."""
    out = []
    for p in _split_top_commas(s):
        col, eq, expr = p.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise ValueError(f"malformed SET assignment: {p.strip()!r}")
        out.append((col.strip(), expr.strip()))
    return out


def _parse_expression(spark, text):
    """``text`` parsed by Spark's own expression parser (an unresolved
    Catalyst tree), or None when it does not parse."""
    from pyspark.errors import ParseException

    try:
        return (
            spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(text)
        )
    except ParseException:
        return None


def _name_folder(spark):
    if spark.conf.get("spark.sql.caseSensitive") == "true":
        return str
    return str.lower


def _column_parts(node) -> list[str] | None:
    """The name parts of a parsed column reference, else None."""
    if node is None or node.getClass().getSimpleName() != "UnresolvedAttribute":
        return None
    parts = node.nameParts()
    return [parts.apply(i) for i in range(parts.size())]


def _on_equalities(spark, on_sql, ta, sa, target_schema, source_schema):
    """``(pairs, whole)``: the top-level ``ON`` conjuncts ``ta.c = sa.d``
    (either side first) whose two columns have the same atomic type, as
    ``(c, d)`` field names in statement order, and whether the whole
    condition is exactly one such conjunct.

    The condition is read with Spark's own expression parser, so
    quoting and parentheses need no handling here; alias and column
    names fold per ``spark.sql.caseSensitive``."""
    from pyspark.sql.types import AtomicType, VariantType

    cond = _parse_expression(spark, on_sql)
    if cond is None:
        return [], False  # the pair-join guard reports it
    fold = _name_folder(spark)

    def column(node, alias, schema):
        parts = _column_parts(node)
        if parts is None or len(parts) != 2 or fold(parts[0]) != fold(alias):
            return None
        hits = [f for f in schema.fields if fold(f.name) == fold(parts[1])]
        return hits[0] if len(hits) == 1 else None

    pairs = []
    todo = [cond]
    while todo:
        node = todo.pop()
        op = node.getClass().getSimpleName()
        if op == "And":
            todo += [node.right(), node.left()]
        elif op == "EqualTo":
            lhs, rhs = node.left(), node.right()
            for a, b in ((lhs, rhs), (rhs, lhs)):
                c = column(a, ta, target_schema)
                d = column(b, sa, source_schema)
                if (
                    c is not None
                    and d is not None
                    and c.dataType == d.dataType
                    and isinstance(d.dataType, AtomicType)
                    and not isinstance(d.dataType, VariantType)
                ):
                    pairs.append((c.name, d.name))
                    break
    whole = len(pairs) == 1 and cond.getClass().getSimpleName() == "EqualTo"
    return pairs, whole


def _equi_source_column(spark, on_sql, ta, sa, target_schema, source_schema):
    """The source column ``d`` of the first top-level ``ON`` conjunct
    ``ta.c = sa.d`` whose two columns have the same atomic type, or None
    when the condition has no such conjunct (``_on_equalities``).

    With such a conjunct a target row can match two source rows only if
    two non-NULL source rows share ``d``: equality of one type is
    transitive, and NULL equals nothing."""
    pairs, _ = _on_equalities(
        spark, on_sql, ta, sa, target_schema, source_schema
    )
    return pairs[0][1] if pairs else None


def _one_join_applies(
    spark, on_sql, ta, sa, key, target_schema, source_schema,
    matched_clauses, insert_clauses,
) -> bool:
    """Whether a MERGE can run as one target/source join
    (``LakehouseSqlCatalog._merge_one_join``), read from the parsed
    statement alone:

    - ``ON`` is exactly ``ta.<merge key> = sa.d`` over one atomic type,
      so a source row matches no target row iff its ``d`` is NULL or no
      target row carries that key;
    - every INSERT sets the key from ``sa.d`` (``INSERT *`` when ``d``
      is the key's name), so an inserted row never collides with a
      target key and the branch plan's upsert-by-key equals SQL's
      insert;
    - at least one WHEN MATCHED clause, so the multiple-match guard
      runs and no target row meets two source rows in the join."""
    if not matched_clauses:
        return False
    pairs, whole = _on_equalities(
        spark, on_sql, ta, sa, target_schema, source_schema
    )
    fold = _name_folder(spark)
    if not whole or fold(pairs[0][0]) != fold(key):
        return False
    d = fold(pairs[0][1])
    for _cond, spec in insert_clauses:
        if spec == "*":
            if d != fold(key):
                return False
            continue
        exprs = [e for c, e in spec if c == key]
        parts = _column_parts(
            _parse_expression(spark, exprs[0]) if exprs else None
        )
        if parts is None or [fold(p) for p in parts] not in (
            [fold(sa), d],
            [d],
        ):
            return False
    return True


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _one_join_sql(
    tv, sv, ta, sa, on_sql, t_cols, s_cols, out_cols,
    matched, by_source, inserts,
) -> str:
    """The SQL of a one-join MERGE: ``target FULL OUTER JOIN source``,
    one output row per joined row with the columns ``out_cols`` and
    ``__act``, the index of the row's first applicable clause in
    ``matched + by_source + inserts`` order (each a ``(condition,
    action)`` pair as ``_merge_body`` parses them), -1 for a target row
    no clause changes, -2 for a source row no INSERT takes.

    Each clause group's conditions and expressions resolve in the scope
    the branch plan gives them, one nested SELECT each, and each is
    evaluated only on rows of its group:

    1. the join (both aliases): matched conditions choose ``__mc`` and
       matched SET values are projected. Target columns then travel as
       ``__t<i>`` and source columns under their own names;
    2. ``(1) AS <source alias>``, where only source columns are
       visible: insert conditions choose ``__ic`` and insert values are
       projected. Target columns are renamed back last, so no
       expression can see them;
    3. ``(2) AS <target alias>``, where only target columns are
       visible: by-source conditions choose ``__bc``, by-source SET
       values are projected, and each output column takes the value of
       the row's clause or else its target value.

    ``__tp`` and ``__sp`` mark the side a joined row has. Later select
    items read earlier ones by name (Spark's lateral column alias)."""
    q = _quote
    n_m, n_b = len(matched), len(by_source)
    groups = (
        (matched, 0, "__mc", "__m"),
        (by_source, n_m, "__bc", "__b"),
        (inserts, n_m + n_b, "__ic", "__i"),
    )

    def choose(clauses, base, none):
        whens = " ".join(
            f"WHEN ({cond or 'TRUE'}) THEN {base + i}"
            for i, (cond, _x) in enumerate(clauses)
        )
        return f"CASE {whens} ELSE {none} END" if whens else str(none)

    def sets_of(spec):
        if spec is None:
            return {}
        if spec == "*":
            return {c: f"{sa}.{q(c)}" for c in s_cols}
        return dict(spec)

    def values(clauses, base, idx, prefix):
        """``prefix<n>``: output column n's value under the group's
        clause that sets it (NULL otherwise), and the clause ids per
        output column."""
        items, ids = [], {}
        for n, c in enumerate(out_cols):
            sets = [
                (base + i, sets_of(x)[c])
                for i, (_cond, x) in enumerate(clauses)
                if c in sets_of(x)
            ]
            if sets:
                whens = " ".join(f"WHEN {i} THEN ({e})" for i, e in sets)
                items.append(f"CASE {idx} {whens} END AS {prefix}{n}")
                ids[n] = [str(i) for i, _e in sets]
        return items, ids

    m_items, m_ids = values(*groups[0])
    b_items, b_ids = values(*groups[1])
    i_items, i_ids = values(*groups[2])
    t_names = [f"__t{i}" for i in range(len(t_cols))]
    level1 = ", ".join(
        [f"{ta}.{q(c)} AS {t}" for c, t in zip(t_cols, t_names)]
        + [f"{sa}.{q(c)} AS {q(c)}" for c in s_cols]
        + [
            f"{ta}.__tp AS __tp",
            f"{sa}.__sp AS __sp",
            f"CASE WHEN {ta}.__tp AND {sa}.__sp THEN "
            f"{choose(matched, 0, -1)} END AS __mc",
        ]
        + m_items
    )
    level2 = ", ".join(
        ["__tp", "__sp", "__mc"]
        + [f"__m{n}" for n in m_ids]
        + [
            "CASE WHEN __sp AND __tp IS NULL THEN "
            f"{choose(inserts, n_m + n_b, -2)} END AS __ic"
        ]
        + i_items
        + [f"{t} AS {q(c)}" for c, t in zip(t_cols, t_names)]
    )
    finals = []
    for n, c in enumerate(out_cols):
        whens = [
            f"WHEN {idx} IN ({', '.join(ids[n])}) THEN {prefix}{n}"
            for (_cl, _b, idx, prefix), ids in zip(
                groups, (m_ids, b_ids, i_ids)
            )
            if n in ids
        ]
        other = f"{ta}.{q(c)}" if c in t_cols else "NULL"
        finals.append(
            f"CASE {' '.join(whens)} ELSE {other} END AS {q(c)}"
            if whens
            else f"{other} AS {q(c)}"
        )
    level3 = ", ".join(
        [
            "CASE WHEN __tp AND __sp IS NULL THEN "
            f"{choose(by_source, n_m, -1)} END AS __bc"
        ]
        + b_items
        + ["coalesce(__mc, __bc, __ic) AS __act"]
        + finals
    )
    return (
        f"SELECT {level3} FROM ("
        f"SELECT {level2} FROM ("
        f"SELECT {level1} FROM "
        f"(SELECT *, TRUE AS __tp FROM {tv}) {ta} FULL OUTER JOIN "
        f"(SELECT *, TRUE AS __sp FROM {sv}) {sa} ON {on_sql}"
        f") {sa}) {ta}"
    )


class LakehouseSqlCatalog:
    """Session-scoped SQL namespace over CoW/MoR lakehouse tables."""

    def _df(self, data, schema=None):
        """Statement-result / seed frame from driver-held literal rows:
        single partition (operators.partitioning.local_rows) — the r18
        take-ramp/width fix; every frame built here is metadata-scale
        by construction (status rows, VALUES literals, empty seeds)."""
        from ..operators.partitioning import local_rows

        return local_rows(self.spark, data, schema)

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self._tables: dict[str, tuple[str, str, str | None]] = {}
        #: names registered with use_datasource=True: CoW reads resolve
        #: through the `lakehouse` Python DataSource instead of the
        #: native manifest-file-list parquet scan
        self._ds_tables: set[str] = set()
        #: warehouse root for the PERSISTENT catalog: name -> table
        #: entries live in `<warehouse>/_catalog/<N>.json` (OCC-claimed
        #: versions, same discipline as the commit log) and are
        #: auto-loaded here — a FRESH session discovers every table
        #: that any session CREATE'd or registered against the same
        #: warehouse, by name, with kind/key re-resolved from each
        #: table's own stored props when present (single source of
        #: truth; the catalog snapshot is the fallback for legacy
        #: tables without props)
        self._warehouse = warehouse
        #: persistent late-binding views: name -> SQL text (expanded at
        #: query time, so a view always reads the CURRENT table state)
        self._views: dict[str, str] = {}
        #: views currently being materialized (cycle guard)
        self._binding: set[str] = set()
        #: open SQL transaction (S47): `BEGIN TRANSACTION` sets it,
        #: DML statements stage into it, `COMMIT`/`ROLLBACK` clear it
        self._txn = None
        from ..sources.lakehouse_ds import register

        register(spark)
        if warehouse:
            for name, ent in sorted(self._catalog_entries().items()):
                if ent.get("kind") == "view":
                    self._views[name] = ent["sql"]
                    continue
                kind, key = ent.get("kind", "cow"), ent.get("key")
                try:
                    from ..sinks.manifest import CommitLog

                    props = CommitLog(ent["path"]).table_props()
                    if props.get("kind"):
                        kind = props["kind"]
                        key = props.get("merge_key")
                except OSError:
                    pass  # unreachable path: serve the snapshot entry
                self._tables[name] = (kind, ent["path"], key)

    # -- persistent catalog (warehouse `_catalog/` version chain) -----------

    def _catalog_dir(self) -> str:
        import os

        return os.path.join(self._warehouse, "_catalog")

    def _catalog_version(self) -> int:
        """Highest published catalog version: `_latest` hint + forward
        probe (the commit-log read protocol — no directory listing)."""
        import os

        cdir = self._catalog_dir()
        v = 0
        try:
            with open(os.path.join(cdir, "_latest")) as fh:
                v = max(0, int(fh.read().strip() or 0))
        except (FileNotFoundError, ValueError):
            pass
        while os.path.exists(os.path.join(cdir, f"{v + 1}.json")):
            v += 1
        return v

    def _catalog_entries(self) -> dict[str, dict]:
        import json
        import os

        # bounded-history race: a concurrent writer may retire the
        # version we just resolved — re-resolve and retry (the head
        # only advances, so this converges immediately)
        for _ in range(10):
            v = self._catalog_version()
            if v == 0:
                return {}
            try:
                with open(
                    os.path.join(self._catalog_dir(), f"{v}.json")
                ) as fh:
                    return json.load(fh)
            except FileNotFoundError:
                continue
        raise RuntimeError(
            f"catalog read lost the retirement race 10 times at "
            f"{self._catalog_dir()}"
        )

    def _catalog_update(self, name: str, ent: dict | None) -> None:
        """Publish a catalog version with ``name`` upserted (or removed
        when ``ent`` is None). OCC: the next version file is claimed
        with O_CREAT|O_EXCL — a lost race re-reads and retries, so
        concurrent sessions registering different tables cannot lose
        each other's entries (the lost-update a bare read-modify-write
        of one JSON object would allow)."""
        import json
        import os

        if not self._warehouse:
            return
        cdir = self._catalog_dir()
        os.makedirs(cdir, exist_ok=True)
        for _ in range(50):
            v = self._catalog_version()
            entries = self._catalog_entries() if v else {}
            if ent is None:
                entries.pop(name, None)
            else:
                entries[name] = ent
            # ATOMIC publish: full content lands in a hidden tmp
            # first, then os.link claims the version name (fails if it
            # exists — one winner) — a reader can never open an empty
            # or half-written head, and a writer dying mid-dump leaves
            # only an orphaned tmp, never a truncated version
            tmp_claim = os.path.join(
                cdir, f".claim.{os.getpid()}.{v + 1}"
            )
            with open(tmp_claim, "w") as fh:
                json.dump(entries, fh, indent=1)
            try:
                os.link(tmp_claim, os.path.join(cdir, f"{v + 1}.json"))
            except FileExistsError:
                os.remove(tmp_claim)
                continue  # lost the claim race: re-read, retry
            os.remove(tmp_claim)
            tmp = os.path.join(cdir, f"._latest.{os.getpid()}.{v + 1}")
            with open(tmp, "w") as fh:
                fh.write(str(v + 1))
            os.replace(tmp, os.path.join(cdir, "_latest"))
            # bounded history: retire versions far below the head (a
            # reader never walks backwards, so only the head matters)
            old = v - 8
            if old >= 1:
                try:
                    os.remove(os.path.join(cdir, f"{old}.json"))
                except FileNotFoundError:
                    pass
            return
        raise RuntimeError(
            f"catalog update lost the version race 50 times at {cdir}"
        )

    def transaction(self, coordinator: str | None = None):
        """A multi-table transaction (S45) against this catalog's
        warehouse: ``txn = cat.transaction(); txn.stage_append(path,
        df) / txn.stage_mor_upsert(...); txn.commit()`` — registered
        NAMES resolve via :meth:`table_path`. The coordinator defaults
        to ``<warehouse>/_txn`` (requires a warehouse unless given
        explicitly)."""
        if coordinator is None:
            if not self._warehouse:
                raise ValueError(
                    "transaction() needs a warehouse-backed catalog "
                    "or an explicit coordinator path"
                )
            import os

            coordinator = os.path.join(self._warehouse, "_txn")
        from ..sinks.txn import LakehouseTransaction

        return LakehouseTransaction(coordinator)

    def table_path(self, name: str) -> str:
        """The registered table's root path (for engine-API calls like
        transaction staging)."""
        return self._require(name)[1]

    def _persist(self, name: str) -> None:
        if not self._warehouse:
            return
        kind, path, key = self._tables[name]
        self._catalog_update(
            name, {"kind": kind, "path": path, "key": key}
        )

    def register_cow(
        self,
        name: str,
        path: str,
        key: str | None = None,
        use_datasource: bool = False,
    ) -> None:
        """``key`` is required only for DML (UPDATE/DELETE route through
        the keyed MERGE); read-only registrations can omit it.

        Reads default to the NATIVE path: the commit manifest resolves
        the version's file list driver-side and Spark scans those
        parquet files directly — JVM vectorized scan, whole-stage
        codegen, real column pruning and parquet row-group pushdown,
        and correct semantics when one view is referenced several times
        in a query. ``use_datasource=True`` keeps the `lakehouse`
        Python-DataSource relation instead (the V2 provider surface);
        its planner-side manifest file skipping is only enabled on
        explicitly single-referenced loads (see
        `sources/lakehouse_ds.py` — Spark 4.1 collapses co-occurring
        scans of one Python-DS relation, so per-occurrence pruning is
        unsound), and every column crosses the Arrow-Python boundary —
        the compat path, not the throughput path."""
        self._tables[name] = ("cow", path, key)
        if use_datasource:
            self._ds_tables.add(name)
        else:
            self._ds_tables.discard(name)
        self._persist(name)

    def register_mor(self, name: str, path: str, key: str) -> None:
        self._tables[name] = ("mor", path, key)
        self._persist(name)

    def register_path(self, name: str, path: str) -> None:
        """Register a table from its PATH alone: kind and merge key come
        from the table's own stored properties (``_manifest/_table.json``,
        written at creation by ``CREATE TABLE`` / ``MergeSink.init`` /
        ``MorTable.init``) — no caller re-supplied metadata. Raises for
        tables created before the props layer (register explicitly)."""
        from ..sinks.manifest import CommitLog

        props = CommitLog(path).table_props()
        if not props or "kind" not in props:
            raise ValueError(
                f"{path} has no stored table properties (created before "
                "the props layer?): use register_cow/register_mor"
            )
        self._tables[name] = (
            props["kind"],
            path,
            props.get("merge_key"),
        )
        self._persist(name)

    def _empty_frame(self, path: str) -> DataFrame | None:
        """Empty DataFrame with the DDL-declared schema for a created
        table that has no commits yet; None when the table has commits
        (or no stored schema to serve)."""
        from ..sinks.manifest import CommitLog

        log = CommitLog(path)
        if log.current_version() > 0:
            return None
        ddl = log.table_props().get("schema_ddl")
        if ddl is None:
            return None
        from pyspark.sql.types import StructType

        return self._df([], StructType.fromDDL(ddl))

    def _rewrite_pruned_scans(
        self, statement: str
    ) -> tuple[str, list[str]]:
        """Manifest file skipping for DEFAULT SQL reads (S35), per
        OCCURRENCE: for every FROM/JOIN occurrence of a registered
        native-CoW table whose own query block carries extractable
        WHERE conjuncts (plans/prune_sql.py), register a uniquely-named
        temp view over the PRUNED file list and rewrite the occurrence
        to it (adding the table name as alias when the occurrence had
        none, so ``t.col`` qualifiers keep resolving). The plain view
        keeps the FULL list — pruning never leaks outside this
        statement, and two occurrences with different predicates prune
        independently (each view is its own relation — contrast the
        pinned Spark 4.1 Python-DS scan collapse). Occurrences whose
        prune list skips zero files are left on the plain view.
        Returns (rewritten statement, scan views to drop after
        analysis). At 100 TB this is scan planning over the
        envelope-surviving handful of files instead of every file of a
        commit — per scan, before Spark sees the query."""
        views: list[str] = []
        try:
            return self._rewrite_pruned_scans_inner(statement, views)
        except BaseException:
            # a mid-loop raise (e.g. another table's manifest retired
            # under us) must not leak already-registered scan views —
            # the same bug class the MERGE scaffolding finally fixes
            for v in views:
                self.spark.catalog.dropTempView(v)
            raise

    def _rewrite_pruned_scans_inner(
        self, statement: str, views: list[str]
    ) -> tuple[str, list[str]]:
        import uuid as _uuid

        from ..sinks.manifest import CommitLog
        from ..sinks.merge import MergeSink

        from .prune_sql import extract_scan_prunes

        for name, (kind, path, key) in self._tables.items():
            if kind != "cow" or name in self._ds_tables:
                continue
            if re.search(rf"\b{re.escape(name)}\b", statement) is None:
                continue
            log = CommitLog(path)
            v = log.visible_version()  # never plan over a pending head
            if v <= 0:
                continue
            cols: set[str] = set()
            for ent in log.manifest(v)["files"]:
                cols.update(ent.get("columns", {}))
            if not cols:
                continue
            # column mapping (S46): predicates arrive under LOGICAL
            # names; stats of pre-rename files live under the old
            # physical names. Extraction must see the logical name even
            # when only old files exist, and each logical conjunct also
            # prunes under its prior names (sound both ways: files
            # without stats for a name are never skipped).
            from ..sinks.colmap import (
                column_events,
                prior_physical_names,
            )

            tprops = log.table_props()
            for e in column_events(tprops):
                if e["op"] == "rename" and e["old"] in cols:
                    cols.add(e["new"])
            occs = extract_scan_prunes(statement, name, cols)
            sink = MergeSink(path, key=key or "_")
            for occ in sorted(occs, key=lambda o: o.start, reverse=True):
                if not occ.prunes:
                    continue
                prunes = list(occ.prunes)
                for c, lo, hi in occ.prunes:
                    for oldn in prior_physical_names(tprops, c):
                        prunes.append((oldn, lo, hi))
                df, _scanned, skipped = sink.read_where(
                    self.spark, prunes, version=v
                )
                if skipped == 0:
                    continue  # nothing pruned: the plain view serves it
                df = self._overlay_ddl(df, path)
                view = f"{name}__scan_{_uuid.uuid4().hex[:8]}"
                df.createOrReplaceTempView(view)
                views.append(view)
                repl = view if occ.alias else f"{view} {name}"
                statement = (
                    statement[: occ.start] + repl + statement[occ.end :]
                )
        return statement, views

    def _has_declared_schema(self, path: str) -> bool:
        from ..sinks.manifest import CommitLog

        return bool(CommitLog(path).table_props().get("schema_ddl"))

    def _overlay_ddl(
        self, df: DataFrame, path: str, version: int | None = None
    ) -> DataFrame:
        """Serve ALTER-declared columns the data files don't carry yet:
        the stored ``schema_ddl`` is the table's DECLARED schema; any
        declared column absent from the physical scan is appended as a
        typed NULL (the Delta metadata-evolution read shape — old files
        never rewritten). Additive only: physical columns beyond the
        DDL (MERGE WITH SCHEMA EVOLUTION) always survive. A TIME-TRAVEL
        read (``version``) never overlays a name introduced by a RENAME
        event ABOVE that version — old snapshots keep their original
        column set (sinks/colmap.py)."""
        from ..sinks.manifest import CommitLog

        props = CommitLog(path).table_props()
        ddl = props.get("schema_ddl")
        if not ddl:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        later_names: set[str] = set()
        if version is not None:
            from ..sinks.colmap import column_events

            later_names = {
                e["new"].lower()
                for e in column_events(props)
                if e["op"] == "rename"
                and int(e.get("since", 0)) > version
            }
        have = {c.lower() for c in df.columns}
        missing = [
            f
            for f in StructType.fromDDL(ddl).fields
            if f.name.lower() not in have
            and f.name.lower() not in later_names
        ]
        if missing:
            df = df.select(
                "*",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in missing
                ],
            )
        # serve the DECLARED order (extras from evolution append last):
        # positional INSERT binding and SELECT * follow the declaration,
        # not the scan's partition-columns-last order
        have2 = {c.lower(): c for c in df.columns}
        decl = [
            have2[f.name.lower()]
            for f in StructType.fromDDL(ddl).fields
            if f.name.lower() in have2
        ]
        sel = decl + [c for c in df.columns if c not in decl]
        if sel != list(df.columns):
            df = df.select(*sel)
        return df

    def _frame(self, name: str, version: int | None) -> DataFrame:
        kind, path, key = self._tables[name]
        if version is None:
            empty = self._empty_frame(path)
            if empty is not None:
                return empty
        if kind == "cow":
            from ..sinks.colmap import column_events
            from ..sinks.manifest import CommitLog as _CL46

            mapped = name in self._ds_tables and column_events(
                _CL46(path).table_props()
            )
            if name not in self._ds_tables or mapped:
                # native path (default): manifest file list -> direct
                # parquet scan (see register_cow docstring). Column-
                # mapped tables (S46 RENAME/DROP COLUMN) read native
                # even when registered use_datasource: the per-file
                # Arrow reader serves a FIXED read schema, so an old
                # file's pre-rename column would NULL-fill instead of
                # carrying its values — same data, different plan.
                from ..sinks.merge import MergeSink

                sink = MergeSink(path, key=key or "_")
                return self._overlay_ddl(
                    sink.read(self.spark)
                    if version is None
                    else sink.read_version(self.spark, version),
                    path,
                    version,
                )
            r = self.spark.read.format("lakehouse").option("path", path)
            if version is not None:
                r = r.option("version", str(version))
            # read-your-own-writes fence: the DataSource resolves the
            # version in a SEPARATE Python worker process — pass the
            # highest version THIS process witnessed committed so a
            # lagging filesystem view retries (then raises with
            # diagnostics) instead of silently serving a stale snapshot
            from ..sinks.manifest import committed_floor as _floor46

            fl = _floor46(path)
            if fl > 0:
                r = r.option("min_version", str(fl))
            # resolve the schema DRIVER-side (one manifest + one parquet
            # footer) and pass it explicitly: without it Spark spins up
            # a Python worker just to call DataSource.schema() on every
            # load — a whole process round trip for one footer read
            return self._overlay_ddl(
                r.schema(self._cow_schema(path, version)).load(),
                path,
                version,
            )
        from ..sinks.mor import MorTable

        return self._overlay_ddl(
            MorTable(path, key=key).read(self.spark, as_of=version),
            path,
            version,
        )

    def _cow_schema(self, path: str, version: int | None):
        from ..sources.lakehouse_ds import cow_read_schema

        return cow_read_schema(path, version)

    def _ensure_view(self, name: str, version: int | None) -> str:
        view = name if version is None else f"{name}__asof_{version}"
        self._frame(name, version).createOrReplaceTempView(view)
        return view

    def sql(self, query: str) -> DataFrame:
        """Run SQL against the registered tables.

        Reads: any Spark SQL, with ``<table> VERSION AS OF n`` or
        ``<table> TIMESTAMP AS OF '<epoch-ms|ISO>'`` after a registered
        name time-traveling that reference. DDL/metadata: ``CREATE
        TABLE ... USING lakehouse LOCATION ...``, ``SHOW TABLES``,
        ``DESCRIBE [TABLE] <t>``, ``DESCRIBE HISTORY <t>``. DML (one
        statement per call, each returning a one-row summary frame
        ``(operation, table, version)`` like the real formats' command
        metrics; ``MERGE [WITH SCHEMA EVOLUTION] INTO`` is documented
        on :meth:`_try_merge`):

        - ``INSERT INTO <t> <query|VALUES ...>`` — CoW: an append
          commit through the write surface (hardlink file reuse); MoR:
          a keyed upsert delta (INSERT into a keyed table IS upsert).
          The payload query itself goes back through :meth:`sql`, so it
          can read registered tables and time travel.
        - ``UPDATE <t> SET a = expr[, ...] [WHERE cond]`` — CoW: MERGE
          of the recomputed matched rows; MoR: an upsert delta of them.
        - ``DELETE FROM <t> [WHERE cond]`` — CoW: MERGE with key
          deletes; MoR: a POSITION-DELETE commit (``delete_where`` —
          the SQL face of the S24 deletion vectors).
        - ``VACUUM <t> [RETAIN n]`` / ``OPTIMIZE <t>`` — retention /
          compaction maintenance (OPTIMIZE on MoR = compact; on CoW it
          needs the table's standing cluster spec).

        UPDATE/DELETE on CoW need the table registered with its merge
        ``key``.
        """
        out = self._try_txn_ctl(query)
        if out is not None:
            return out
        if self._txn is not None:
            head = (query.strip().split(None, 1) or [""])[0].upper()
            if head in (
                "CREATE",
                "COPY",
                "VACUUM",
                "OPTIMIZE",
                "ALTER",
                "DROP",
                "TRUNCATE",
                "ANALYZE",
                "CONVERT",
                "RESTORE",
            ):
                raise ValueError(
                    f"{head} is not allowed inside BEGIN TRANSACTION "
                    "(transaction scope: INSERT / MERGE / UPDATE / "
                    "DELETE on CoW and MoR tables — the S45/S53 "
                    "append+keyed-delta contract; reads serve the "
                    "pre-transaction snapshot)"
                )
        for handler in (
            self._try_merge,
            self._try_copy,
            self._try_replace_where,
            self._try_insert,
            self._try_update,
            self._try_delete,
            self._try_vacuum,
            self._try_optimize,
            self._try_history,
            self._try_restore,
            self._try_clone,
            self._try_create_view,
            self._try_drop_view,
            self._try_show_views,
            self._try_show_create,
            self._try_truncate,
            self._try_ctas,
            self._try_create,
            self._try_alter,
            self._try_drop,
            self._try_convert,
            self._try_show_tables,
            self._try_detail,
            self._try_analyze_cols,
            self._try_analyze,
            self._try_describe,
        ):
            out = handler(query)
            if out is not None:
                return out
        return self._select(query)

    def _try_txn_ctl(self, query: str) -> DataFrame | None:
        """S47: the SQL spelling of multi-table transactions —
        ``BEGIN TRANSACTION; <INSERT/MoR-DML...>; COMMIT`` compiles to
        ONE S45 :class:`LakehouseTransaction`: every staged statement
        becomes an entry, COMMIT is the single atomic visibility flip
        (all tables at once, crash-healed roll-forward), ROLLBACK
        discards the stages. Statements inside the transaction read the
        PRE-transaction snapshot (staged data is invisible until
        COMMIT, including to the transaction's own reads — the S45
        staging contract). Scope: INSERT / MERGE / UPDATE / DELETE on
        CoW and MoR tables (S53: CoW DML stages its reduced keyed
        delta and applies under the claim at COMMIT); DDL and
        maintenance statements are refused, and one keyed-delta
        statement per table per transaction (a second one's evaluation
        could not see the first's staged effect)."""
        q = query.strip().rstrip(";").strip()
        if _HEAL_TXN_RE.match(q):
            # crash recovery from SQL: complete every prepared-but-
            # uncommitted transaction in this warehouse's coordinator
            # (roll-forward; single-healer contract — an operator
            # statement, not something sessions run concurrently)
            if not self._warehouse:
                raise ValueError(
                    "HEAL TRANSACTIONS needs a warehouse-backed catalog"
                )
            import os

            from ..sinks.txn import heal as _heal

            healed = _heal(os.path.join(self._warehouse, "_txn"))
            rows = [
                (txn_id, len(tables))
                for txn_id, tables in sorted(healed.items())
            ] or []
            return self._df(
                rows, "txn_id string, tables int"
            )
        if _BEGIN_TXN_RE.match(q):
            if self._txn is not None:
                raise ValueError(
                    "a transaction is already open (nested BEGIN "
                    "TRANSACTION is not supported)"
                )
            self._txn = self.transaction()  # warehouse-backed coordinator
            return self._df(
                [("begin_transaction", self._txn.id)],
                "operation string, txn_id string",
            )
        if _COMMIT_RE.match(q):
            if self._txn is None:
                raise ValueError("COMMIT without an open transaction")
            txn, self._txn = self._txn, None
            if not txn._entries:  # empty transaction: a no-op COMMIT
                txn.abort()
                published: dict[str, int] = {}
            else:
                published = txn.commit()
                from ..sinks.txn import gc as _txn_gc

                _txn_gc(txn.coord)
            return self._df(
                [
                    (
                        "commit",
                        txn.id,
                        len(published),
                    )
                ],
                "operation string, txn_id string, tables int",
            )
        if _ROLLBACK_RE.match(q):
            if self._txn is None:
                raise ValueError("ROLLBACK without an open transaction")
            txn, self._txn = self._txn, None
            txn.abort()
            return self._df(
                [("rollback", txn.id)], "operation string, txn_id string"
            )
        return None

    def _summary(self, op: str, name: str, version: int) -> DataFrame:
        return self._df(
            [(op, name, version)], "operation string, table string, version int"
        )

    def _current_version(self, name: str) -> int:
        from ..sinks.manifest import CommitLog

        return CommitLog(self._tables[name][1]).current_version()

    def _require(self, name: str) -> tuple[str, str, str | None]:
        if name not in self._tables:
            raise ValueError(f"unregistered lakehouse table {name!r}")
        return self._tables[name]

    def _require_key(self, name: str) -> str:
        key = self._require(name)[2]
        if key is None:
            raise ValueError(
                f"DML on {name!r} needs the merge key: register with "
                "register_cow(name, path, key=...)"
            )
        return key

    def _try_merge(self, query: str) -> DataFrame | None:
        """``MERGE [WITH SCHEMA EVOLUTION] INTO <t> [AS a] USING
        (<subquery>)|<view> [AS b] ON <cond> WHEN ...`` — the flagship
        lakehouse DML (the reference's whole Load phase,
        main.py:169-260, is this statement executed one browser form at
        a time). Clauses (each with an optional ``AND <cond>``):

        - ``WHEN MATCHED THEN UPDATE SET c = expr, ...`` (exprs may
          reference both aliases; at most one applies per row, first in
          statement order wins)
        - ``WHEN MATCHED THEN DELETE``
        - ``WHEN NOT MATCHED THEN INSERT *`` or
          ``INSERT (cols) VALUES (exprs)``
        - ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` or
          ``THEN UPDATE SET c = expr, ...`` (S28c — target columns
          only: there is no source row on that side)

        Routing: when ``ON`` is exactly ``t.<merge key> = s.d`` (one
        atomic type), every INSERT sets the key from ``s.d`` and at
        least one WHEN MATCHED clause exists, ONE ``target FULL OUTER
        JOIN source`` applies every clause (``_merge_one_join``): CoW
        commits the kept, updated and inserted rows as the new version
        through ``MergeSink.commit_state``, and MoR writes its data
        delta and tombstones from one pin of the changed rows. Any other
        statement takes the branch plan: one plan per clause group,
        applied as keyed upserts + deletes (CoW -> one
        ``MergeSink.merge`` commit, MoR -> one delta commit), so an
        unmatched source row whose inserted key already exists replaces
        that row. The choice reads the parsed statement only.
        ``WITH SCHEMA EVOLUTION`` opts into S22 semantics (a
        source-only column evolves the table; without it a schema
        mismatch raises).

        The source is evaluated ONCE: it is pinned with an eager
        ``localCheckpoint`` before anything reads it, and every later
        job (the guard, the join or each branch, the write jobs, a CoW
        OCC retry) reads those rows. The pin is released when the
        statement ends, whether it committed, staged or raised.

        The SQL-MERGE multiple-match precondition is enforced: a target
        row matching more than one source row raises instead of
        multiplying. The guard runs in two steps. When ``ON`` has a
        top-level conjunct ``t.c = s.d`` over two columns of the same
        atomic type, a check over the pinned source alone
        (non-NULL ``d`` values shared by two source rows) decides
        first; only if it finds such a value, or no such conjunct
        exists (casts, non-equi or equality-free conditions), does the
        pair join of target and source run to decide and report the
        offending key."""
        m = _MERGE_HEAD_RE.match(query)
        if m is None:
            return None
        # a persistent view as the USING source (or inside a subquery
        # source) resolves like any read: bind it as a temp view first
        self._bind_views(query)
        evo = m.group(1) is not None
        name, t_alias = m.group(2), m.group(3)
        kind, path, _ = self._require(name)
        key = self._require_key(name)
        rest = query[m.end() :]

        # -- source spec: (subquery) or view/table name, optional alias
        rest_l = rest.lstrip()
        offset = len(rest) - len(rest_l)
        if rest_l.startswith("("):
            depth, i = 0, 0
            in_str = False
            for i, ch in enumerate(rest_l):
                if in_str:
                    in_str = ch != "'"
                    continue
                if ch == "'":
                    in_str = True
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
            src_sql = rest_l[1:i]
            tail = rest_l[i + 1 :]
            src_name = None
        else:
            ms = re.match(r"([A-Za-z_]\w*)", rest_l)
            if ms is None:
                raise ValueError(f"MERGE: cannot parse USING source in {query!r}")
            src_name, src_sql = ms.group(1), None
            tail = rest_l[ms.end() :]
        tail_abs = query.index(tail, m.end() + offset)
        ma = re.match(r"\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*)", tail, re.IGNORECASE)
        s_alias = None
        if ma is not None:
            s_alias = ma.group(1)
            tail_abs += ma.end()

        # -- ON <cond> ... WHEN clauses (top-level scan: conditions and
        # subqueries may contain the same keywords nested)
        on_at = _scan_top_level(query, "ON", tail_abs)
        if on_at < 0:
            raise ValueError("MERGE requires an ON condition")
        first_when = _scan_top_level(query, "WHEN", on_at + 2)
        if first_when < 0:
            raise ValueError("MERGE requires at least one WHEN clause")
        on_sql = query[on_at + 2 : first_when].strip()
        clause_texts = []
        i = first_when
        while i >= 0:
            j = _scan_top_level(query, "WHEN", i + 4)
            clause_texts.append(query[i : j if j >= 0 else len(query)])
            i = j

        from pyspark.sql import functions as F

        ta = t_alias or name
        sa = s_alias or src_name or "src"
        if ta == sa:
            raise ValueError(f"MERGE: target and source share alias {ta!r}")
        target = self._frame(name, None)
        if src_sql is not None:
            source = self._select(src_sql)
        elif src_name in self._tables:
            source = self._frame(src_name, None)
        else:
            source = self.spark.table(src_name)
        # ONE evaluation of the source for the whole statement: the
        # guard, every branch and each write job (MoR writes data and
        # tombstones in two jobs; a CoW OCC retry recomputes) read the
        # pinned rows, so a nondeterministic source, or one that reads
        # the target itself, gives every branch the same rows
        source = source.localCheckpoint(eager=True)
        # Each branch (matched update/delete, insert, by-source delete)
        # is built as its OWN spark.sql plan over two temp views, then
        # unioned. Sharing DataFrame alias scopes / Column objects
        # across the branches instead is UNSOUND: when the same aliased
        # frames and the same parsed ON-condition object appear in
        # several joins of one union plan, Catalyst's relation
        # deduplication can remap the attribute ids of one branch's
        # condition to the other's, silently emptying it (observed:
        # a matched-DELETE branch returning 0 keys once unioned with
        # the by-source anti-join). SQL-text plans re-resolve per
        # subquery, which is the well-trodden path.
        import uuid as _uuid

        tag = _uuid.uuid4().hex[:8]
        tv, sv = f"__merge_tgt_{tag}", f"__merge_src_{tag}"
        target.createOrReplaceTempView(tv)
        source.createOrReplaceTempView(sv)
        try:
            return self._merge_body(
                query, name, kind, path, key, evo, tv, sv, ta, sa,
                on_sql, clause_texts, target, source,
            )
        finally:
            # ALWAYS drop the scaffolding views — a parse/validation
            # ValueError below used to leak two uniquely-named views
            # into the shared session per failed MERGE — and the pinned
            # source (a txn-staged delta is already written by now)
            for view in (tv, sv):
                self.spark.catalog.dropTempView(view)
            release_checkpoint(source)

    def _merge_body(
        self, query, name, kind, path, key, evo, tv, sv, ta, sa,
        on_sql, clause_texts, target, source,
    ) -> DataFrame:
        from pyspark.sql import functions as F

        pair = f"{tv} {ta} JOIN {sv} {sa} ON {on_sql}"
        t_only = (
            f"{tv} {ta} WHERE NOT EXISTS "
            f"(SELECT 1 FROM {sv} {sa} WHERE {on_sql})"
        )
        s_only = (
            f"{sv} {sa} WHERE NOT EXISTS "
            f"(SELECT 1 FROM {tv} {ta} WHERE {on_sql})"
        )

        # -- parse clauses into (matched, not_matched, by_source) groups
        matched_clauses: list[tuple[str | None, dict | None]] = []
        insert_clauses: list[tuple[str | None, object]] = []
        # (cond, sets) — sets None for DELETE, assignment map for UPDATE
        by_source_clauses: list[tuple[str | None, dict | None]] = []
        for text in clause_texts:
            mm = _NOT_BY_SOURCE_RE.match(text)
            if mm is not None:
                if mm.group(2) is not None:  # DELETE
                    by_source_clauses.append((mm.group(1), None))
                else:  # UPDATE SET — target columns only (no source row)
                    sets = {}
                    for col, expr in _split_assignments(mm.group(3)):
                        c = col
                        if c.lower().startswith(ta.lower() + "."):
                            c = c[len(ta) + 1 :]
                        if c == key:
                            raise ValueError(
                                f"MERGE: UPDATE of the merge key {key!r} "
                                "is not supported (delete + insert instead)"
                            )
                        sets[c] = expr
                    by_source_clauses.append((mm.group(1), sets))
                continue
            mm = _NOT_MATCHED_RE.match(text)
            if mm is not None:
                spec = mm.group(2).strip()
                if spec == "*":
                    insert_clauses.append((mm.group(1), "*"))
                else:
                    mi = _INSERT_COLS_RE.match(spec)
                    if mi is None:
                        raise ValueError(
                            f"MERGE: cannot parse INSERT spec {spec!r}"
                        )
                    cols = [c.strip() for c in mi.group(1).split(",")]
                    exprs = [
                        e.strip() for e in _split_top_commas(mi.group(2))
                    ]
                    if len(cols) != len(exprs):
                        raise ValueError(
                            f"MERGE INSERT: {len(cols)} columns vs "
                            f"{len(exprs)} VALUES"
                        )
                    insert_clauses.append((mm.group(1), list(zip(cols, exprs))))
                continue
            mm = _MATCHED_RE.match(text)
            if mm is not None:
                if mm.group(3) is not None:  # DELETE
                    matched_clauses.append((mm.group(1), None))
                else:
                    sets = {}
                    for col, expr in _split_assignments(mm.group(2)):
                        c = col
                        if c.lower().startswith(ta.lower() + "."):
                            c = c[len(ta) + 1 :]
                        if c == key:
                            raise ValueError(
                                f"MERGE: UPDATE of the merge key {key!r} "
                                "is not supported (delete + insert instead)"
                            )
                        sets[c] = expr
                    matched_clauses.append((mm.group(1), sets))
                continue
            raise ValueError(f"MERGE: cannot parse clause {text.strip()!r}")

        # -- matched pairs + the SQL-MERGE multiple-match guard: a
        # source-only duplicate check on an equi-join column first; the
        # pair join runs only when that check cannot rule a match out
        if matched_clauses:
            d = _equi_source_column(
                self.spark, on_sql, ta, sa, target.schema, source.schema
            )
            if d is not None:
                d = "`" + d.replace("`", "``") + "`"
            if d is None or self.spark.sql(
                f"SELECT 1 FROM {sv} WHERE {d} IS NOT NULL "
                f"GROUP BY {d} HAVING count(*) > 1 LIMIT 1"
            ).collect():
                dup = self.spark.sql(
                    f"SELECT {ta}.{key} AS k FROM {pair} "
                    f"GROUP BY {ta}.{key} HAVING count(*) > 1 LIMIT 1"
                ).collect()
                if dup:
                    raise ValueError(
                        f"MERGE: target row {key}={dup[0][0]!r} matches "
                        "multiple source rows (dedup the source first)"
                    )

        if _one_join_applies(
            self.spark, on_sql, ta, sa, key, target.schema, source.schema,
            matched_clauses, insert_clauses,
        ):
            return self._merge_one_join(
                name, kind, path, key, evo, tv, sv, ta, sa, on_sql,
                target, source, matched_clauses, by_source_clauses,
                insert_clauses,
            )

        # -- the branch plan (statements outside the one-join shape):
        # one plan per clause group, applied as keyed upserts + deletes
        # first-applicable-clause semantics for multiple WHEN MATCHED
        updates = None
        delete_keys = None
        prior_sql = "FALSE"
        out_cols = list(target.columns)
        for _c_cond, sets in matched_clauses + by_source_clauses:
            if sets:
                for c in sets:
                    if c not in out_cols:
                        out_cols.append(c)  # evolution: SET of a new col
        for c_cond, sets in matched_clauses:
            cc = c_cond or "TRUE"
            eff = f"({cc}) AND NOT ({prior_sql})"
            prior_sql = f"({prior_sql}) OR ({cc})"
            if sets is None:  # DELETE
                keys = self.spark.sql(
                    f"SELECT {ta}.{key} AS {key} FROM {pair} WHERE {eff}"
                )
                delete_keys = (
                    keys if delete_keys is None else delete_keys.unionAll(keys)
                )
                continue
            proj = ", ".join(
                f"({sets[c]}) AS {c}"
                if c in sets
                else (
                    f"{ta}.{c} AS {c}"
                    if c in target.columns
                    else f"NULL AS {c}"
                )
                for c in out_cols
            )
            upd = self.spark.sql(f"SELECT {proj} FROM {pair} WHERE {eff}")
            updates = upd if updates is None else updates.unionByName(upd)

        # -- inserts: source rows with no matching target row
        inserts = None
        for c_cond, spec in insert_clauses:
            where = f" AND ({c_cond})" if c_cond else ""
            if spec == "*":
                ins = self.spark.sql(
                    f"SELECT {sa}.* FROM {s_only}{where}"
                )
            else:
                cols = [c for c, _e in spec]
                if key not in cols:
                    raise ValueError(
                        f"MERGE INSERT must set the merge key {key!r}"
                    )
                proj = ", ".join(f"({e}) AS {c}" for c, e in spec)
                ins = self.spark.sql(
                    f"SELECT {proj} FROM {s_only}{where}"
                ).select(
                    "*",
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in target.schema.fields
                        if f.name not in cols
                    ],
                )
            inserts = ins if inserts is None else inserts.unionByName(
                ins, allowMissingColumns=True
            )

        # -- WHEN NOT MATCHED BY SOURCE THEN DELETE / UPDATE SET
        # (first-match-wins across multiple by-source clauses, same as
        # the matched group; UPDATE exprs see target columns only — no
        # source row exists by definition, a source reference fails
        # analysis loudly)
        bs_prior = "FALSE"
        for c_cond, sets in by_source_clauses:
            cc = c_cond or "TRUE"
            eff = f"({cc}) AND NOT ({bs_prior})"
            bs_prior = f"({bs_prior}) OR ({cc})"
            if sets is None:  # DELETE
                keys = self.spark.sql(
                    f"SELECT {ta}.{key} AS {key} FROM {t_only} AND {eff}"
                )
                delete_keys = (
                    keys if delete_keys is None else delete_keys.unionAll(keys)
                )
                continue
            proj = ", ".join(
                f"({sets[c]}) AS {c}"
                if c in sets
                else (
                    f"{ta}.{c} AS {c}"
                    if c in target.columns
                    else f"NULL AS {c}"
                )
                for c in out_cols
            )
            upd = self.spark.sql(
                f"SELECT {proj} FROM {t_only} AND {eff}"
            )
            updates = upd if updates is None else updates.unionByName(
                upd, allowMissingColumns=True
            )

        upserts = updates
        if inserts is not None:
            upserts = (
                inserts
                if upserts is None
                else upserts.unionByName(inserts, allowMissingColumns=True)
            )
        if upserts is not None:
            pad = [
                f
                for f in target.schema.fields
                if f.name not in upserts.columns
            ]
            if pad:
                # target-only columns (e.g. ALTER-declared after the
                # source pipeline was written): new/updated rows take
                # typed NULLs — matched UPDATE branches already project
                # every target column, so this reaches INSERT-only paths
                upserts = upserts.select(
                    "*",
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in pad
                    ],
                )
        if upserts is not None:
            evo = self._merge_evolution(
                path, upserts.columns, target.columns, evo
            )

        from ..sinks.merge import _versions as _committed_versions

        empty_target = not _committed_versions(path)
        if self._txn is not None:
            # S53: MERGE inside BEGIN TRANSACTION — stage the reduced
            # keyed delta (upsert rows + delete keys); it applies at
            # COMMIT through the publish-time OCC loop, atomically with
            # every other staged statement
            if empty_target:
                raise ValueError(
                    "MERGE into an empty DDL-created table inside "
                    "BEGIN TRANSACTION is not supported (the first "
                    "commit is an init) — INSERT INTO it instead"
                )
            if kind == "cow":
                self._txn.stage_cow_delta(
                    path,
                    source=upserts,
                    deletes=delete_keys,
                    allow_evolution=evo,
                )
            else:
                self._txn.stage_mor_upsert(
                    path, source=upserts, deletes=delete_keys
                )
            return self._summary(
                "merge_staged", name, self._current_version(name)
            )
        if kind == "cow":
            from ..sinks.merge import MergeSink

            sink = MergeSink(path, key=key)
            if empty_target:
                # DDL-created table, first commit: everything is an
                # insert (matched/by-source sets are empty by definition)
                sink.init(
                    upserts
                    if upserts is not None
                    else self._df([], target.schema)
                )
            else:
                sink.merge(
                    self.spark,
                    upserts
                    if upserts is not None
                    else self._df([], target.schema),
                    deletes=delete_keys,
                    allow_evolution=evo,
                )
                if evo and upserts is not None:
                    self._declare_columns(path, upserts.schema.fields)
        else:
            from ..sinks.mor import MorTable

            t = MorTable(path, key=key)
            if empty_target:
                t.init(
                    upserts
                    if upserts is not None
                    else self._df([], target.schema)
                )
            else:
                t.merge(self.spark, source=upserts, deletes=delete_keys)
        return self._summary("merge", name, self._current_version(name))

    def _merge_one_join(
        self, name, kind, path, key, evo, tv, sv, ta, sa, on_sql,
        target, source, matched, by_source, inserts,
    ) -> DataFrame:
        """Apply a MERGE through ONE ``target FULL OUTER JOIN source``
        (the shape ``_one_join_applies`` admits). Each joined row is
        tagged with its first applicable clause — matched clauses in
        statement order, then by-source clauses, then insert clauses —
        or kept (-1) or dropped (-2), and its new values are projected
        in the same pass (``_one_join_sql``).

        CoW: the rows kept, updated or inserted ARE the new version,
        committed through ``MergeSink.commit_state`` (identity, CDF,
        constraints, OCC); a lost claim rebuilds the join against the
        winner's version. MoR (and any MERGE inside a transaction): the
        changed rows are pinned once, and the data delta and the key
        tombstones are both written from that pin, so the target is
        read once."""
        from pyspark.sql import functions as F

        from ..sinks.merge import MergeSink, _versions
        from ..sinks.mor import MorTable

        out_cols = list(target.columns)
        for _cond, sets in matched + by_source:
            out_cols += [c for c in sets or () if c not in out_cols]
        for _cond, spec in inserts:
            cols = source.columns if spec == "*" else [c for c, _e in spec]
            out_cols += [c for c in cols if c not in out_cols]
        clauses = matched + by_source + inserts
        upsert_ids = [i for i, (_c, x) in enumerate(clauses) if x is not None]
        delete_ids = [i for i, (_c, x) in enumerate(clauses) if x is None]
        if upsert_ids:
            evo = self._merge_evolution(path, out_cols, target.columns, evo)

        def joined(tgt: DataFrame) -> tuple[DataFrame, list]:
            """The join over ``tgt`` and the columns it projects: ``tgt``'s
            own (a retry's base may carry a column a concurrent
            evolution added) and then the statement's new ones."""
            cols = tgt.columns + [c for c in out_cols if c not in tgt.columns]
            tgt.createOrReplaceTempView(tv)
            return self.spark.sql(
                _one_join_sql(
                    tv, sv, ta, sa, on_sql, tgt.columns, source.columns,
                    cols, matched, by_source, inserts,
                )
            ), [F.col(_quote(c)) for c in cols]

        act = F.col("__act")
        empty_target = not _versions(path)
        if kind == "cow" and self._txn is None and not empty_target:
            committed = {}

            def build(base: DataFrame, _props: dict) -> DataFrame:
                j, cols = joined(self._overlay_ddl(base, path))
                state = j.where((act == -1) | act.isin(upsert_ids)).select(
                    *cols
                )
                committed["schema"] = state.schema
                return state

            MergeSink(path, key=key).commit_state(self.spark, build)
            if evo and upsert_ids:
                self._declare_columns(path, committed["schema"].fields)
            return self._summary("merge", name, self._current_version(name))

        if self._txn is not None and empty_target:
            raise ValueError(
                "MERGE into an empty DDL-created table inside "
                "BEGIN TRANSACTION is not supported (the first "
                "commit is an init) — INSERT INTO it instead"
            )
        j, cols = joined(target)
        changed = (
            j.where(act >= 0)
            .select(*cols, act.isin(delete_ids).alias("__del"))
            .localCheckpoint(eager=True)
        )
        try:
            rows = changed.where(~F.col("__del")).drop("__del")
            upserts = rows if upsert_ids else None
            deletes = (
                changed.where(F.col("__del")).select(_quote(key))
                if delete_ids
                else None
            )
            if self._txn is not None:
                # S53: stage the keyed delta (written now, applied at
                # COMMIT through the publish-time OCC loop)
                if kind == "cow":
                    self._txn.stage_cow_delta(
                        path, source=upserts, deletes=deletes,
                        allow_evolution=evo,
                    )
                else:
                    self._txn.stage_mor_upsert(
                        path, source=upserts, deletes=deletes
                    )
                return self._summary(
                    "merge_staged", name, self._current_version(name)
                )
            if empty_target:
                # DDL-created table, first commit: every changed row
                # is an insert
                sink = MergeSink if kind == "cow" else MorTable
                sink(path, key=key).init(rows)
            else:
                MorTable(path, key=key).merge(
                    self.spark, source=upserts, deletes=deletes
                )
        finally:
            release_checkpoint(changed)
        return self._summary("merge", name, self._current_version(name))

    def _merge_evolution(self, path, columns, target_columns, evo) -> bool:
        """Whether a MERGE writing ``columns`` evolves the table, or a
        ValueError when it would need to but the statement lacks WITH
        SCHEMA EVOLUTION. Columns the DECLARED schema already carries
        are not an evolution (ALTER TABLE ADD COLUMNS made them part of
        the table; the first write materializes them) — only columns
        beyond the declaration need WITH SCHEMA EVOLUTION."""
        if evo:
            return True
        from ..sinks.manifest import CommitLog as _CL

        ddl = _CL(path).table_props().get("schema_ddl")
        if ddl:
            from pyspark.sql.types import StructType as _ST

            declared = {f.name.lower() for f in _ST.fromDDL(ddl).fields}
            if {c.lower() for c in columns} <= declared | {
                c.lower() for c in target_columns
            }:
                return True
        if set(columns) != set(target_columns):
            raise ValueError(
                f"MERGE source schema {sorted(columns)} != table "
                f"schema {sorted(target_columns)}; add WITH SCHEMA "
                "EVOLUTION to evolve"
            )
        return False

    def _declare_columns(self, path, fields) -> None:
        """WITH SCHEMA EVOLUTION on a DECLARED table must also evolve
        the declaration (r17 ADVICE): the explicit-schema current-read
        fast path serves exactly schema_ddl + prior physical names, so a
        physical column the DDL does not know about would silently
        vanish from current reads. Mirrors the ALTER TABLE ADD COLUMNS
        bookkeeping."""
        from ..sinks.manifest import CommitLog as _CL

        log = _CL(path)
        props = log.table_props()
        ddl = props.get("schema_ddl")
        if not ddl:
            return
        from pyspark.sql.types import StructType as _ST

        declared = {f.name.lower() for f in _ST.fromDDL(ddl).fields}
        new = [f for f in fields if f.name.lower() not in declared]
        if new:
            props["schema_ddl"] = ", ".join(
                [ddl]
                + [f"{f.name} {f.dataType.simpleString()}" for f in new]
            )
            log.write_table_props(props)

    def _try_replace_where(self, query: str) -> DataFrame | None:
        m = _REPLACE_WHERE_RE.match(query)
        if m is None:
            return None
        # S48: `INSERT INTO t REPLACE WHERE <cond> <query>` — ONE
        # commit that replaces exactly the predicate-matching rows
        # (engine API: MergeSink.replace_where). Untouched files are
        # hardlinked byte-identical; the incoming frame must satisfy
        # the predicate (the Delta replaceWhere contract).
        name, condition, payload = (
            m.group(1),
            m.group(2).strip(),
            m.group(3),
        )
        if self._txn is not None:
            raise ValueError(
                "REPLACE WHERE inside BEGIN TRANSACTION is not "
                "supported (predicate-scoped rewrite — the S45 "
                "append/delta scope excludes it)"
            )
        kind, path, key = self._require(name)
        if kind != "cow":
            raise ValueError(
                "REPLACE WHERE targets CoW tables; on MoR compose "
                "DELETE WHERE + INSERT (deltas), or convert"
            )
        from pyspark.sql import functions as F

        from ..sinks.merge import MergeSink

        df = self._select(payload)
        target = self._frame(name, None).schema
        from ..sinks.constraints import generated_columns
        from ..sinks.manifest import CommitLog as _CL

        gens = generated_columns(_CL(path).table_props())
        nogen = [c for c in target.fieldNames() if c not in gens]
        if set(df.columns) == set(target.fieldNames()):
            pass
        elif set(df.columns) == set(nogen):
            pass
        elif len(df.columns) == len(nogen):
            df = df.toDF(*nogen)
        elif len(df.columns) == len(target.fieldNames()):
            df = df.toDF(*target.fieldNames())
        else:
            raise ValueError(
                f"REPLACE WHERE {name}: payload has {len(df.columns)} "
                f"columns, table has {target.fieldNames()}"
            )
        present = set(df.columns)
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.fields
                if f.name in present
            ]
        )
        stats = MergeSink(path, key=key or "_").replace_where(
            df, condition
        )
        return self._df(
            [
                (
                    "replace_where",
                    name,
                    stats["version"],
                    stats["files_relinked"],
                    stats["files_rewritten"],
                )
            ],
            "operation string, table string, version int, "
            "files_relinked int, files_rewritten int",
        )

    def _try_insert(self, query: str) -> DataFrame | None:
        m = _INSERT_RE.match(query)
        if m is None:
            return None
        name, col_list, payload = m.group(1), m.group(2), m.group(3)
        kind, path, key = self._require(name)
        df = self._select(payload)
        if col_list:
            # `INSERT INTO t (a, b) ...`: bind the payload positionally
            # to the NAMED columns (case-insensitively, like every other
            # resolution path); omitted table columns resolve below
            # (generated ones are computed, others must be omittable)
            target_by_lower = {
                c.lower(): c for c in self._frame(name, None).columns
            }
            names = [
                target_by_lower.get(c.strip().lower(), c.strip())
                for c in col_list.split(",")
            ]
            if len(df.columns) != len(names):
                raise ValueError(
                    f"INSERT INTO {name} ({col_list}): payload has "
                    f"{len(df.columns)} columns, list names {len(names)}"
                )
            df = df.toDF(*names)
        # standard INSERT column resolution: by name when the payload
        # already carries the table's column set, POSITIONALLY otherwise
        # (`VALUES (...)` yields col1/col2/... names); then CAST to the
        # table's types — `VALUES (100, 1)` literals are INT while the
        # table column may be BIGINT, and appending a narrower parquet
        # file would poison the version with mixed physical schemas
        from pyspark.sql import functions as F

        target = self._frame(name, None).schema
        target_cols = target.fieldNames()
        # GENERATED columns may be omitted from the payload (the sinks
        # compute them at write time); positional resolution then binds
        # against the non-generated columns in declaration order
        from ..sinks.constraints import generated_columns
        from ..sinks.manifest import CommitLog

        from ..sinks.constraints import default_columns, identity_columns

        props_t = CommitLog(path).table_props()
        gens = generated_columns(props_t)
        idents = set(identity_columns(props_t))
        dflts = default_columns(props_t)
        # GENERATED (expr + IDENTITY) columns are never positionally
        # bound (the engine computes/assigns them); DEFAULT-bearing
        # columns may additionally be omitted (filled below)
        nogen_cols = [
            c for c in target_cols if c not in gens and c not in idents
        ]
        nodef_cols = [c for c in nogen_cols if c not in dflts]
        if col_list:
            unknown = [c for c in df.columns if c not in target_cols]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {name}: unknown column(s) {unknown} "
                    f"({target_cols})"
                )
        if set(df.columns) == set(target_cols):
            df = df.select(*target_cols)
        elif set(df.columns) == set(nogen_cols):
            df = df.select(*nogen_cols)
        elif set(df.columns) == set(nodef_cols):
            df = df.select(*nodef_cols)
        elif col_list and set(df.columns) < set(target_cols):
            # named-column INSERT omitting columns: omitted generated/
            # identity ones are computed at write, omitted DEFAULT ones
            # fill below; other omissions are NULL (standard INSERT
            # semantics — NOT NULL still enforces)
            for f in target.fields:
                if (
                    f.name not in df.columns
                    and f.name not in gens
                    and f.name not in idents
                    and f.name not in dflts
                ):
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            have_now = set(df.columns)
            df = df.select(
                *[c for c in target_cols if c in have_now]
            )
        elif len(df.columns) == len(target_cols):
            df = df.toDF(*target_cols)
        elif len(df.columns) == len(nogen_cols):
            df = df.toDF(*nogen_cols)
        elif len(df.columns) == len(nodef_cols):
            df = df.toDF(*nodef_cols)
        else:
            raise ValueError(
                f"INSERT INTO {name}: payload has {len(df.columns)} "
                f"columns, table has {len(target_cols)} ({target_cols})"
            )
        # DEFAULT fill (S49): an omitted DEFAULT-bearing column takes
        # its declared literal, not NULL
        for f in target.fields:
            if f.name in dflts and f.name not in df.columns:
                df = df.withColumn(
                    f.name, F.expr(dflts[f.name]).cast(f.dataType)
                )
        present = set(df.columns)
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.fields
                if f.name in present
            ]
        )
        if self._txn is not None:
            # S47: stage into the open transaction — visible only at
            # COMMIT, atomically with every other staged statement
            if kind == "cow":
                self._txn.stage_append(path, df)
            else:
                self._txn.stage_mor_upsert(path, source=df)
            return self._summary(
                "insert_staged", name, self._current_version(name)
            )
        if kind == "cow":
            from ..sinks.merge import MergeSink
            from ..sinks.merge import _versions as _committed

            if key is not None and not _committed(path):
                # first INSERT into a DDL-created empty table: commit v1
                # through the engine sink directly — same claim+publish
                # protocol, no Python-DataSource writer round trip; the
                # DDL's declared partition layout is honored here
                pby = CommitLog(path).table_props().get("partition_by")
                if isinstance(pby, str):
                    pby = [p.strip() for p in pby.split(",") if p.strip()]
                MergeSink(path, key=key, partition_by=pby).init(df)
            elif CommitLog(path).exists():
                # engine-native append: honors the stored hive
                # partition layout (the DataSource writer stages flat
                # files — a root-level file in a partitioned version
                # dir is SILENTLY DROPPED by partition discovery) and
                # skips the Python-worker commit round trip
                MergeSink(path, key=key or "_").append(df)
            else:
                from ..sources.lakehouse_ds import write_table

                write_table(df, path, mode="append")
        else:
            from ..sinks.mor import MorTable

            from ..sinks.merge import _versions as _committed_versions

            t = MorTable(path, key=key)
            if not _committed_versions(path):
                t.init(df)  # first INSERT into a DDL-created table
            else:
                t.merge(self.spark, source=df)
        return self._summary("insert", name, self._current_version(name))

    def _dml_matched(self, name: str, cond: str | None) -> DataFrame:
        """Rows matching a DML WHERE, resolved through the FULL read
        surface: the condition may contain subqueries over registered
        tables, persistent views, `table_changes()`, and time travel —
        shapes a bare ``Column`` filter cannot resolve (`DELETE FROM t
        WHERE k IN (SELECT k FROM quarantine)` is the first statement a
        real user writes against a lakehouse)."""
        if not cond:
            return self._frame(name, None)
        return self._select(f"SELECT * FROM {name} WHERE {cond}")

    def _try_update(self, query: str) -> DataFrame | None:
        m = _UPDATE_RE.match(query)
        if m is None:
            return None
        from pyspark.sql import functions as F

        name, sets, cond = m.group(1), m.group(2), m.group(3)
        kind, path, _ = self._require(name)
        key = self._require_key(name)
        if (
            kind == "cow"
            and self._txn is None
            and cond
            and self._plain_predicate(cond)
            and self._plain_predicate(sets)
        ):
            # S50 file-granular UPDATE (VERDICT r14 item 2): stats-
            # disjoint files relink byte-identical, intersecting files
            # rewrite with the SET applied to matching rows — no keyed
            # full-outer join over the table. Column names validate
            # against the live frame first (same error surface as the
            # MERGE route below).
            from ..sinks.merge import MergeSink

            cols = {c.lower() for c in self._frame(name, None).columns}
            assigns: dict[str, str] = {}
            for col, expr in _split_assignments(sets):
                if col.lower() not in cols:
                    raise ValueError(
                        f"UPDATE {name}: unknown column {col!r}"
                    )
                assigns[col] = expr
            MergeSink(path, key=key).update_where(
                self.spark, cond, assigns
            )
            return self._summary(
                "update", name, self._current_version(name)
            )
        matched = self._dml_matched(name, cond)
        have = {c.lower() for c in matched.columns}
        assigned: set[str] = set()
        for col, expr in _split_assignments(sets):
            if col.lower() not in have:
                raise ValueError(
                    f"UPDATE {name}: unknown column {col!r} "
                    f"({sorted(matched.columns)})"
                )
            matched = matched.withColumn(col, F.expr(expr))
            assigned.add(col.lower())
        # GENERATED columns not explicitly assigned are RECOMPUTED from
        # the updated row (the Delta UPDATE contract) — without this,
        # the stale stored value would fail write-time validation
        from ..sinks.constraints import generated_columns
        from ..sinks.manifest import CommitLog

        for gcol, gexpr in generated_columns(
            CommitLog(path).table_props()
        ).items():
            if gcol.lower() not in assigned and gcol.lower() in have:
                matched = matched.withColumn(gcol, F.expr(gexpr))
        if self._txn is not None:
            if kind == "cow":
                # S53: stage the recomputed matched rows as a keyed
                # delta — applied under the claim at COMMIT
                self._txn.stage_cow_delta(
                    path,
                    source=matched,
                    allow_evolution=self._has_declared_schema(path),
                )
            else:
                self._txn.stage_mor_upsert(path, source=matched)
            return self._summary(
                "update_staged", name, self._current_version(name)
            )
        if kind == "cow":
            from ..sinks.merge import MergeSink

            # a declared (ALTERed) table's frame carries overlay
            # columns the files don't hold yet: materializing them is
            # not an evolution the caller must opt into (SET columns
            # were just validated against the frame)
            MergeSink(path, key=key).merge(
                self.spark,
                matched,
                allow_evolution=self._has_declared_schema(path),
            )
        else:
            from ..sinks.mor import MorTable

            MorTable(path, key=key).merge(self.spark, source=matched)
        return self._summary("update", name, self._current_version(name))

    _WIDEN_RANK = {
        "tinyint": ("int", 1), "byte": ("int", 1),
        "smallint": ("int", 2), "short": ("int", 2),
        "int": ("int", 3), "integer": ("int", 3),
        "bigint": ("int", 4), "long": ("int", 4),
        "float": ("float", 1), "real": ("float", 1),
        "double": ("float", 2),
    }

    def _alter_widen(self, name: str, col: str, to: str) -> DataFrame:
        """S52 type widening (see _try_alter dispatch). Allowed:
        integral up-ranks (byte -> short -> int -> bigint), float ->
        double, and integral(<= int) -> double — the Delta type-widening
        matrix's lossless core. Everything else (narrowing, cross-family
        to string, ...) refuses: old files' stored values must embed
        exactly into the new type or the cast-on-read overlay would be
        lossy."""
        kind, path, key = self._require(name)
        # CoW: old files keep their narrow physical type; reads use an
        # explicit upcast schema (SPARK-40876) + the widen overlay.
        # MoR (r15 VERDICT item 3): each chain commit's delta scan is
        # single-era by construction (a delta's files are written at
        # its commit's era; relink maintenance copies one era whole),
        # the chain union widens int-family types (WidenSetOperation
        # coercion), and the read-side overlay casts to the declared
        # type — so the same anchor + event mechanism serves both kinds.
        from ..sinks.manifest import CommitLog
        from ..sinks.merge import commit_metadata_version

        log = CommitLog(path)
        props = log.table_props()
        frame = self._frame(name, None)
        by_lower = {c.lower(): c for c in frame.columns}
        if col.lower() not in by_lower:
            raise ValueError(
                f"ALTER TABLE {name}: {col!r} is not a column "
                f"({sorted(frame.columns)})"
            )
        col = by_lower[col.lower()]
        cur = frame.schema[col].dataType.simpleString()
        src = self._WIDEN_RANK.get(cur)
        dst = self._WIDEN_RANK.get(to)
        ok = (
            src is not None
            and dst is not None
            and (
                (src[0] == dst[0] and dst[1] > src[1])
                # lossless integral -> double (every int up to 2^53
                # embeds exactly; bigint -> double would be lossy)
                or (src[0] == "int" and src[1] <= 3 and to == "double")
            )
        )
        if not ok:
            raise ValueError(
                f"ALTER COLUMN {col} TYPE {to}: not a widening from "
                f"{cur!r} (allowed: integral up-ranks, float->double, "
                "int-or-narrower->double)"
            )
        pby = props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        if col.lower() in {p.lower() for p in pby}:
            raise ValueError(
                f"ALTER COLUMN {col} TYPE: partition column types live "
                "in directory names — repartition the table instead"
            )
        from ..sinks.constraints import CHECK_PREFIX, GENERATED_PREFIX

        for pk, pv in props.items():
            if pk.startswith((CHECK_PREFIX, GENERATED_PREFIX)) and (
                re.search(rf"\b{re.escape(col)}\b", str(pv), re.IGNORECASE)
            ):
                raise ValueError(
                    f"ALTER COLUMN {col} TYPE: referenced by {pk} = "
                    f"{pv!r} — drop that constraint/column first"
                )
        # anchor: time travel below `since` serves the original type
        since = commit_metadata_version(path)
        evs = list(props.get("column_events") or [])
        evs.append(
            # "from" records the pre-widen declared type so time-travel
            # reads BETWEEN two widen anchors can reconstruct this
            # era's exact declared type (r15 ADVICE: schema_ddl alone
            # is the CURRENT era and over-widens earlier ones)
            {"op": "widen", "name": col, "to": to, "from": cur,
             "since": since}
        )
        props["column_events"] = evs
        from pyspark.sql.types import StructType

        ddl = props.get("schema_ddl")
        fields = (
            StructType.fromDDL(ddl).fields if ddl else frame.schema.fields
        )
        props["schema_ddl"] = ", ".join(
            f"{f.name} {to if f.name.lower() == col.lower() else f.dataType.simpleString()}"
            for f in fields
        )
        log.write_table_props(props)
        self._ensure_view(name, None)
        return self._summary("alter", name, self._current_version(name))

    @staticmethod
    def _plain_predicate(text: str) -> bool:
        """True when a DML condition / SET list is a plain expression
        over the target's own columns — no subqueries, no time travel,
        no table_changes() — i.e. safe for the file-granular
        stats-split route (which evaluates it directly against the
        rewrite files, never through the catalog's read surface)."""
        return not (
            re.search(r"\bSELECT\b", text, re.IGNORECASE)
            or _ASOF_RE.search(text)
            or _TS_ASOF_RE.search(text)
            or _TABLE_CHANGES_RE.search(text)
        )

    def _try_delete(self, query: str) -> DataFrame | None:
        m = _DELETE_RE.match(query)
        if m is None:
            return None
        from pyspark.sql import functions as F

        name, cond = m.group(1), m.group(2)
        kind, path, _ = self._require(name)
        key = self._require_key(name)
        if self._txn is not None:
            keys = self._dml_matched(name, cond).select(key)
            if kind == "cow":
                # S53: stage the matched keys as a keyed-delta DELETE
                self._txn.stage_cow_delta(path, deletes=keys)
            else:
                self._txn.stage_mor_upsert(path, deletes=keys)
            return self._summary(
                "delete_staged", name, self._current_version(name)
            )
        if kind == "cow":
            from ..sinks.merge import MergeSink

            sink = MergeSink(path, key=key)
            if cond and self._plain_predicate(cond):
                # S50 file-granular DELETE (VERDICT r14 item 2): stats-
                # disjoint files relink byte-identical; only files whose
                # envelopes intersect the predicate are rewritten. The
                # MERGE route below stays for subquery/time-travel
                # conditions (they need the full read surface).
                sink.delete_where(self.spark, cond)
            else:
                state = self._frame(name, None)
                sink.merge(
                    self.spark,
                    self._df([], state.schema),
                    deletes=self._dml_matched(name, cond).select(key),
                    allow_evolution=self._has_declared_schema(path),
                )
        else:
            from ..sinks.mor import MorTable

            if cond and (
                _ASOF_RE.search(cond)
                or _TS_ASOF_RE.search(cond)
                or _TABLE_CHANGES_RE.search(cond)
            ):
                # time-travel / CDC subqueries resolve through the full
                # read surface; the matched KEYS commit as tombstones
                # (one delta — position deletes need a plain predicate
                # over the current state)
                keys = self._dml_matched(name, cond).select(key)
                MorTable(path, key=key).merge(self.spark, deletes=keys)
            else:
                # the SQL face of S24: DELETE on a MoR table commits a
                # deletion-vector delta, never key values. Subqueries
                # in the condition resolve against the session catalog:
                # bind views and register referenced tables (INCLUDING
                # the target — self-referential subqueries read the
                # fresh pre-delete snapshot, never a stale view).
                if cond:
                    self._bind_views(cond)
                    for t in self._tables:
                        if re.search(rf"\b{re.escape(t)}\b", cond):
                            self._ensure_view(t, None)
                predicate = F.expr(cond) if cond else F.lit(True)
                MorTable(path, key=key).delete_where(
                    self.spark, predicate
                )
        return self._summary("delete", name, self._current_version(name))

    def _try_copy(self, query: str) -> DataFrame | None:
        m = _COPY_RE.match(query)
        if m is None:
            return None
        # S42: `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
        # [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k'='v', ...)]
        # [FORCE = true]` — exactly-once file ingestion: the loaded-file
        # set persists next to the commit log and re-runs load only the
        # DIFF (sinks/copy_into.py). Returns the command-metrics frame
        # (files_loaded / files_skipped / rows_loaded); rows are counted
        # by an Observation INSIDE the write job, not a second scan.
        name = m.group(1)
        src, fmt = m.group(2), m.group(3).upper()
        pattern, fmt_opts_raw = m.group(4), m.group(5)
        force = (m.group(6) or "").upper() == "TRUE"
        kind, path, key = self._require(name)
        import os as _os

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ..sinks.copy_into import (
            list_source_files,
            loaded_effective,
            record_loaded,
        )
        from ..sinks.txn import heal as _txn_heal

        # complete any crashed prior COPY first (its loaded-record is
        # in the prepared intent; healing publishes data + record as
        # one commit, so the diff below sees it as loaded)
        coord = _os.path.join(path, "_manifest", "_copytxn")
        _txn_heal(coord)
        candidates = list_source_files(src, pattern)
        already = {} if force else loaded_effective(path)
        todo = {p: rec for p, rec in candidates.items() if p not in already}
        skipped = len(candidates) - len(todo)
        if not todo:
            return self._copy_summary(name, 0, skipped, 0)
        opts: dict[str, str] = {}
        if fmt_opts_raw:
            for part in _split_top_commas(fmt_opts_raw):
                k, eq, v = part.partition("=")
                if not eq:
                    raise ValueError(
                        f"malformed FORMAT_OPTIONS entry {part!r}"
                    )
                opts[k.strip().strip("'\"")] = v.strip().strip("'\"")
        target = self._frame(name, None).schema
        from pyspark.sql.types import StructType

        from ..sinks.constraints import generated_columns
        from ..sinks.manifest import CommitLog

        gens = generated_columns(CommitLog(path).table_props())
        nogen = StructType(
            [f for f in target.fields if f.name not in gens]
        )
        paths = sorted(todo)
        rollback_evolution = None
        merge_schema = (
            str(opts.pop("mergeschema", opts.pop("mergeSchema", "false")))
            .lower()
            == "true"
        )
        if fmt == "PARQUET":
            df = self.spark.read.option(
                "mergeSchema", str(merge_schema).lower()
            ).parquet(*paths)
            extra = [
                f
                for f in df.schema.fields
                if f.name.lower()
                not in {c.lower() for c in target.fieldNames()}
            ]
            if extra and merge_schema:
                # schema evolution on ingestion (the Delta COPY INTO
                # mergeSchema contract): new source columns extend the
                # DECLARED schema — metadata-only for existing files
                # (reads overlay typed NULLs via _overlay_ddl), carried
                # by the loaded files from this commit on. Evolution
                # only ADDS: the source must still carry every
                # non-generated table column (a typo'd rename must fail
                # the statement, not NULL-fill a required column).
                have_src = {c.lower() for c in df.columns}
                missing = [
                    c
                    for c in nogen.fieldNames()
                    if c.lower() not in have_src
                ]
                if missing:
                    raise ValueError(
                        f"COPY INTO {name}: source is missing table "
                        f"column(s) {missing} (mergeSchema only adds "
                        "columns, it never drops requirements)"
                    )
                from pyspark.sql.types import StructType as _ST

                log2 = CommitLog(path)
                props2 = log2.table_props()
                old_ddl = props2.get("schema_ddl")
                base_ddl = old_ddl or ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in target.fields
                )
                add_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in extra
                )
                props2["schema_ddl"] = f"{base_ddl}, {add_ddl}"
                log2.write_table_props(props2)

                def _rollback_evolution() -> None:
                    # a failed load must not leave phantom declared
                    # columns (a crash can — benign NULL overlays,
                    # re-healed by the retry — but an in-process
                    # failure is cleanly undone)
                    p3 = log2.table_props()
                    if old_ddl is None:
                        p3.pop("schema_ddl", None)
                    else:
                        p3["schema_ddl"] = old_ddl
                    log2.write_table_props(p3)

                rollback_evolution = _rollback_evolution
                target = _ST(list(target.fields) + list(extra))
            elif set(df.columns) not in (
                set(target.fieldNames()),
                set(nogen.fieldNames()),
            ):
                raise ValueError(
                    f"COPY INTO {name}: source columns "
                    f"{sorted(df.columns)} != table columns "
                    f"{sorted(target.fieldNames())} "
                    "(FORMAT_OPTIONS('mergeSchema'='true') to evolve)"
                )
        else:
            if merge_schema:
                raise ValueError(
                    "COPY INTO mergeSchema is supported for PARQUET "
                    "sources (text formats read under the table schema "
                    "— there is no source schema to merge)"
                )
            # text formats read under the TABLE schema minus generated
            # columns (those are ALWAYS computed at write — a text file
            # cannot carry them)
            reader = self.spark.read.schema(nogen)
            if fmt == "CSV":
                reader = reader.option("header", "true")
            for k, v in opts.items():
                reader = reader.option(k, v)
            df = reader.format(fmt.lower()).load(paths)
        present = set(df.columns)
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.fields
                if f.name in present
            ]
        )
        import uuid as _uuid

        obs = Observation(f"copy_{_uuid.uuid4().hex[:8]}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # the load commits through the transaction protocol with the
        # loaded-file record ON THE MANIFEST: data and record land in
        # ONE atomic commit, so no crash anywhere in this statement can
        # double-load (a crash mid-publish is completed by the heal at
        # the top of the next COPY; a crash pre-prepare loads nothing)
        from ..sinks.txn import LakehouseTransaction

        txn = LakehouseTransaction(coord)
        try:
            if kind == "cow":
                txn.stage_append(path, df, copy_files=todo)
            else:
                txn.stage_mor_upsert(path, source=df, copy_files=todo)
            txn.commit()
        except BaseException:
            # pre-prepare failures (staging, constraint violations)
            # undo the declared-schema evolution — nothing will ever
            # carry the new columns. Post-prepare failures must NOT:
            # the transaction is inevitable (heal lands the data) and
            # the evolved declaration belongs with it.
            if rollback_evolution is not None and txn._state == "open":
                rollback_evolution()
            raise
        from ..sinks.txn import gc as _txn_gc

        record_loaded(path, todo)  # side-file cache (survives VACUUM)
        _txn_gc(coord)  # reclaim the committed single-entry txn's files
        try:
            rows = int(obs.get["rows"])
        except Exception:
            rows = -1  # metrics lost (e.g. plan rewritten); load succeeded
        return self._copy_summary(name, len(todo), skipped, rows)

    def _copy_summary(
        self, name: str, loaded: int, skipped: int, rows: int
    ) -> DataFrame:
        return self._df(
            [("copy", name, self._current_version(name), loaded, skipped, rows)],
            "operation string, table string, version int, "
            "files_loaded int, files_skipped int, rows_loaded long",
        )

    def _try_vacuum(self, query: str) -> DataFrame | None:
        m = _VACUUM_RE.match(query)
        if m is None:
            return None
        name, retain, hours = m.group(1), m.group(2), m.group(3)
        dry = m.group(4) is not None
        kind, path, key = self._require(name)
        if kind == "cow":
            from ..sinks.merge import MergeSink

            sink = MergeSink(path, key=key or "_")
            if hours:
                # `RETAIN n HOURS` is Delta's AGE-BASED retention: drop
                # versions whose committed_at is older than the horizon
                # (the current version is never eligible); bare
                # `RETAIN n` stays count-based keep-last-N
                victims = sink.vacuum(
                    retention_hours=float(retain), dry_run=dry
                )
            else:
                victims = sink.vacuum(
                    keep_last=int(retain) if retain else 1, dry_run=dry
                )
            if dry:
                # `VACUUM ... DRY RUN` (the Delta shape): report the
                # victim versions, delete nothing — one row per victim
                return self._df(
                    [("vacuum_dry_run", name, v) for v in victims]
                    or [("vacuum_dry_run", name, None)],
                    "operation string, table string, version int",
                )
        else:
            if dry:
                raise ValueError(
                    "VACUUM ... DRY RUN applies to CoW tables (MoR "
                    "vacuum victims are everything below the newest "
                    "checkpoint — DESCRIBE HISTORY shows them)"
                )
            from ..sinks.mor import MorTable

            if retain is not None:
                raise ValueError(
                    "VACUUM ... RETAIN applies to CoW tables; MoR vacuum "
                    "retention is the newest checkpoint (run OPTIMIZE "
                    "first to advance it)"
                )
            MorTable(path, key=key).vacuum()
        return self._summary("vacuum", name, self._current_version(name))

    def _try_optimize(self, query: str) -> DataFrame | None:
        mw = _OPTIMIZE_WHERE_RE.match(query)
        if mw is not None:
            # predicate-scoped maintenance: rewrite (compact or
            # z-cluster) ONLY the files whose stats intersect the
            # condition; everything else relinks byte-identical. The
            # predicate scopes FILES, never rows (see
            # MergeSink.optimize_where).
            name = mw.group(1)
            cols = (
                [c.strip() for c in mw.group(2).split(",") if c.strip()]
                if mw.group(2)
                else None
            )
            cond = mw.group(3).strip()
            kind, path, key = self._require(name)
            if kind != "cow":
                # LAY5: predicate-scoped compact of the MoR delta
                # chain — disjoint checkpoint files relink, the
                # in-range key slice resolves into the new checkpoint
                # (MorTable.optimize_where; ZORDER spec not supported
                # on the scoped MoR form)
                if cols:
                    raise ValueError(
                        "OPTIMIZE ... ZORDER ... WHERE on a MoR table "
                        "is not supported (scoped compact only; run "
                        "OPTIMIZE t ZORDER BY (...) for a full "
                        "recluster)"
                    )
                from ..sinks.mor import MorTable

                s = MorTable(path, key=key).optimize_where(
                    self.spark, cond
                )
                return self._df(
                    [
                        (
                            "optimize_where",
                            name,
                            s["version"],
                            s["files_relinked"],
                            s["files_rewritten"],
                            s["files_rewritten"],
                        )
                    ],
                    "operation string, table string, version int, "
                    "files_relinked int, files_rewritten int, "
                    "files_out int",
                )
            from ..sinks.merge import MergeSink

            stats = MergeSink(path, key=key or "_").optimize_where(
                self.spark, cond, cols=cols
            )
            return self._df(
                [
                    (
                        "optimize_where",
                        name,
                        stats["version"],
                        stats["files_relinked"],
                        stats["files_rewritten"],
                        stats["files_out"],
                    )
                ],
                "operation string, table string, version int, "
                "files_relinked int, files_rewritten int, "
                "files_out int",
            )
        mi = _OPTIMIZE_INC_RE.match(query)
        if mi is not None:
            # LAY1d: `OPTIMIZE t [ZORDER BY (...)] INCREMENTAL` —
            # recluster ONLY the append layer since the last OPTIMIZE
            # (prior clustered layers relink byte-identical): the
            # maintenance op whose cost tracks NEW data, not table size
            name = mi.group(1)
            cols = (
                [c.strip() for c in mi.group(2).split(",") if c.strip()]
                if mi.group(2)
                else None
            )
            kind, path, key = self._require(name)
            if kind != "cow":
                raise ValueError(
                    "INCREMENTAL OPTIMIZE targets CoW tables (a MoR "
                    "chain compacts as a whole: OPTIMIZE ... ZORDER BY)"
                )
            from ..sinks.merge import MergeSink

            stats = MergeSink(
                path, key=key or "_"
            ).optimize_zorder_incremental(self.spark, cols)
            return self._df(
                [
                    (
                        "optimize_incremental",
                        name,
                        stats["version"],
                        stats["files_relinked"],
                        stats["files_reclustered"],
                    )
                ],
                "operation string, table string, version int, "
                "files_relinked int, files_reclustered int",
            )
        mz = _OPTIMIZE_Z_RE.match(query)
        if mz is not None:
            # `OPTIMIZE t ZORDER BY (a, b)` — recluster by the Morton
            # interleave (LAY1): tight manifest envelopes on EVERY
            # listed column from one layout. The spec persists in the
            # table props, so a later bare OPTIMIZE re-applies it.
            name = mz.group(1)
            cols = [c.strip() for c in mz.group(2).split(",") if c.strip()]
            kind, path, key = self._require(name)
            if kind == "cow":
                from ..sinks.merge import MergeSink

                MergeSink(path, key=key or "_").optimize_zorder(
                    self.spark, cols
                )
            else:
                # LAY1c: MoR compact-then-cluster — the chain restarts
                # at a checkpointed commit laid out by the interleave
                from ..sinks.mor import MorTable

                MorTable(path, key=key).optimize_zorder(
                    self.spark, cols
                )
            return self._summary(
                "optimize", name, self._current_version(name)
            )
        m = _OPTIMIZE_RE.match(query)
        if m is None:
            return None
        name = m.group(1)
        kind, path, key = self._require(name)
        if kind == "cow":
            from ..sinks.merge import MergeSink
            from ..sinks.manifest import CommitLog

            sink = MergeSink(path, key=key or "_")
            zcols = CommitLog(path).table_props().get("zorder_by")
            if isinstance(zcols, str):
                # SET TBLPROPERTIES stores raw strings: 'k,ck' is a
                # column LIST, not four characters
                zcols = [c.strip() for c in zcols.split(",") if c.strip()]
            if zcols:
                # the table's standing layout is a persisted ZORDER
                # spec: bare OPTIMIZE re-applies it (the Delta shape)
                sink.optimize_zorder(self.spark, list(zcols))
            elif sink.cluster_by is None:
                # LAY6: no layout spec at all — bare OPTIMIZE is
                # BINPACKING (the Delta default): coalesce the small
                # files toward the target size, relink the rest
                stats = sink.compact_small(self.spark)
                return self._df(
                    [
                        (
                            "optimize_compact",
                            name,
                            stats["version"],
                            stats["files_relinked"],
                            stats["files_rewritten"],
                            stats["files_out"],
                        )
                    ],
                    "operation string, table string, version int, "
                    "files_relinked int, files_rewritten int, "
                    "files_out int",
                )
            else:
                sink.optimize(self.spark)
        else:
            from ..sinks.manifest import CommitLog
            from ..sinks.mor import MorTable

            zcols = CommitLog(path).table_props().get("zorder_by")
            if isinstance(zcols, str):
                zcols = [c.strip() for c in zcols.split(",") if c.strip()]
            if zcols:
                # standing spec: bare OPTIMIZE re-applies
                # compact+cluster (the Delta shape, MoR face)
                MorTable(path, key=key).optimize_zorder(
                    self.spark, list(zcols)
                )
            else:
                MorTable(path, key=key).compact(self.spark)
        return self._summary("optimize", name, self._current_version(name))

    def _try_restore(self, query: str) -> DataFrame | None:
        m = _RESTORE_RE.match(query)
        if m is None:
            return None
        # `RESTORE [TABLE] <t> TO VERSION AS OF n | TIMESTAMP AS OF
        # '<ts>'` (the Delta RESTORE shape): a NEW commit whose content
        # is the old snapshot — history-preserving rollback. CoW relinks
        # the old version's files (zero data rewrite); MoR re-commits
        # the as-of state as a checkpoint (a compaction of history).
        # A timestamp resolves via version_at (S29).
        name = m.group(1)
        kind, path, key = self._require(name)
        if m.group(2) is not None:
            version = int(m.group(2))
        else:
            from ..sinks.manifest import CommitLog

            version = CommitLog(path).version_at(_parse_ts_ms(m.group(3)))
        if kind == "cow":
            from ..sinks.merge import MergeSink

            MergeSink(path, key=key or "_").restore(self.spark, version)
        else:
            from ..sinks.mor import MorTable

            MorTable(path, key=key).restore(self.spark, version)
        return self._summary("restore", name, self._current_version(name))

    def _try_clone(self, query: str) -> DataFrame | None:
        m = _CLONE_RE.match(query)
        if m is None:
            return None
        # `CREATE TABLE c SHALLOW CLONE t [VERSION AS OF n] LOCATION
        # '<path>'` (the Delta clone shape): a NEW independent table
        # whose v1 is the source snapshot — zero data copy (hardlinked
        # immutable files + verbatim manifest stats, MergeSink.clone_to);
        # both sides evolve, vacuum, and time-travel independently
        # afterwards. CoW only: a MoR chain has no single-directory
        # snapshot to link (compact first, or clone the compacted state).
        new_name, src_name, version, dest = (
            m.group(1),
            m.group(2),
            m.group(3),
            m.group(4),
        )
        kind, path, key = self._require(src_name)
        if kind != "mor":
            from ..sinks.merge import MergeSink

            MergeSink(path, key=key or "_").clone_to(
                dest, int(version) if version else None
            )
        else:
            raise ValueError(
                f"SHALLOW CLONE of MoR table {src_name!r}: a delta "
                "chain has no single snapshot directory to link — "
                "OPTIMIZE (compact) it and clone the checkpoint, or "
                "materialize with CREATE TABLE ... + INSERT"
            )
        self._tables[new_name] = ("cow", dest, key)
        self._persist(new_name)
        return self._summary("clone", new_name, 1)

    def _try_ctas(self, query: str) -> DataFrame | None:
        m = _CTAS_RE.match(query)
        if m is None:
            return None
        # `CREATE TABLE t USING lakehouse LOCATION '<p>'
        # [TBLPROPERTIES (merge_key='k'[, kind='mor'][,
        # partition_by='a,b'][, bloom_on='c'])] AS SELECT ...` — CTAS:
        # the payload query runs through the read surface (registered
        # tables + time travel work), its result becomes version 1
        # through the S25 write path, and the DISCOVERED schema is
        # stored in the table props so the empty-at-DDL / register_path
        # machinery sees CTAS tables exactly like CREATE'd ones.
        if_not_exists, name, path, props_sql, select_sql = (
            m.group(1),
            m.group(2),
            m.group(3),
            m.group(4),
            m.group(5),
        )
        if name in self._views:
            raise ValueError(
                f"CREATE TABLE {name}: a view with that name exists"
            )
        props = self._parse_tblproperties(props_sql)
        key = props.get("merge_key")
        from ..sinks.manifest import CommitLog

        log = CommitLog(path)
        if log.table_props() or log.exists():
            if not if_not_exists:
                raise FileExistsError(
                    f"lakehouse table already exists at {path} "
                    "(use CREATE TABLE IF NOT EXISTS)"
                )
            # IF NOT EXISTS on an existing table: register as-is, the
            # payload is NOT evaluated (the Delta CTAS contract)
            stored = log.table_props()
            self._tables[name] = (
                stored.get("kind", "cow"),
                path,
                stored.get("merge_key"),
            )
            self._persist(name)
            return self._summary("create", name, log.current_version())
        df = self._select(select_sql)
        if key is not None and key not in df.columns:
            raise ValueError(
                f"merge_key {key!r} is not a column of the CTAS payload "
                f"({df.columns})"
            )
        partition_by = [
            p.strip()
            for p in str(props.get("partition_by", "")).split(",")
            if p.strip()
        ]
        import os

        os.makedirs(path, exist_ok=True)
        # data FIRST, props after: writing props before the payload job
        # runs would wedge the LOCATION on a failed CTAS (the retry
        # would see "already a table" from a props-only directory)
        if props["kind"] == "cow":
            from ..sinks.merge import MergeSink

            MergeSink(
                path,
                key=key or "_",
                partition_by=partition_by or None,
                bloom_on=props.get("bloom_on"),
            ).init(df)
        else:
            from ..sinks.mor import MorTable

            MorTable(path, key=key).init(df)
        # init() wrote kind/merge_key; add the discovered schema (a
        # crash between the two leaves a valid table without
        # schema_ddl — schema still serves from the data)
        stored = log.table_props()
        stored["schema_ddl"] = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        log.write_table_props(stored)
        self._tables[name] = (str(props["kind"]), path, key)
        self._persist(name)
        return self._summary("create", name, self._current_version(name))

    def _parse_tblproperties(self, props_sql: str | None) -> dict:
        """TBLPROPERTIES body -> {kind, merge_key?, partition_by?,
        bloom_on?} with kind validated (shared by CREATE and CTAS)."""
        props: dict[str, object] = {"kind": "cow"}
        if props_sql:
            for part in _split_top_commas(props_sql):
                pk, eq, pv = part.partition("=")
                if not eq:
                    raise ValueError(
                        f"malformed TBLPROPERTIES entry {part!r}"
                    )
                props[_prop_key(pk)] = _unquote_prop(pv)
        if props["kind"] not in ("cow", "mor"):
            raise ValueError(f"unknown table kind {props['kind']!r}")
        if props["kind"] == "mor" and "merge_key" not in props:
            raise ValueError("MoR tables need TBLPROPERTIES (merge_key=...)")
        return props

    def _try_create(self, query: str) -> DataFrame | None:
        m = _CREATE_RE.match(query)
        if m is None:
            return None
        # `CREATE TABLE t (cols) USING lakehouse LOCATION '<path>'
        # [TBLPROPERTIES (merge_key='k'[, kind='mor'])]` — minimal DDL:
        # writes the table-properties object (kind, merge key, schema
        # DDL) at the location and registers the name. The stored schema
        # makes the EMPTY table readable before its first commit; the
        # stored key makes every later session's `register_path` (and
        # DML routing) work without re-supplying metadata.
        if_not_exists, name, col_defs, path = (
            m.group(1),
            m.group(2),
            m.group(3).strip(),
            m.group(4),
        )
        if name in self._views:
            raise ValueError(
                f"CREATE TABLE {name}: a view with that name exists"
            )
        props = self._parse_tblproperties(m.group(5))
        # `c TYPE GENERATED ALWAYS AS (expr)` column clauses: the expr
        # becomes a `generated.<col>` table prop (computed/validated at
        # write time — sinks/constraints.py), the plain `c TYPE` stays
        # in the stored schema DDL
        gen_cols: dict[str, str] = {}
        default_cols: dict[str, str] = {}
        identity_cols: list[str] = []
        plain_defs: list[str] = []
        for part in _split_top_commas(col_defs):
            # `c TYPE GENERATED ALWAYS AS IDENTITY` (S49): monotonic
            # collision-free keys assigned at write under the OCC claim
            mi = re.match(
                r"^\s*([A-Za-z_]\w*)\s+(.+?)\s+GENERATED\s+ALWAYS\s+AS"
                r"\s+IDENTITY\s*$",
                part,
                re.IGNORECASE,
            )
            if mi is not None:
                typ = mi.group(2).strip()
                if typ.lower() not in ("bigint", "long", "int", "integer"):
                    raise ValueError(
                        f"IDENTITY column {mi.group(1)!r} must be an "
                        f"integral type, got {typ!r}"
                    )
                identity_cols.append(mi.group(1))
                plain_defs.append(f"{mi.group(1)} {typ}")
                continue
            mg = re.match(
                r"^\s*([A-Za-z_]\w*)\s+(.+?)\s+GENERATED\s+ALWAYS\s+AS"
                r"\s*\((.*)\)\s*$",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            if mg is not None:
                gen_cols[mg.group(1)] = mg.group(3).strip()
                plain_defs.append(f"{mg.group(1)} {mg.group(2).strip()}")
                continue
            # `c TYPE DEFAULT <literal-expr>` (S49): fills the column
            # when an INSERT omits it (instead of NULL)
            md = re.match(
                r"^\s*([A-Za-z_]\w*)\s+(.+?)\s+DEFAULT\s+(.+?)"
                r"(\s+NOT\s+NULL)?\s*$",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            if md is not None:
                default_cols[md.group(1)] = md.group(3).strip()
                plain_defs.append(
                    f"{md.group(1)} {md.group(2).strip()}"
                    f"{md.group(4) or ''}"
                )
                continue
            plain_defs.append(part.strip())
        col_defs = ", ".join(plain_defs)
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(col_defs)  # validates the col defs
        key = props.get("merge_key")
        if key is not None and key not in schema.fieldNames():
            raise ValueError(
                f"merge_key {key!r} is not a declared column "
                f"({schema.fieldNames()})"
            )
        from ..sinks.manifest import CommitLog

        log = CommitLog(path)
        existing = log.table_props()
        if existing or log.exists():
            if not if_not_exists:
                raise FileExistsError(
                    f"lakehouse table already exists at {path} "
                    "(use CREATE TABLE IF NOT EXISTS)"
                )
            # IF NOT EXISTS on an existing table: register it with ITS
            # stored properties (the statement's are ignored)
            if existing:
                key = existing.get("merge_key", key)
                props["kind"] = existing.get("kind", props["kind"])
        else:
            import os

            os.makedirs(path, exist_ok=True)
            new_props = {
                "kind": props["kind"],
                "merge_key": key,
                "schema_ddl": col_defs,
            }
            # `c TYPE NOT NULL` declarations become enforced invariants
            # (sinks/constraints.py) — fromDDL already parsed nullability
            from ..sinks.constraints import GENERATED_PREFIX, NOTNULL_PREFIX

            for f in schema.fields:
                if not f.nullable:
                    new_props[f"{NOTNULL_PREFIX}{f.name}"] = "true"
            for c, e in gen_cols.items():
                new_props[f"{GENERATED_PREFIX}{c}"] = e
            for c, e in default_cols.items():
                # validate NOW: the default must evaluate and cast to
                # the declared type (a typo'd literal should fail the
                # CREATE, not the first INSERT that omits the column)
                from pyspark.sql import functions as F

                typ = {
                    f.name.lower(): f.dataType for f in schema.fields
                }[c.lower()]
                try:
                    # numPartitions=1: a scalar probe, not a scan —
                    # range(1) otherwise fans to defaultParallelism
                    val = self.spark.range(0, 1, 1, 1).select(
                        F.expr(e).cast(typ).alias("v"),
                        F.expr(e).isNull().alias("src_null"),
                    ).first()
                except Exception as exc:
                    raise ValueError(
                        f"DEFAULT for column {c!r}: {e!r} does not "
                        f"evaluate as {typ.simpleString()}: {exc}"
                    ) from exc
                if val["v"] is None and not val["src_null"]:
                    # a non-NULL literal that casts to NULL would
                    # silently default the column to NULL forever
                    raise ValueError(
                        f"DEFAULT for column {c!r}: {e!r} does not "
                        f"cast to {typ.simpleString()}"
                    )
                new_props[f"default.{c}"] = e
            for c in identity_cols:
                new_props[f"identity.{c}"] = "true"
            # every OTHER TBLPROPERTIES entry persists verbatim
            # (bloom_on, constraint.* — what makes SHOW CREATE TABLE a
            # faithful round trip); partition_by normalizes to the LIST
            # every consumer expects (MergeSink stores a list)
            for k, v in props.items():
                if k == "partition_by" and isinstance(v, str):
                    v = [p.strip() for p in v.split(",") if p.strip()]
                new_props.setdefault(k, v)
            log.write_table_props(new_props)
        self._tables[name] = (str(props["kind"]), path, key)
        self._persist(name)
        return self._summary("create", name, self._current_version(name))

    def _try_convert(self, query: str) -> DataFrame | None:
        m = _CONVERT_RE.match(query)
        if m is None:
            return None
        # `CONVERT TO LAKEHOUSE '<dir>' [AS name] [TBLPROPERTIES
        # (merge_key='k'[, bloom_on='c'])]` — the Delta CONVERT shape:
        # an existing plain/hive-partitioned parquet directory becomes
        # a versioned table IN PLACE, v1 hardlinking the files (zero
        # data copy; sinks/convert.py). `AS name` registers it here
        # (and in the persistent catalog); without it the stored props
        # make any later register_path work.
        path, name, props_sql = m.group(1), m.group(2), m.group(3)
        props = self._parse_tblproperties(props_sql)
        key = props.get("merge_key")
        from ..sinks.convert import convert_to_lakehouse

        convert_to_lakehouse(
            path, key=key, bloom_on=props.get("bloom_on")
        )
        if name:
            self._tables[name] = ("cow", path, key)
            self._persist(name)
        return self._summary("convert", name or path, 1)

    def _try_alter(self, query: str) -> DataFrame | None:
        m = _ALTER_ADD_CHECK_RE.match(query)
        if m is not None:
            # S41: `ADD CONSTRAINT c CHECK (expr)` — validate the CURRENT
            # state first (one limit(1) job) so "all live rows satisfy
            # all active constraints" is a maintained invariant, then
            # persist as a table property the commit protocol enforces
            # in-flight on every later write (sinks/constraints.py).
            name, cname, expr = m.group(1), m.group(2), m.group(3).strip()
            _kind, path, _key = self._require(name)
            from pyspark.sql import functions as F

            from ..sinks.constraints import CHECK_PREFIX, validate_existing
            from ..sinks.manifest import CommitLog

            log = CommitLog(path)
            props = log.table_props()
            pkey = f"{CHECK_PREFIX}{cname}"
            if pkey in props:
                raise ValueError(
                    f"constraint {cname!r} already exists on {name} "
                    f"({props[pkey]})"
                )
            frame = self._frame(name, None)
            try:
                ok = F.expr(expr).cast("boolean")
                validate_existing(
                    frame, ok, f"CHECK constraint {cname!r} ({expr})"
                )
            except ValueError:
                raise
            except Exception as exc:  # unresolvable / malformed expr
                raise ValueError(
                    f"ADD CONSTRAINT {cname}: CHECK expression {expr!r} "
                    f"does not evaluate on {name} "
                    f"(columns {sorted(frame.columns)}): {exc}"
                ) from exc
            props[pkey] = expr
            log.write_table_props(props)
            return self._summary(
                "alter", name, self._current_version(name)
            )
        m = _ALTER_DROP_CHECK_RE.match(query)
        if m is not None:
            name, if_exists, cname = m.group(1), m.group(2), m.group(3)
            _kind, path, _key = self._require(name)
            from ..sinks.constraints import CHECK_PREFIX
            from ..sinks.manifest import CommitLog

            log = CommitLog(path)
            props = log.table_props()
            pkey = f"{CHECK_PREFIX}{cname}"
            if pkey not in props:
                if if_exists:
                    return self._summary(
                        "alter", name, self._current_version(name)
                    )
                raise ValueError(
                    f"no constraint {cname!r} on {name} "
                    "(use DROP CONSTRAINT IF EXISTS)"
                )
            del props[pkey]
            log.write_table_props(props)
            return self._summary(
                "alter", name, self._current_version(name)
            )
        m = _ALTER_NOTNULL_RE.match(query)
        if m is not None:
            # `ALTER COLUMN c SET|DROP NOT NULL` (the Delta spelling).
            # SET validates current rows like ADD CONSTRAINT does.
            name, col, action = m.group(1), m.group(2), m.group(3).upper()
            _kind, path, _key = self._require(name)
            from pyspark.sql import functions as F

            from ..sinks.constraints import NOTNULL_PREFIX, validate_existing
            from ..sinks.manifest import CommitLog

            frame = self._frame(name, None)
            if col.lower() not in {c.lower() for c in frame.columns}:
                raise ValueError(
                    f"ALTER COLUMN: {col!r} is not a column of {name} "
                    f"({sorted(frame.columns)})"
                )
            log = CommitLog(path)
            props = log.table_props()
            pkey = f"{NOTNULL_PREFIX}{col}"
            if action == "SET":
                validate_existing(
                    frame,
                    F.col(col).isNotNull(),
                    f"NOT NULL constraint on {col!r}",
                )
                props[pkey] = "true"
            else:
                props.pop(pkey, None)
            log.write_table_props(props)
            return self._summary(
                "alter", name, self._current_version(name)
            )
        m = _ALTER_ADD_RE.match(query)
        if m is not None:
            # `ALTER TABLE t ADD COLUMNS (c TYPE, ...)` — metadata-only
            # evolution (the Delta shape): the DECLARED schema in the
            # table props gains the columns; no file is rewritten, and
            # every read overlays the missing columns as typed NULLs
            # (_overlay_ddl). Later writes materialize them.
            name, col_defs = m.group(1), m.group(2).strip()
            _kind, path, _key = self._require(name)
            from pyspark.sql.types import StructType

            added = StructType.fromDDL(col_defs)  # validates
            current = self._frame(name, None).schema
            clash = [
                f.name
                for f in added.fields
                if f.name.lower() in {c.lower() for c in current.names}
            ]
            if clash:
                raise ValueError(
                    f"ALTER TABLE {name}: column(s) {clash} already exist"
                )
            from ..sinks.manifest import CommitLog

            log = CommitLog(path)
            props = log.table_props()
            from ..sinks.colmap import retired_names

            resurrect = [
                f.name
                for f in added.fields
                if f.name.lower() in retired_names(props)
            ]
            if resurrect:
                raise ValueError(
                    f"ALTER TABLE {name}: column(s) {resurrect} were "
                    "previously renamed away or dropped — re-adding the "
                    "name would resurrect stale values old files still "
                    "physically carry (pick a fresh name)"
                )
            base_ddl = props.get("schema_ddl") or ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in current.fields
            )
            props["schema_ddl"] = f"{base_ddl}, {col_defs}"
            log.write_table_props(props)
            return self._summary(
                "alter", name, self._current_version(name)
            )
        m = _ALTER_RENAME_COL_RE.match(query)
        if m is not None:
            # S46: `RENAME COLUMN a TO b` — metadata-only column mapping
            # (sinks/colmap.py): no file is rewritten; an event
            # {rename, old, new, since=<metadata commit>} lands in the
            # table props, every read overlays it, time travel below
            # `since` serves the original name.
            name, old, new = m.group(1), m.group(2), m.group(3)
            return self._alter_column_event(
                name, op="rename", old=old, new=new
            )
        m = _ALTER_DROP_COL_RE.match(query)
        if m is not None:
            # S46: `DROP COLUMN [IF EXISTS] c` — metadata-only drop:
            # old files keep the bytes (VACUUM of pre-drop versions is
            # the reclaim path), reads project it out from `since` on.
            name, if_exists, col = m.group(1), m.group(2), m.group(3)
            _kind, path, _key = self._require(name)
            cols = {c.lower() for c in self._frame(name, None).columns}
            if col.lower() not in cols:
                if if_exists:
                    return self._summary(
                        "alter", name, self._current_version(name)
                    )
                raise ValueError(
                    f"DROP COLUMN: {col!r} is not a column of {name} "
                    f"({sorted(cols)})"
                )
            return self._alter_column_event(name, op="drop", old=col)
        m = _ALTER_WIDEN_RE.match(query)
        if m is not None:
            # S52: `ALTER COLUMN c TYPE <wider>` — metadata-only type
            # widening via column mapping: a {widen, name, to, since}
            # event; old files keep their narrow physical type forever
            # and the overlay casts on read (new writes carry the wide
            # type). Narrowing refused; time travel below the anchor
            # serves the original type.
            return self._alter_widen(
                m.group(1), m.group(2), m.group(3).lower()
            )
        m = _ALTER_RENAME_RE.match(query)
        if m is not None:
            # catalog-level rename: the path and data never move
            old_name, new_name = m.group(1), m.group(2)
            entry = self._require(old_name)
            if new_name in self._tables:
                raise ValueError(
                    f"ALTER TABLE RENAME: {new_name!r} already registered"
                )
            self._tables[new_name] = entry
            if old_name in self._ds_tables:
                self._ds_tables.add(new_name)
            del self._tables[old_name]
            self._ds_tables.discard(old_name)
            self.spark.catalog.dropTempView(old_name)
            if self._warehouse:
                self._catalog_update(old_name, None)
                self._persist(new_name)
            return self._summary(
                "alter", new_name, self._current_version(new_name)
            )
        m = _ALTER_PROPS_RE.match(query)
        if m is not None:
            # `SET TBLPROPERTIES (merge_key='k', bloom_on='c', ...)` —
            # retrofit table metadata: give a keyless table its DML
            # routing key, or declare a Bloom column that takes effect
            # on the NEXT commits. The table kind is identity, not a
            # property — immutable.
            name = m.group(1)
            kind, path, key = self._require(name)
            # parse pairs directly (not _parse_tblproperties: its
            # CREATE-time MoR validation would fire before the
            # immutability check below)
            new_props: dict[str, str] = {}
            for part in _split_top_commas(m.group(2)):
                pk, eq, pv = part.partition("=")
                if not eq:
                    raise ValueError(
                        f"malformed TBLPROPERTIES entry {part!r}"
                    )
                new_props[_prop_key(pk)] = _unquote_prop(pv)
            if "kind" in new_props and new_props["kind"] != kind:
                raise ValueError(
                    f"ALTER TABLE {name}: kind is immutable "
                    f"({kind!r} -> {new_props['kind']!r})"
                )
            new_key = new_props.get("merge_key", key)
            if new_key is not None and new_key != key:
                cols = {c.lower() for c in self._frame(name, None).columns}
                if new_key.lower() not in cols:
                    raise ValueError(
                        f"merge_key {new_key!r} is not a column of {name}"
                    )
            from ..sinks.manifest import CommitLog

            log = CommitLog(path)
            props = log.table_props()
            for k, v in new_props.items():
                if k == "kind":
                    continue
                props[k] = v
            props["kind"] = kind
            log.write_table_props(props)
            self._tables[name] = (kind, path, new_key)
            self._persist(name)
            return self._summary(
                "alter", name, self._current_version(name)
            )
        return None

    def _alter_column_event(
        self,
        name: str,
        *,
        op: str,
        old: str,
        new: str | None = None,
    ) -> DataFrame:
        """Shared RENAME COLUMN / DROP COLUMN implementation (S46):
        validate, anchor a metadata-only commit, append the column
        event, and rewrite the declared schema. The table's structural
        columns (merge key, partition, bloom/cluster specs) and any
        column referenced by a CHECK or GENERATED expression are
        protected — redefine those specs first, exactly Delta's rule."""
        _kind, path, key = self._require(name)
        from ..sinks.colmap import retired_names
        from ..sinks.constraints import (
            CHECK_PREFIX,
            GENERATED_PREFIX,
            NOTNULL_PREFIX,
        )
        from ..sinks.manifest import CommitLog
        from ..sinks.merge import commit_metadata_version

        log = CommitLog(path)
        props = log.table_props()
        frame = self._frame(name, None)
        by_lower = {c.lower(): c for c in frame.columns}
        if old.lower() not in by_lower:
            raise ValueError(
                f"ALTER TABLE {name}: {old!r} is not a column "
                f"({sorted(frame.columns)})"
            )
        old = by_lower[old.lower()]  # canonical stored case
        if op == "rename":
            assert new is not None
            if new.lower() in by_lower:
                raise ValueError(
                    f"RENAME COLUMN: {new!r} already exists on {name}"
                )
            if new.lower() in retired_names(props):
                raise ValueError(
                    f"RENAME COLUMN: {new!r} was a previous physical "
                    f"name on {name}; reusing it would resurrect stale "
                    "values old files still carry"
                )
        protected: dict[str, str] = {}
        for mk in (key, props.get("merge_key")):
            if mk:
                protected[str(mk).lower()] = "merge key"
        pby = props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        for c in pby:
            protected[c.lower()] = "partition column"
        if props.get("bloom_on"):
            protected[str(props["bloom_on"]).lower()] = (
                "bloom index column"
            )
        for c in props.get("zorder_by") or []:
            protected[c.lower()] = "cluster (ZORDER) spec column"
        if old.lower() in protected:
            raise ValueError(
                f"ALTER TABLE {name}: {old!r} is the table's "
                f"{protected[old.lower()]} — redefine that first"
            )
        from ..sinks.constraints import DEFAULT_PREFIX, IDENTITY_PREFIX

        gen_key = None
        nn_key = None
        dflt_key = None
        id_key = None
        for pk, pv in props.items():
            if pk.startswith((CHECK_PREFIX, GENERATED_PREFIX)):
                if re.search(
                    rf"\b{re.escape(old)}\b", str(pv), re.IGNORECASE
                ):
                    raise ValueError(
                        f"ALTER TABLE {name}: {old!r} is referenced by "
                        f"{pk} = {pv!r} — drop that constraint/column "
                        "first"
                    )
            if (
                pk.startswith(GENERATED_PREFIX)
                and pk[len(GENERATED_PREFIX):].lower() == old.lower()
            ):
                gen_key = pk
            if (
                pk.startswith(NOTNULL_PREFIX)
                and pk[len(NOTNULL_PREFIX):].lower() == old.lower()
            ):
                nn_key = pk
            if (
                pk.startswith(DEFAULT_PREFIX)
                and pk[len(DEFAULT_PREFIX):].lower() == old.lower()
            ):
                dflt_key = pk
            if (
                pk.startswith(IDENTITY_PREFIX)
                and pk[len(IDENTITY_PREFIX):].lower() == old.lower()
            ):
                id_key = pk
        if op == "rename" and gen_key is not None:
            raise ValueError(
                f"RENAME COLUMN: {old!r} is GENERATED ALWAYS AS — drop "
                "and re-declare it under the new name instead"
            )
        if op == "rename" and id_key is not None:
            # the identity high-water mark is re-derived from FILE
            # STATS under the column's physical name — old files' stats
            # would be missed after a rename and ids would collide
            raise ValueError(
                f"RENAME COLUMN: {old!r} is GENERATED ALWAYS AS "
                "IDENTITY — its high-water mark lives in per-file stats "
                "under the physical name; rename is not supported"
            )
        # anchor: time travel below `since` serves the original names
        since = commit_metadata_version(path)
        evs = list(props.get("column_events") or [])
        if op == "rename":
            evs.append(
                {"op": "rename", "old": old, "new": new, "since": since}
            )
        else:
            evs.append({"op": "drop", "name": old, "since": since})
        props["column_events"] = evs
        from pyspark.sql.types import StructType

        ddl = props.get("schema_ddl")
        fields = (
            StructType.fromDDL(ddl).fields if ddl else frame.schema.fields
        )
        out_fields: list[tuple[str, object]] = []
        for f in fields:
            if f.name.lower() == old.lower():
                if op == "drop":
                    continue
                out_fields.append((new, f.dataType))
            else:
                out_fields.append((f.name, f.dataType))
        props["schema_ddl"] = ", ".join(
            f"{n} {t.simpleString()}" for n, t in out_fields
        )
        # the NOT NULL / DEFAULT specs follow the rename, and every
        # per-column spec dies with the drop
        if nn_key is not None:
            val = props.pop(nn_key)
            if op == "rename":
                props[f"{NOTNULL_PREFIX}{new}"] = val
        if dflt_key is not None:
            val = props.pop(dflt_key)
            if op == "rename":
                props[f"{DEFAULT_PREFIX}{new}"] = val
        if op == "drop":
            if gen_key is not None:
                del props[gen_key]
            if id_key is not None:
                del props[id_key]
        log.write_table_props(props)
        # re-bind the session view (a stale temp view would keep
        # serving the old shape through spark.sql until the next read)
        self._ensure_view(name, None)
        return self._summary("alter", name, self._current_version(name))

    def _try_drop(self, query: str) -> DataFrame | None:
        m = _DROP_RE.match(query)
        if m is None:
            return None
        # `DROP TABLE [IF EXISTS] t` — EXTERNAL-table semantics (every
        # lakehouse table here is path-addressed): unregister the name
        # from this catalog and the persistent warehouse catalog; the
        # data and commit log stay on disk (re-attachable any time via
        # register_path / CREATE TABLE IF NOT EXISTS). Destroying data
        # is a different operation (delete the directory) and never
        # hides behind a metadata statement.
        if_exists, name = m.group(1), m.group(2)
        if name not in self._tables:
            if if_exists:
                return self._summary("drop", name, 0)
            raise ValueError(f"unregistered lakehouse table {name!r}")
        del self._tables[name]
        self._ds_tables.discard(name)
        if self._warehouse:
            self._catalog_update(name, None)
        # drop the session view too: a stale temp view would keep
        # serving the name through spark.sql after the DROP
        self.spark.catalog.dropTempView(name)
        return self._summary("drop", name, 0)

    def _try_create_view(self, query: str) -> DataFrame | None:
        m = _CREATE_VIEW_RE.match(query)
        if m is None:
            return None
        # S43: `CREATE [OR REPLACE] VIEW v AS <select>` — a PERSISTENT
        # late-binding view: the SQL text (not a snapshot) lands in the
        # warehouse catalog, every later statement that references the
        # name re-runs it against the CURRENT table state, and a fresh
        # session against the same warehouse discovers it by name.
        replace, name, body = m.group(1), m.group(2), m.group(3).strip()
        if name in self._tables:
            raise ValueError(
                f"CREATE VIEW {name}: a table with that name is "
                "registered"
            )
        if name in self._views and not replace:
            raise ValueError(
                f"view {name!r} already exists "
                "(use CREATE OR REPLACE VIEW)"
            )
        # validate with the NEW definition tentatively installed, so a
        # replace that would create a reference cycle fails NOW (not at
        # first read) and rolls back to the previous definition
        prev = self._views.get(name)
        self._views[name] = body
        try:
            self._binding.add(name)
            try:
                self._select(body).schema  # body must analyze NOW
            finally:
                self._binding.discard(name)
        except BaseException:
            if prev is None:
                del self._views[name]
            else:
                self._views[name] = prev
            raise
        if self._warehouse:
            self._catalog_update(name, {"kind": "view", "sql": body})
        return self._df(
            [("create_view", name)], "operation string, view string"
        )

    def _try_drop_view(self, query: str) -> DataFrame | None:
        m = _DROP_VIEW_RE.match(query)
        if m is None:
            return None
        if_exists, name = m.group(1), m.group(2)
        if name not in self._views:
            if if_exists:
                return self._df(
                    [("drop_view", name)], "operation string, view string"
                )
            raise ValueError(f"no view {name!r} (use DROP VIEW IF EXISTS)")
        del self._views[name]
        self.spark.catalog.dropTempView(name)
        if self._warehouse:
            self._catalog_update(name, None)
        return self._df(
            [("drop_view", name)], "operation string, view string"
        )

    def _try_show_views(self, query: str) -> DataFrame | None:
        if _SHOW_VIEWS_RE.match(query) is None:
            return None
        rows = sorted(self._views.items())
        if not rows:
            return self._df([], "view string, sql string")
        return self._df(rows, "view string, sql string")

    def _try_show_create(self, query: str) -> DataFrame | None:
        m = _SHOW_CREATE_RE.match(query)
        if m is None:
            return None
        # S43b: `SHOW CREATE TABLE t` — a ROUND-TRIPPABLE statement:
        # running the emitted DDL against a fresh location recreates the
        # table's full declared semantics (schema, NOT NULL, GENERATED
        # clauses, merge key/kind/bloom/layout specs, CHECK constraints
        # — everything the table props hold). Views get their CREATE
        # VIEW text.
        name = m.group(1)
        if name in self._views:
            stmt = f"CREATE VIEW {name} AS {self._views[name]}"
            return self._df(
                [(stmt,)], "createtab_stmt string"
            )
        _kind, path, _key = self._require(name)
        from pyspark.sql.types import StructType

        from ..sinks.constraints import (
            GENERATED_PREFIX,
            NOTNULL_PREFIX,
            generated_columns,
        )
        from ..sinks.manifest import CommitLog

        props = CommitLog(path).table_props()
        ddl = props.get("schema_ddl")
        fields = (
            StructType.fromDDL(ddl).fields
            if ddl
            else self._frame(name, None).schema.fields
        )
        gens = generated_columns(props)
        notnull = {
            k[len(NOTNULL_PREFIX):].lower()
            for k, v in props.items()
            if k.startswith(NOTNULL_PREFIX)
            and str(v).lower() in ("true", "1")
        }
        from ..sinks.constraints import (
            DEFAULT_PREFIX,
            IDENTITY_PREFIX,
            default_columns,
            identity_columns,
        )

        dflts = default_columns(props)
        idents = set(identity_columns(props))
        col_defs = []
        for f in fields:
            s = f"{f.name} {f.dataType.simpleString().upper()}"
            if f.name in idents:
                s += " GENERATED ALWAYS AS IDENTITY"
            if f.name in dflts:
                s += f" DEFAULT {dflts[f.name]}"
            if f.name.lower() in notnull:
                s += " NOT NULL"
            if f.name in gens:
                s += f" GENERATED ALWAYS AS ({gens[f.name]})"
            col_defs.append(s)
        # everything else in the props re-emits as TBLPROPERTIES —
        # schema/notnull/generated/default/identity are already encoded
        # in the col defs
        skip_prefixes = (
            NOTNULL_PREFIX,
            GENERATED_PREFIX,
            DEFAULT_PREFIX,
            IDENTITY_PREFIX,
        )
        tprops = {
            k: v
            for k, v in sorted(props.items())
            # schema_ddl is the col defs; column_order/zorder_at/
            # column_events are internal engine records (creation
            # order, incremental anchor, rename/drop mapping history)
            # the re-executed statement re-derives — column_events
            # especially: a list of dicts that _quote_prop would
            # flatten to str(dict) text, storing a STRING the colmap
            # reader then iterates character-by-character
            if k not in ("schema_ddl", "column_order", "zorder_at",
                         "column_events")
            and not k.startswith(skip_prefixes)
            and v is not None
        }
        stmt = (
            f"CREATE TABLE {name} ({', '.join(col_defs)}) "
            f"USING lakehouse LOCATION '{path}'"
        )
        if tprops:
            body = ", ".join(
                f"{k}={_quote_prop(v)}" for k, v in tprops.items()
            )
            stmt += f" TBLPROPERTIES ({body})"
        return self._df(
            [(stmt,)], "createtab_stmt string"
        )

    def _try_truncate(self, query: str) -> DataFrame | None:
        m = _TRUNCATE_RE.match(query)
        if m is None:
            return None
        # `TRUNCATE TABLE t` — commit an EMPTY version (schema kept,
        # history kept: time travel to pre-truncate versions still
        # works, VACUUM reclaims them under retention). CoW commits an
        # empty snapshot; MoR commits an empty CHECKPOINT (the chain
        # restarts — resolved reads stop consulting older deltas).
        name = m.group(1)
        kind, path, key = self._require(name)
        from ..sinks.manifest import CommitLog
        from ..sinks.merge import MergeSink, _base_and_claim
        from ..sinks.mor import MorTable

        state = self._frame(name, None)
        empty = self._df([], state.schema)
        log = CommitLog(path)
        for _ in range(20):
            if (
                kind == "mor"
                and log.exists()
                and log.visible_version() != log.current_version()
            ):
                # same orphan hazard as MoR compaction: a checkpoint
                # over a pending txn head would exclude it forever
                raise RuntimeError(
                    f"TRUNCATE {name}: a pending transaction head "
                    "exists (heal/commit it first)"
                )
            _, claim = _base_and_claim(path)
            try:
                if kind == "cow":
                    MergeSink(path, key=key or "_")._write(empty, claim)
                else:
                    MorTable(path, key=key)._commit(
                        empty, None, claim, checkpoint=True
                    )
            except FileExistsError:
                continue  # lost the version race
            return self._summary("truncate", name, claim)
        raise RuntimeError(
            f"TRUNCATE {name}: lost the version race 20 times"
        )

    def _try_show_tables(self, query: str) -> DataFrame | None:
        if _SHOW_TABLES_RE.match(query) is None:
            return None
        # one row per registered table: kind, path, merge key, current
        # version — answered from registration state + one commit-log
        # probe per table, no data access
        from ..sinks.manifest import CommitLog

        rows = [
            (name, kind, path, key, CommitLog(path).current_version())
            for name, (kind, path, key) in sorted(self._tables.items())
        ]
        return self._df(
            rows,
            "table string, kind string, location string, "
            "merge_key string, current_version int",
        )

    def _table_stats(self, name: str) -> dict:
        """Physical stats of the CURRENT version from the manifest
        alone (one small JSON read, listing-free): file count, byte
        and row totals per role. For MoR, data-role rows are an UPPER
        BOUND on the resolved count (tombstones shadow, upserts
        replace) — served as chain totals, flagged by kind."""
        from ..sinks.manifest import CommitLog

        kind, path, _key = self._require(name)
        log = CommitLog(path)
        v = log.current_version()
        out = {
            "kind": kind,
            "path": path,
            "version": v,
            "num_files": 0,
            "size_bytes": 0,
            "num_rows": 0,
        }
        if v <= 0:
            return out
        m = log.manifest(v)
        if kind == "mor":
            # the chain since the governing checkpoint, all roles
            from ..sinks.mor import MorTable

            t = MorTable(path, key=_key or "_")
            _start, chain = t._chain()
            ents = [
                e
                for cv in chain
                for e in log.manifest(cv)["files"]
            ]
        else:
            ents = [
                e for e in m["files"] if e.get("role", "data") == "data"
            ]
        out["num_files"] = len(ents)
        out["size_bytes"] = sum(int(e.get("bytes", 0)) for e in ents)
        out["num_rows"] = sum(int(e.get("rows", 0)) for e in ents)
        out["committed_at"] = int(m.get("committed_at", 0))
        try:
            out["created_at"] = int(
                log.manifest(log.versions()[0]).get("committed_at", 0)
            )
        except (FileNotFoundError, IndexError):
            out["created_at"] = None
        return out

    def _try_detail(self, query: str) -> DataFrame | None:
        m = _DETAIL_RE.match(query)
        if m is None:
            return None
        # `DESCRIBE DETAIL t` (the Delta shape): ONE row of physical
        # table metadata — format, location, kind, key, layout specs,
        # file/byte/row totals, version + commit timestamps — answered
        # entirely from the commit manifest + table props (no data
        # access, no directory listing)
        name = m.group(1)
        st = self._table_stats(name)
        from ..sinks.manifest import CommitLog

        props = CommitLog(st["path"]).table_props()
        row = (
            name,
            "lakehouse",
            st["kind"],
            st["path"],
            props.get("merge_key"),
            ",".join(props.get("partition_by", []) or []) or None,
            ",".join(props.get("zorder_by", []) or []) or None,
            props.get("bloom_on"),
            st["version"],
            st["num_files"],
            st["size_bytes"],
            st["num_rows"],
            st.get("created_at"),
            st.get("committed_at"),
        )
        return self._df(
            [row],
            "name string, format string, kind string, location string, "
            "merge_key string, partition_by string, zorder_by string, "
            "bloom_on string, current_version int, num_files long, "
            "size_bytes long, num_rows long, created_at long, "
            "last_modified long",
        )

    def _try_analyze_cols(self, query: str) -> DataFrame | None:
        m = _ANALYZE_COLS_RE.match(query)
        if m is None:
            return None
        # `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS a, b` —
        # min/max/null_count AGGREGATED FROM THE MANIFEST (zero data
        # scan: the commit already paid the footer reads), plus
        # approx ndv from ONE single-pass agg job over only the
        # requested columns (ndv is the one statistic footers cannot
        # give). MoR manifest bounds cover the whole delta chain, so
        # min/max/nulls are conservative BOUNDS there (deleted rows
        # included); ndv is computed on the RESOLVED state either way.
        name, cols_sql = m.group(1), m.group(2)
        kind, path, _key = self._require(name)
        cols = [c.strip() for c in cols_sql.split(",")]
        frame = self._frame(name, None)
        have = {c.lower(): c for c in frame.columns}
        unknown = [c for c in cols if c.lower() not in have]
        if unknown:
            raise ValueError(
                f"ANALYZE {name}: unknown column(s) {unknown} "
                f"({sorted(frame.columns)})"
            )
        from pyspark.sql import functions as F

        from ..sinks.manifest import CommitLog

        log = CommitLog(path)
        agg: dict[str, dict] = {
            c: {"min": None, "max": None, "nulls": 0, "known": True}
            for c in cols
        }
        if log.exists():
            if kind == "mor":
                # fold the WHOLE delta chain (the head manifest is just
                # the newest delta): same version set _table_stats and
                # the MoR read path resolve
                from ..sinks.mor import MorTable

                _start, chain = MorTable(path, key=_key or "_")._chain()
                manifests = [log.manifest(v) for v in chain]
            else:
                manifests = [log.manifest(log.visible_version())]
            for m_ in manifests:
                for ent in m_["files"]:
                    if ent.get("role", "data") != "data":
                        continue
                    if int(ent.get("rows", 0)) == 0:
                        continue  # empty part-file: no stats, no influence
                    # manifest keys carry the TABLE's column case
                    ecols = {
                        k.lower(): v
                        for k, v in ent.get("columns", {}).items()
                    }
                    for c in cols:
                        st = ecols.get(c.lower())
                        a = agg[c]
                        if st is None or st.get("min") is None:
                            a["known"] = False
                            continue
                        a["min"] = (
                            st["min"]
                            if a["min"] is None
                            else min(a["min"], st["min"])
                        )
                        a["max"] = (
                            st["max"]
                            if a["max"] is None
                            else max(a["max"], st["max"])
                        )
                        a["nulls"] += int(st.get("null_count", 0))
        else:
            for a in agg.values():
                a["known"] = False
        ndv_row = frame.agg(
            *[
                F.approx_count_distinct(have[c.lower()], rsd=0.02).alias(c)
                for c in cols
            ]
        ).first()
        rows = [
            (
                name,
                c,
                str(agg[c]["min"]) if agg[c]["known"] else None,
                str(agg[c]["max"]) if agg[c]["known"] else None,
                int(agg[c]["nulls"]) if agg[c]["known"] else None,
                int(ndv_row[c]),
                kind == "mor",  # manifest stats bound the chain, not state
            )
            for c in cols
        ]
        return self._df(
            rows,
            "table string, column string, min string, max string, "
            "null_count long, approx_ndv long, bounds_are_chain boolean",
        )

    def _try_analyze(self, query: str) -> DataFrame | None:
        m = _ANALYZE_RE.match(query)
        if m is None:
            return None
        # `ANALYZE TABLE t COMPUTE STATISTICS` — manifest-served scan
        # statistics (rows/bytes/files of the current version; MoR
        # serves chain totals where rows upper-bound the resolved
        # count). Real engines feed these to a cost-based optimizer;
        # here they are the catalog's metadata answer to "how big" —
        # one manifest read, never a data scan (at 100 TB, the
        # difference between a metadata query and a job)
        name = m.group(1)
        st = self._table_stats(name)
        return self._df(
            [
                (
                    name,
                    st["version"],
                    st["num_files"],
                    st["size_bytes"],
                    st["num_rows"],
                    st["kind"] == "mor",  # rows are an upper bound
                )
            ],
            "table string, version int, num_files long, size_bytes long, "
            "num_rows long, rows_are_upper_bound boolean",
        )

    def _try_describe(self, query: str) -> DataFrame | None:
        m = _DESCRIBE_RE.match(query)
        if m is None:
            return None
        # `DESCRIBE [TABLE] t`: the column schema (as served by reads,
        # partition columns included) plus # partition marker rows —
        # the Spark DESCRIBE shape (col_name, data_type, comment)
        name = m.group(1)
        kind, path, key = self._require(name)
        frame = self._frame(name, None)
        rows = [(f.name, f.dataType.simpleString(), None) for f in frame.schema.fields]
        from ..sinks.manifest import CommitLog

        props = CommitLog(path).table_props()
        rows.append(("# kind", kind, None))
        if key is not None:
            rows.append(("# merge_key", key, None))
        for p in props.get("partition_by", []) or []:
            rows.append(("# partition_by", p, None))
        return self._df(
            rows, "col_name string, data_type string, comment string"
        )

    def _try_history(self, query: str) -> DataFrame | None:
        m = _HISTORY_RE.match(query)
        if m is None:
            return None
        # `DESCRIBE HISTORY <t>` (the Delta command shape): one row per
        # LIVE version with the commit's kind, file/row/byte totals per
        # role, and the streaming batch id when the commit came from the
        # streaming sink — answered entirely from the commit log
        # (manifests_range: one rolled checkpoint + the per-commit tail,
        # never a directory listing or a data scan)
        name = m.group(1)
        kind, path, _ = self._require(name)
        from ..sinks.manifest import CommitLog

        log = CommitLog(path)
        hist = log.manifests_range(1, log.current_version())
        rows = []
        for v in sorted(hist, reverse=True):
            man = hist[v]
            by_role: dict[str, list[dict]] = {}
            for e in man["files"]:
                by_role.setdefault(e.get("role", "data"), []).append(e)
            roles = sorted(by_role)
            op = man.get("op") or (
                "checkpoint"
                if man.get("checkpoint")
                else ("delta" if kind == "mor" else "snapshot")
            )
            met = man.get("metrics") or {}
            ts = man.get("committed_at")
            if ts is not None:
                import datetime as dt

                ts = dt.datetime.fromtimestamp(
                    ts / 1000.0, tz=dt.timezone.utc
                ).replace(tzinfo=None)
            rows.append(
                (
                    v,
                    ts,
                    op,
                    ",".join(roles),
                    sum(len(v_) for v_ in by_role.values()),
                    sum(
                        e.get("rows", 0)
                        for e in by_role.get("data", [])
                    ),
                    sum(e.get("bytes", 0) for e in man["files"]),
                    man.get("stream_batch_id"),
                    met.get("files_rewritten"),
                    met.get("files_relinked"),
                )
            )
        return self._df(
            rows,
            "version int, committed_at timestamp, operation string, "
            "roles string, n_files int, "
            "data_rows long, bytes long, stream_batch_id long, "
            "files_rewritten int, files_relinked int",
        )

    def _bind_views(self, query: str) -> None:
        """Materialize every persistent view the query references as a
        session temp view (late binding: the view's SQL re-runs through
        :meth:`_select`, so it reads the CURRENT table state and nested
        views resolve depth-first). Cycles raise instead of recursing."""
        for vname, vsql in self._views.items():
            if not re.search(rf"\b{re.escape(vname)}\b", query):
                continue
            if vname in self._binding:
                raise ValueError(
                    f"view cycle detected through {vname!r}"
                )
            self._binding.add(vname)
            try:
                self._select(vsql).createOrReplaceTempView(vname)
            finally:
                self._binding.discard(vname)

    def _select(self, query: str) -> DataFrame:
        """Read-only path: VERSION AS OF rewrite + view refresh."""
        self._bind_views(query)

        def _pin(m: re.Match) -> str:
            name, v = m.group(1), int(m.group(2))
            if name not in self._tables:
                raise ValueError(
                    f"VERSION AS OF on unregistered table {name!r}"
                )
            return self._ensure_view(name, v)

        def _pin_ts(m: re.Match) -> str:
            # `t TIMESTAMP AS OF '<ts>'` resolves to the newest version
            # committed at or before <ts> (the Delta rule; committed_at
            # stamps are advisory but version-order-monotonic), then
            # pins exactly like VERSION AS OF
            name, ts = m.group(1), m.group(2)
            if name not in self._tables:
                raise ValueError(
                    f"TIMESTAMP AS OF on unregistered table {name!r}"
                )
            from ..sinks.manifest import CommitLog

            v = CommitLog(self._tables[name][1]).version_at(
                _parse_ts_ms(ts)
            )
            return self._ensure_view(name, v)

        def _pin_changes(m: re.Match) -> str:
            # `table_changes('t', lo[, hi])` -> a generated CDC view:
            # MoR serves its deltas directly (changes_since IS the
            # change log, scan cost = consumed deltas only, filtered to
            # (lo, hi]); CoW reconstructs by snapshot diff
            # (version_diff: one full-outer join of two manifest-listed
            # scans, shape (key, change, old, new)). hi defaults to the
            # current version; both bounds must be live commits.
            # Bounds may also be quoted TIMESTAMPS (S29 completion):
            # each resolves via version_at to the newest version
            # committed at or before it, so table_changes('t', '<t1>',
            # '<t2>') is exactly the diff between the two timestamp
            # snapshots — the TIMESTAMP AS OF rule applied to both ends.
            name = m.group(1)
            if name not in self._tables:
                raise ValueError(
                    f"table_changes on unregistered table {name!r}"
                )

            def _bound(arg: str | None) -> int | None:
                if arg is None:
                    return None
                if arg.startswith("'"):
                    from ..sinks.manifest import CommitLog

                    return CommitLog(self._tables[name][1]).version_at(
                        _parse_ts_ms(arg[1:-1])
                    )
                return int(arg)

            lo = _bound(m.group(2))
            kind, path, key = self._tables[name]
            from pyspark.sql import functions as F

            from ..sinks.manifest import CommitLog

            hi = _bound(m.group(3))
            if hi is None:
                hi = CommitLog(path).current_version()
            if kind == "mor":
                from ..sinks.mor import MorTable

                df = MorTable(path, key=key).changes_since(
                    self.spark, lo
                ).filter(F.col("__commit") <= hi)
            else:
                if key is None:
                    raise ValueError(
                        f"table_changes on CoW table {name!r} needs the "
                        "merge key: register with key=..."
                    )
                from ..sinks.merge import version_diff

                df = version_diff(self.spark, path, key, lo, hi)
            view = f"{name}__changes_{lo}_{hi}"
            df.createOrReplaceTempView(view)
            return view

        rewritten = _TABLE_CHANGES_RE.sub(_pin_changes, query)
        rewritten = _TS_ASOF_RE.sub(_pin_ts, rewritten)
        rewritten = _ASOF_RE.sub(_pin, rewritten)
        # per-occurrence manifest file skipping (S35): pruned scan
        # views + occurrence rewrite; the PLAIN views below stay full
        rewritten, scan_views = self._rewrite_pruned_scans(rewritten)
        # current-version views for every registered table the query
        # still mentions in a possible RELATION position (cheap: one
        # manifest resolution per table). A table whose every relation
        # occurrence was rewritten to scan views needs no plain view —
        # and must not force one, or a statement whose predicate prunes
        # a physically-unavailable file would still fail registering
        # the full list it never reads.
        from .prune_sql import needs_plain_view

        for name in self._tables:
            if re.search(
                rf"\b{re.escape(name)}\b", rewritten
            ) and needs_plain_view(rewritten, name):
                self._ensure_view(name, None)
        try:
            # spark.sql analyzes EAGERLY: the returned frame's plan is
            # bound to the scan views' file lists here, so dropping the
            # views right after is safe even before any collect
            return self.spark.sql(rewritten)
        finally:
            for v in scan_views:
                self.spark.catalog.dropTempView(v)
