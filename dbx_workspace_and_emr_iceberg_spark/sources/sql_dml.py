"""SQL front-door for lakehouse DML (SURVEY.md §2.11 M1-M3 UX parity).

The reference's signature user experience is SQL DML against Iceberg
tables from ``spark-sql`` (/root/reference/README.md:35-45; the
``IcebergSparkSessionExtensions`` wired in main.tf:803 is what adds the
MERGE/UPDATE/DELETE parser rules to vanilla Spark). This container has
no Iceberg jars, so this module provides the equivalent front-end: a
bounded parser for the three DML statement forms, dispatching to the
snapshot-layer :class:`LakehouseTable` methods that implement the
copy-on-write semantics.

Supported grammar (case-insensitive keywords; a deliberate, documented
subset — anything else raises ``ValueError`` rather than mis-executing):

    DELETE FROM <table> [WHERE <condition>]

    UPDATE <table> SET <col> = <expr> [, ...] [WHERE <condition>]

    MERGE INTO <table> [AS] [<t>] USING <source> [AS] [<s>]
    ON <t>.<key> = <s>.<key>
    [WHEN MATCHED AND <cond> THEN DELETE]
    [WHEN MATCHED THEN UPDATE SET <t>.<col> = <expr> [, ...]]
    [WHEN NOT MATCHED THEN INSERT *]

Conditions and expressions are handed to ``F.expr`` after alias
rewriting, so the full Spark SQL expression language works inside them.
Alias rewriting is textual (word-boundary) — string literals containing
``<alias>.`` patterns are out of scope for this subset.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DML_HEADS = ("MERGE", "UPDATE", "DELETE", "CALL", "ALTER", "INSERT", "CREATE")


def _strip(sql: str) -> str:
    # quote-AWARE line-comment removal: a blanket regex truncated any
    # statement whose string literal contains '--' (review-pass r15 —
    # the single-line form died on an unbalanced quote; the multi-line
    # form silently rebalanced into a DIFFERENT valid predicate)
    out: list[str] = []
    i, n, quote = 0, len(sql), None
    while i < n:
        ch = sql[i]
        if quote:
            # Spark string literals escape the delimiter two ways:
            # backslash ('it\'s') and doubling ('it''s').  Consume the
            # escape PAIR while inside a literal, or a lone \' closes
            # the quote early and the comment stripper truncates (or
            # rebalances) the statement.
            if ch == "\\" and i + 1 < n:
                out.append(ch)
                out.append(sql[i + 1])
                i += 2
            elif ch == quote and i + 1 < n and sql[i + 1] == quote:
                out.append(ch)
                out.append(sql[i + 1])
                i += 2
            else:
                out.append(ch)
                if ch == quote:
                    quote = None
                i += 1
        elif ch in ("'", '"'):
            quote = ch
            out.append(ch)
            i += 1
        elif ch == "-" and sql.startswith("--", i):
            while i < n and sql[i] != "\n":
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out).strip().rstrip(";").strip()


def classify(sql: str) -> str | None:
    """'MERGE' | 'UPDATE' | 'DELETE' | 'CALL' for statements this
    module executes, else None."""
    s = _strip(sql)
    if not s:
        return None
    head = s.split(None, 1)[0].upper()
    return head if head in _DML_HEADS else None


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside parens/quotes (for SET assignment lists)."""
    parts, depth, buf, quote = [], 0, [], None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            # same escape handling as _strip: \x and doubled-delimiter
            # pairs stay inside the literal
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            if ch == quote and i + 1 < n and s[i + 1] == quote:
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _parse_assignments(set_clause: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for item in _split_top_level(set_clause):
        m = re.match(r"^(?:(\w+)\.)?(\w+)\s*=\s*(.+)$", item, re.S)
        if not m:
            raise ValueError(f"unparseable SET assignment: {item!r}")
        out[m.group(2)] = m.group(3).strip()
    if not out:
        # an UPDATE SET clause that parses to zero assignments is
        # malformed SQL, not "no UPDATE clause" — raising here keeps
        # the module contract (unsupported syntax raises rather than
        # mis-executing; a falsy {} would silently no-op the UPDATE)
        raise ValueError(f"empty SET clause: {set_clause!r}")
    return out


#: quoted-literal segments — the alias rewriter must never touch text
#: inside these.  Consumes BOTH escape forms Spark SQL accepts inside a
#: literal: doubled delimiter ('') and backslash (\') — ADVICE r18
#: (reproduced): the doubled-quote-only form tokenized 'it\'s s.x' as
#: closing at the backslash-quote, so the rewriter corrupted literal
#: interiors exactly like the quote-blind bug this regex was added to
#: fix.  Alternatives have disjoint first chars — linear, no
#: backtracking blowup; re.S so \<newline> stays inside.
_LITERAL_RE = re.compile(
    r"('(?:[^'\\]|''|\\.)*'|\"(?:[^\"\\]|\"\"|\\.)*\")", re.S
)


def _rewrite(expr: str, target_alias: str | None, source_alias: str | None) -> str:
    """Map alias-qualified refs into the merge join's namespace:
    target cols are plain, source cols live in the __src struct."""
    # IGNORECASE: SQL identifiers are case-insensitive, so 'SET T.v =
    # S.v' with aliases declared as t/s is legal spark-sql (review-pass
    # r15 — the case-sensitive sub left the qualifiers intact and the
    # merge died on UNRESOLVED_COLUMN)

    def sub_outside_literals(pattern: str, repl: str, s: str) -> str:
        # review-pass r18 (reproduced): a quote-blind sub corrupted
        # string literals — WHEN MATCHED AND s.country = 'U.S.' with
        # source alias s rewrote the literal to 'U.__src.' (re.I makes
        # \bs\. match the S. inside it), so the merge silently compared
        # against a value that exists in no row.  Substitute only the
        # segments OUTSIDE quoted literals.
        parts = _LITERAL_RE.split(s)
        return "".join(
            p if i % 2 else re.sub(pattern, repl, p, flags=re.I)
            for i, p in enumerate(parts)
        )

    if source_alias:
        expr = sub_outside_literals(
            rf"\b{re.escape(source_alias)}\.", "__src.", expr
        )
    if target_alias:
        expr = sub_outside_literals(
            rf"\b{re.escape(target_alias)}\.", "", expr
        )
    return expr


# --- statement parsers -----------------------------------------------------


def parse_delete(sql: str) -> tuple[str, str | None]:
    m = re.match(
        r"^DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?$", _strip(sql), re.I | re.S
    )
    if not m:
        raise ValueError(f"unsupported DELETE syntax: {sql!r}")
    return m.group(1), (m.group(2).strip() if m.group(2) else None)


def parse_update(sql: str) -> tuple[str, dict[str, str], str | None]:
    m = re.match(
        r"^UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$",
        _strip(sql),
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"unsupported UPDATE syntax: {sql!r}")
    return (
        m.group(1),
        _parse_assignments(m.group(2)),
        (m.group(3).strip() if m.group(3) else None),
    )


_KW_STOP = r"(?!AS\b|USING\b|ON\b|WHEN\b)"


def parse_merge(sql: str) -> dict:
    s = _strip(sql)
    m = re.match(
        rf"^MERGE\s+INTO\s+(\w+)(?:\s+AS)?(?:\s+{_KW_STOP}(\w+))?"
        rf"\s+USING\s+(\w+)(?:\s+AS)?(?:\s+{_KW_STOP}(\w+))?"
        rf"\s+ON\s+(.+?)\s+(WHEN\s+.+)$",
        s,
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"unsupported MERGE syntax: {sql!r}")
    target, t_alias, source, s_alias, on_clause, whens = m.groups()

    km = re.match(
        r"^\(?\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*\)?$",
        on_clause.strip(),
    )
    if km:
        a1, c1, a2, c2 = km.groups()
        if c1 != c2:
            raise ValueError(
                f"MERGE ON must equate the same-named key on both sides, "
                f"got {c1!r} = {c2!r}"
            )
        on_key = c1
    else:
        km = re.match(r"^\(?\s*(\w+)\s*\)?$", on_clause.strip())
        if not km:
            raise ValueError(f"unsupported MERGE ON clause: {on_clause!r}")
        on_key = km.group(1)

    spec = {
        "target": target,
        "target_alias": t_alias,
        "source": source,
        "source_alias": s_alias,
        "on": on_key,
        "update_set": None,
        "insert": False,
        "delete_cond": None,
    }
    # The clause boundary is 'WHEN [NOT] MATCHED', not any bare 'WHEN'
    # (review-pass r18, reproduced): the old (?=\s+WHEN\s+|$) lookahead
    # truncated 'UPDATE SET t.v = CASE WHEN ... END' at the embedded
    # WHEN, parsing update_set={'v': 'CASE'} and re-scanning the rest
    # as clause soup.
    clause_re = re.compile(
        r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
        r"(DELETE|UPDATE\s+SET\s+.+?|INSERT\s+.+?)"
        r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED\b|\s*$)",
        re.I | re.S,
    )
    clauses, pos = [], 0
    for cm in clause_re.finditer(whens):
        # COVERAGE check (review-pass r18, reproduced): findall skips
        # text it cannot match, so 'WHEN NOT MATCHED BY SOURCE THEN
        # DELETE' silently vanished as long as one other clause parsed
        # — the MERGE then executed with missing semantics.  Every
        # character of the WHEN section must belong to a parsed clause.
        if whens[pos : cm.start()].strip():
            raise ValueError(
                f"unsupported MERGE WHEN clause at: "
                f"{whens[pos:cm.start()].strip()!r}"
            )
        pos = cm.end()
        clauses.append(cm.groups())
    if whens[pos:].strip():
        raise ValueError(
            f"unsupported MERGE WHEN clause at: {whens[pos:].strip()!r}"
        )
    if not clauses:
        raise ValueError(f"MERGE has no parseable WHEN clauses: {whens!r}")
    # SQL applies the FIRST matching WHEN clause per row; the engine
    # executes a fixed precedence (delete_cond, then update). Accept
    # only statements whose textual order coincides with that
    # precedence, and raise on duplicates/unreachable clauses instead
    # of silently overwriting a parsed clause or reordering semantics
    # (review-pass r15, reproduced: an unconditional UPDATE followed by
    # a conditional DELETE deleted rows SQL would update).
    matched_closed = False  # an unconditional MATCHED clause was seen
    for not_kw, and_cond, action in clauses:
        action = action.strip()
        head = action.split(None, 1)[0].upper()
        if not_kw:  # WHEN NOT MATCHED
            if and_cond:
                # silently dropping the condition would insert EVERY
                # unmatched row (review-pass r15, reproduced)
                raise ValueError(
                    "conditional 'WHEN NOT MATCHED AND ... THEN INSERT' is "
                    "not supported; filter the source instead"
                )
            if head != "INSERT" or action.split(None, 1)[1].strip() != "*":
                raise ValueError(
                    f"only 'WHEN NOT MATCHED THEN INSERT *' is supported, "
                    f"got {action!r}"
                )
            if spec["insert"]:
                raise ValueError("duplicate WHEN NOT MATCHED clause")
            spec["insert"] = True
            continue
        if matched_closed:
            raise ValueError(
                "WHEN MATCHED clause after an unconditional one is "
                "unreachable (SQL applies the first matching clause)"
            )
        if head == "DELETE":
            if spec["delete_cond"] is not None:
                raise ValueError("duplicate WHEN MATCHED ... DELETE clause")
            # (an UPDATE textually before a DELETE cannot reach here:
            # the supported UPDATE is unconditional, so it closes the
            # MATCHED clauses and the check above already raised)
            spec["delete_cond"] = and_cond.strip() if and_cond else "true"
            if not and_cond:
                matched_closed = True
        elif head == "UPDATE":
            if and_cond:
                raise ValueError(
                    "conditional 'WHEN MATCHED AND ... THEN UPDATE' is not "
                    "supported (only AND...DELETE); split into two MERGEs"
                )
            if spec["update_set"] is not None:
                raise ValueError("duplicate WHEN MATCHED ... UPDATE clause")
            set_clause = re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.I | re.S)
            spec["update_set"] = _parse_assignments(set_clause)
            matched_closed = True
        else:
            raise ValueError(f"unsupported MERGE action: {action!r}")
    return spec


# --- CREATE TABLE AS / INSERT (spark-sql S4/S5 write path) ------------------
# The reference's spark-sql flow writes with CREATE TABLE ... AS and
# INSERT INTO/OVERWRITE (README.md:35-45); these route to the managed
# snapshot layer. VALUES lists ride as `SELECT * FROM VALUES ...` so
# Spark's own literal parser handles them.

_CTAS_RE = re.compile(
    r"^CREATE\s+TABLE\s+(\w+)\s+AS\s+(SELECT\b.+)$", re.I | re.S
)
_INSERT_RE = re.compile(
    # dotted form admits the Iceberg branch-write target t.branch_<b>;
    # the ref part of the name uses the SAME charset as the ALTER ref
    # DDL grammar (\w plus - and .), so every branch that can be
    # CREATEd can also be written
    r"^INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\w+(?:\.\w[\w\-.]*)?)\s+"
    r"(SELECT\b.+|VALUES\s*\(.+)$",
    re.I | re.S,
)


def parse_ctas(sql: str) -> tuple[str, str]:
    m = _CTAS_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unsupported CREATE TABLE syntax: {sql!r}")
    return m.group(1), m.group(2).strip()


def parse_insert(sql: str) -> tuple[str, str, str]:
    """(mode 'INTO'|'OVERWRITE', table, select-or-values body)."""
    m = _INSERT_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unsupported INSERT syntax: {sql!r}")
    mode, table, body = m.groups()
    body = body.strip()
    if body.upper().startswith("VALUES"):
        body = f"SELECT * FROM {body}"
    return mode.upper(), table, body


#: the one-row result shapes of the SQL door
_COMMIT_RESULT = "table string, operation string, version int, n_rows bigint"
_ALTER_RESULT = "table string, operation string, version int, detail string"
_CALL_RESULT = "table string, procedure string, result string"


def _one_row(engine, ddl: str, *values) -> DataFrame:
    """A one-row result frame with the columns of ``ddl`` (``name
    type, ...``), built as a local relation: ``collect()`` runs no
    Spark job and starts no Python worker. The values bind as named
    parameters, never formatted into the SQL — table names and CALL
    results reach it. The columns are non-nullable."""
    cols = [c.split() for c in ddl.split(",")]
    row = ", ".join(f"CAST(:p{i} AS {typ})" for i, (_, typ) in enumerate(cols))
    names = ", ".join(f"`{name}`" for name, _ in cols)
    return engine.spark.sql(
        f"SELECT * FROM VALUES ({row}) AS s({names})",
        args={f"p{i}": v for i, v in enumerate(values)},
    )


def _run_body(engine, select: str) -> DataFrame:
    """Run a DML body SELECT with the same VERSION/TIMESTAMP AS OF
    resolution engine.sql applies to standalone SELECTs — snapshotting
    into a new table (CTAS/INSERT ... SELECT * FROM t VERSION AS OF v)
    previously failed because the DML dispatch ran before the
    time-travel rewrite (review-pass r15). spark.sql analyzes eagerly,
    so the __tt_* views resolve into the returned frame's plan and are
    safe to drop immediately (engine.sql's own pattern)."""
    query = rewrite_time_travel(engine, select)
    try:
        return engine.spark.sql(query)
    finally:
        while engine._tt_views:
            engine.spark.catalog.dropTempView(engine._tt_views.pop())


def execute_create(engine, sql: str) -> DataFrame:
    """CTAS into the managed warehouse; anything else (CREATE VIEW,
    CREATE TABLE with an explicit schema, no warehouse configured)
    falls through to Spark SQL."""
    try:
        table, select = parse_ctas(sql)
        engine._require_warehouse()
    except ValueError:
        return engine.spark.sql(sql)
    t = engine.create_table(table, _run_body(engine, select))
    return _one_row(
        engine, _COMMIT_RESULT, table, "ctas", t.current_version(), t.record_count()
    )


def execute_insert(engine, sql: str) -> DataFrame:
    """INSERT INTO → append commit; INSERT OVERWRITE → snapshot
    replace. Non-managed targets AND statement forms this subset does
    not own (e.g. a column-list `INSERT INTO t (a, b) VALUES …`) fall
    through to Spark SQL rather than failing on Spark's own surface."""
    try:
        mode, table, body = parse_insert(sql)
        branch = None
        if "." in table:
            # Iceberg branch write: INSERT INTO t.branch_<name> …
            base, suffix = table.split(".", 1)
            if not suffix.startswith("branch_"):
                raise ValueError(f"unsupported dotted INSERT target {table!r}")
            table, branch = base, suffix[len("branch_"):]
        t = engine.managed(table)
    except (KeyError, ValueError):
        return engine.spark.sql(sql)
    from .lakehouse import commit_with_retries, content_parent

    df = _run_body(engine, body)
    if branch is not None:
        if mode != "INTO":
            raise ValueError("INSERT OVERWRITE into a branch is not supported")
        if branch not in t._refs()["branches"]:
            raise KeyError(f"unknown branch {branch!r} on table {table!r}")
        version = commit_with_retries(
            lambda: t.write_to_branch(branch, df, positional=True)
        )
        # main's view is NOT refreshed: the branch pointer moved, main
        # didn't — that is the W of WAP. n_rows reports the INSERTED
        # batch, unlike the insert/insert_overwrite arms below, which
        # report the post-statement TABLE total — a branch INSERT's
        # table total is ambiguous (which ref?), the batch is not.
        # Counted from the manifests' per-file record counts (a branch
        # append lists its base's files plus the new ones), never by
        # re-running the source SELECT — a non-deterministic source
        # would otherwise report a count differing from the rows
        # actually written.
        base = content_parent(t._read_manifest(version, stats=False))
        n = t.record_count(version) - t.record_count(base)
        return _one_row(
            engine, _COMMIT_RESULT, f"{table}.branch_{branch}", "insert_branch",
            version, n,
        )
    if mode == "INTO":
        # SQL INSERT binds positionally (a VALUES frame arrives named
        # col1/col2, which the name-based append rejects)
        version = commit_with_retries(lambda: t.append_positional(df))
        op = "insert"
    else:
        # OVERWRITE binds positionally too: the raw overwrite() commits
        # the FRAME's schema, so a VALUES overwrite would rename the
        # table's columns to col1/col2
        version = commit_with_retries(lambda: t.overwrite_positional(df))
        op = "insert_overwrite"
    engine.refresh_view(table)
    return _one_row(engine, _COMMIT_RESULT, table, op, version, t.record_count())


_ALTER_ADD_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w()<>,\s]+?)"
    r"(?:\s+DEFAULT\s+(.+))?$",
    re.I | re.S,
)
_ALTER_DROP_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)$", re.I
)
_ALTER_RENAME_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$", re.I
)
# Iceberg branch/tag DDL (SQL-extensions grammar, M8):
#   ALTER TABLE t CREATE|REPLACE BRANCH [IF NOT EXISTS] b [AS OF VERSION n]
#   ALTER TABLE t CREATE TAG g [AS OF VERSION n]
#   ALTER TABLE t DROP BRANCH|TAG name
_ALTER_REF_CREATE_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+(CREATE|REPLACE)\s+(BRANCH|TAG)\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?(\w[\w\-.]*)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
    re.I,
)
_ALTER_REF_DROP_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+(BRANCH|TAG)\s+(\w[\w\-.]*)$", re.I
)


def parse_alter(sql: str) -> tuple[str, str, tuple]:
    """(action, table, args) for the supported ALTER TABLE subset —
    Iceberg's manifest-only schema evolution DDL (M6): ADD COLUMN
    [DEFAULT v], DROP COLUMN, RENAME COLUMN a TO b — plus the
    branch/tag ref DDL (M8): CREATE/REPLACE BRANCH, CREATE TAG,
    DROP BRANCH/TAG, each with optional AS OF VERSION. Anything else
    (type changes, reorders) raises rather than mis-executing."""
    s = _strip(sql)
    m = _ALTER_REF_CREATE_RE.match(s)
    if m:
        table, verb, kind, ine, name, version = m.groups()
        if verb.upper() == "REPLACE" and kind.upper() == "TAG":
            raise ValueError("REPLACE TAG is not supported (tags are immutable)")
        action = f"{verb.lower()}_{kind.lower()}"
        return action, table, (
            name,
            int(version) if version else None,
            ine is not None,
        )
    m = _ALTER_REF_DROP_RE.match(s)
    if m:
        table, kind, name = m.groups()
        return f"drop_{kind.lower()}", table, (name,)
    m = _ALTER_ADD_RE.match(s)
    if m:
        table, col, typ, default = m.groups()
        default_val = None
        if default is not None:
            raw = default.strip()
            if re.fullmatch(r"'[^']*'", raw):
                default_val = raw[1:-1]
            elif re.fullmatch(r"-?\d+", raw):
                default_val = int(raw)
            elif re.fullmatch(r"-?\d+\.\d+", raw):
                default_val = float(raw)
            else:
                raise ValueError(
                    f"ALTER ADD COLUMN: unsupported DEFAULT literal {raw!r}"
                )
        return "add", table, (col, typ.strip().lower(), default_val)
    m = _ALTER_DROP_RE.match(s)
    if m:
        return "drop", m.group(1), (m.group(2),)
    m = _ALTER_RENAME_RE.match(s)
    if m:
        return "rename", m.group(1), (m.group(2), m.group(3))
    raise ValueError(f"unsupported ALTER TABLE syntax: {sql!r}")


def execute_alter(engine, sql: str) -> DataFrame:
    """Managed-table schema evolution; anything else falls through to
    Spark SQL (its own ALTER surface: views, catalog tables, SET
    TBLPROPERTIES …) instead of this subset raising on statements it
    was never meant to own."""
    try:
        action, table, args = parse_alter(sql)
        t = engine.managed(table)
    except (ValueError, KeyError):
        return engine.spark.sql(sql)
    if action == "add":
        col, typ, default = args
        version = t.add_column(col, typ, default=default)
        detail = f"add {col} {typ}"
    elif action == "drop":
        version = t.drop_column(args[0])
        detail = f"drop {args[0]}"
    elif action == "rename":
        version = t.rename_column(args[0], args[1])
        detail = f"rename {args[0]} -> {args[1]}"
    else:  # branch/tag ref DDL — pointer moves, no data commit
        name = args[0]
        if action == "create_branch":
            version = t.create_branch(
                name, at_version=args[1], if_not_exists=args[2]
            )
        elif action == "replace_branch":
            # default = main_head(), not the raw log head: after any
            # branch write the log head is a STAGED snapshot, and
            # re-pointing another branch there leaks unaudited data
            version = t.replace_branch(
                name, args[1] if args[1] is not None else t.main_head()
            )
        elif action == "create_tag":
            version = t.create_tag(
                name, at_version=args[1], if_not_exists=args[2]
            )
        elif action == "drop_branch":
            version = t.drop_branch(name)
        else:  # drop_tag
            version = t.drop_tag(name)
        return _one_row(
            engine, _ALTER_RESULT, table, "alter", version, f"{action} {name}"
        )
    engine.refresh_view(table)
    return _one_row(engine, _ALTER_RESULT, table, "alter", version, detail)


# --- dispatcher ------------------------------------------------------------


def execute(engine, sql: str) -> DataFrame:
    """Parse + run one DML statement against engine-managed tables.

    Returns a one-row commit-summary frame — (table, operation,
    version, n_rows) for DML, (table, procedure, result) for CALL —
    the shape ``spark-sql`` users see from Iceberg, and keeps the
    SQL-door temp view pointed at the new snapshot.
    """
    kind = classify(sql)
    if kind is None:
        raise ValueError(f"not a DML statement: {sql!r}")
    spark = engine.spark

    if kind == "CALL":
        return execute_call(engine, sql)
    if kind == "ALTER":
        return execute_alter(engine, sql)
    if kind == "CREATE":
        return execute_create(engine, sql)
    if kind == "INSERT":
        return execute_insert(engine, sql)
    # Every DML statement runs under Iceberg's commit.retry semantics
    # (commit_with_retries, sources/lakehouse.py): the table methods
    # re-read current state on entry, so re-running the whole closure
    # on ConflictError is the contracted restartable pattern — a racing
    # writer costs a retry, not a user-visible crash; the FINAL
    # conflict still propagates so lost updates are never silent.
    from .lakehouse import commit_with_retries

    if kind == "DELETE":
        table, where = parse_delete(sql)
        t = engine.managed(table)
        version = commit_with_retries(
            lambda: t.delete_where(F.expr(where) if where else F.lit(True))
        )
    elif kind == "UPDATE":
        table, assignments, where = parse_update(sql)
        t = engine.managed(table)
        version = commit_with_retries(
            lambda: t.update_set(
                F.expr(where) if where else F.lit(True),
                {c: F.expr(e) for c, e in assignments.items()},
            )
        )
    else:  # MERGE
        spec = parse_merge(sql)
        table = spec["target"]
        t = engine.managed(table)
        source = spark.table(spec["source"])
        # SQL scoping: a declared alias HIDES the table name; without
        # one, the table name itself is the legal qualifier ('UPDATE
        # SET v = src.v' on an unaliased USING src — fuzz-net r16,
        # reproduced: the unrewritten qualifier died on
        # UNRESOLVED_COLUMN inside the merge frame)
        ta = spec["target_alias"] or spec["target"]
        sa = spec["source_alias"] or spec["source"]
        # no UPDATE clause -> {} (matched rows survive unchanged),
        # NEVER None: None means UPDATE SET * to merge_into, which
        # would rewrite matched rows from source in a delete-only
        # MERGE (review-pass r10 finding)
        update_cols = (
            {
                c: F.expr(_rewrite(e, ta, sa))
                for c, e in spec["update_set"].items()
            }
            if spec["update_set"] is not None
            else {}
        )
        delete_cond = (
            F.expr(_rewrite(spec["delete_cond"], ta, sa))
            if spec["delete_cond"]
            else None
        )
        version = commit_with_retries(
            lambda: t.merge_into(
                source,
                on=spec["on"],
                update_cols=update_cols,
                insert=spec["insert"],
                delete_cond=delete_cond,
            )
        )
    engine.refresh_view(table)
    return _one_row(
        engine, _COMMIT_RESULT, table, kind.lower(), version, t.record_count()
    )


# ---- SELECT-side time travel (Iceberg SQL: VERSION/TIMESTAMP AS OF) --------

# value: a quoted literal, or a bare token of [digits/word/:-.] — the
# class excludes trailing ';' ')' ',' so statement punctuation never
# rides into the parsed value. Table: possibly-qualified identifier.
_TT_RE = re.compile(
    r"\b((?:\w+\.)*\w+)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|[\w][\w\-:.]*)",
    re.IGNORECASE,
)


def rewrite_time_travel(engine, sql: str) -> str:
    """Rewrite each ``<managed_table> VERSION|TIMESTAMP AS OF <v>`` into
    a temp view over the resolved snapshot — the spark-sql time-travel
    syntax IcebergSparkSessionExtensions provides (SURVEY §2.1 S8),
    served by the snapshot layer. Non-managed tables are left alone
    (Spark raises its own error for unsupported sources)."""

    def sub(m: re.Match) -> str:
        name, kind, raw = m.group(1), m.group(2).upper(), m.group(3)
        if "." in name:
            # qualified references resolve through the catalog layer
            # (sources/catalog.py), not the engine's flat managed set —
            # rewriting would strand the prefix on an unqualified temp
            # view, so leave the statement for Spark to diagnose
            return m.group(0)
        try:
            t = engine.managed(name)
        except (KeyError, ValueError):
            return m.group(0)
        val = raw.strip("'")
        try:
            if kind == "VERSION" and not val.isdigit():
                # Iceberg: VERSION AS OF accepts a branch/tag name too
                df = t.read_ref(val)
            elif kind == "VERSION":
                df = t.read(version=int(val))
            else:
                from datetime import datetime, timezone

                if val.isdigit():
                    ts_ms = int(val) * 1000  # epoch seconds
                else:
                    ts = datetime.fromisoformat(val)
                    if ts.tzinfo is None:
                        # session pinned UTC (ensure_session_defaults):
                        # naive literals are UTC civil time
                        ts = ts.replace(tzinfo=timezone.utc)
                    ts_ms = int(ts.timestamp() * 1000)
                df = t.read_as_of_timestamp(ts_ms)
        except (ValueError, FileNotFoundError, KeyError):
            # unparseable value / missing snapshot / unknown ref: leave
            # the statement untouched so Spark produces its own
            # diagnostic instead of this rewriter crashing the SQL door
            return m.group(0)
        # Content-deterministic digest, NOT Python hash(): hash() is
        # seed-randomized per process and truncating it meant two
        # DIFFERENT literals could collide and silently rewrite both
        # references to the same snapshot. md5(table|kind|val) also
        # makes the name stable across sessions, so repeated literals
        # REUSE one view instead of accumulating.
        import hashlib

        digest = hashlib.md5(f"{name}|{kind}|{val}".encode()).hexdigest()[:12]
        view = f"__tt_{name}_{kind.lower()}_{digest}"
        df.createOrReplaceTempView(view)
        # the engine drops these after the statement executes so temp
        # views never accumulate / pin expired warehouse files
        getattr(engine, "_tt_views", set()).add(view)
        return view

    # Skip matches that BEGIN inside a quoted literal (review-pass r18,
    # reproduced — the _rewrite/_LITERAL_RE rule applied here too): a
    # string literal containing "<managed> VERSION AS OF 3" was
    # rewritten into a __tt_* view name INSIDE the literal, silently
    # changing the value the query compares against.  Position-based,
    # not split-based: the time-travel VALUE is often itself a quoted
    # literal (VERSION AS OF 'branch'), so a split would sever the
    # pattern from its value and stop legitimate rewrites.
    spans = [m.span() for m in _LITERAL_RE.finditer(sql)]

    def outside(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return sub(m)

    return _TT_RE.sub(outside, sql)


# ---- CALL system.* procedures (Iceberg stored-procedure surface) -----------

# args captured to the LAST paren (re.S + greedy), not the first:
# sort_order => 'zorder(a, b)' closes a paren mid-list.
_CALL_RE = re.compile(
    r"^CALL\s+(?:\w+\.)?system\.(\w+)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.S,
)

#: procedure -> (table-method, [(arg_name, converter), ...], aliases).
#: Positional or name => value arguments accepted, Iceberg-style; the
#: positional ORDER matches Iceberg's procedure signatures (e.g.
#: expire_snapshots(table, older_than, retain_last) — binding the first
#: positional to keep_last silently expired nothing for an
#: Iceberg-style CALL with an older_than timestamp). ``aliases`` maps
#: Iceberg's argument names onto the engine-layer keyword names.
_PROCEDURES = {
    "rollback_to_snapshot": (
        "rollback_to",
        [("version", int)],
        {"snapshot_id": "version"},
    ),
    "expire_snapshots": (
        "expire_snapshots",
        [("older_than_ms", int), ("keep_last", int)],
        {"older_than": "older_than_ms", "retain_last": "keep_last"},
    ),
    "rewrite_data_files": (
        "rewrite_data_files",
        [("strategy", str), ("sort_order", str), ("target_partitions", int)],
        {},
    ),
    "cherrypick_snapshot": (
        "cherrypick",
        [("version", int)],
        {"snapshot_id": "version"},
    ),
    "remove_orphan_files": (
        "remove_orphan_files",
        [("older_than_ms", int)],
        {"older_than": "older_than_ms"},
    ),
    "rewrite_manifests": ("rewrite_manifests", [], {}),
    # branch-layer procedure (M8)
    "fast_forward": ("fast_forward", [("branch", str), ("to", str)], {}),
}


def parse_call(sql: str) -> tuple[str, str, dict]:
    """(procedure, table, kwargs) for CALL [cat.]system.proc('t', ...)."""
    m = _CALL_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unsupported CALL statement: {sql!r}")
    proc, raw_args = m.group(1).lower(), m.group(2)
    if proc not in _PROCEDURES:
        raise ValueError(
            f"unknown procedure {proc!r}; supported: {sorted(_PROCEDURES)}"
        )
    _method, spec, aliases = _PROCEDURES[proc]
    args = [a.strip() for a in _split_top_level(raw_args) if a.strip()]
    if not args:
        raise ValueError(f"CALL {proc}: missing table argument")
    named = dict(spec)
    table: str | None = None
    kwargs: dict = {}
    next_pos = 0  # positional cursor — independent of named args
    seen_named = False
    for idx, a in enumerate(args):
        if "=>" in a:
            seen_named = True
            k, v = (x.strip() for x in a.split("=>", 1))
            if k == "table":
                if table is not None:
                    # a positional table + 'table =>' (or two named
                    # ones) used to silently overwrite the binding —
                    # the procedure then ran against the WRONG table
                    # (review-pass r15); Iceberg rejects the duplicate
                    raise ValueError(
                        f"CALL {proc}: duplicate table argument "
                        f"({table!r} and {v.strip(chr(39) + chr(34))!r})"
                    )
                table = v.strip("'\"")
                continue
            k = aliases.get(k, k)  # Iceberg arg names → engine kwargs
            if k not in named:
                raise ValueError(f"CALL {proc}: unknown argument {k!r}")
            if k in kwargs:
                raise ValueError(f"CALL {proc}: duplicate argument {k!r}")
            kwargs[k] = named[k](v.strip("'\""))
            continue
        # positional after any named arg is ambiguous — Iceberg rejects
        # the mixture too; fail loudly instead of mis-binding
        if seen_named:
            raise ValueError(
                f"CALL {proc}: positional argument {a!r} after named "
                "arguments"
            )
        if idx == 0:
            table = a.strip("'\"")
            continue
        if next_pos >= len(spec):
            raise ValueError(f"CALL {proc}: too many arguments")
        k, conv = spec[next_pos]
        next_pos += 1
        if k in kwargs:
            raise ValueError(f"CALL {proc}: duplicate argument {k!r}")
        kwargs[k] = conv(a.strip("'\""))
    if table is None:
        raise ValueError(f"CALL {proc}: missing table argument")
    return proc, table, kwargs


def execute_call(engine, sql: str) -> DataFrame:
    proc, table, kwargs = parse_call(sql)
    method, _spec, _aliases = _PROCEDURES[proc]
    t = engine.managed(table)
    from .lakehouse import commit_with_retries

    # procedures re-read current state on entry (restartable), so they
    # get the same commit.retry treatment as DML; expire/orphan sweeps
    # never raise ConflictError and pass through unaffected
    result = commit_with_retries(lambda: getattr(t, method)(**kwargs))
    engine.refresh_view(table)
    summary = (
        ",".join(str(v) for v in result)
        if isinstance(result, list)
        else str(result)
    )
    return _one_row(engine, _CALL_RESULT, table, proc, summary)
