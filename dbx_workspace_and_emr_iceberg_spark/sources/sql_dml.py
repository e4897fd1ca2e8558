"""SQL front door for lakehouse DML, DDL, CALL and time travel.

In the reference, ``spark-sql`` users type MERGE/UPDATE/DELETE, INSERT,
CREATE TABLE AS, CALL and ``VERSION AS OF`` against Iceberg tables
(its README.md:35-45). Spark's own parser reads all of these
statements. ``IcebergSparkSessionExtensions`` (main.tf:803) adds
only Iceberg's own grammar, such as branch and tag DDL, and hands every
other statement to Spark's parser.

This module does the same. Each statement is parsed once, by the
session's parser (Iceberg's, when its runtime is on the classpath), and
the door dispatches on the class of the plan it returns. Names come
from the plan's nodes. The text of each condition, assignment and
query body is that node's span in the original statement, so
``F.expr`` and ``spark.sql`` receive the statement's own text. Only
when Spark's parser rejects a statement does the door try the grammar
only Iceberg's extension has: branch/tag DDL, and INSERT into a
``t.branch_<name>`` whose name holds ``-`` or ``.``; and a MERGE with a
NOT MATCHED clause before a MATCHED one is parsed again with its clause
groups in grammar order.

The statements run on the snapshot layer (:class:`LakehouseTable`).
The DML subset — anything else raises ``ValueError`` rather than
mis-executing:

    DELETE FROM <table> [WHERE <condition>]

    UPDATE <table> SET <col> = <expr> [, ...] [WHERE <condition>]

    MERGE INTO <table> [AS] [<t>] USING <source> [AS] [<s>]
    ON <t>.<key> = <s>.<key>
    [WHEN MATCHED AND <cond> THEN DELETE]
    [WHEN MATCHED THEN UPDATE SET <t>.<col> = <expr> [, ...]]
    [WHEN NOT MATCHED THEN INSERT *]      (at any position)

Conditions and expressions run through ``F.expr``, so the full Spark SQL
expression language works inside them.
"""

from __future__ import annotations

import hashlib
import re
import threading
from collections import namedtuple
from datetime import datetime, timezone

from pyspark.errors.exceptions.captured import ParseException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lakehouse import commit_with_retries, content_parent

#: the door's statement kind for each plan class it runs itself; every
#: other plan runs in Spark SQL
_KINDS = {
    "DeleteFromTable": "DELETE", "UpdateTable": "UPDATE", "MergeIntoTable": "MERGE",
    "InsertIntoStatement": "INSERT", "CreateTableAsSelect": "CREATE", "Call": "CALL",
    "AddColumns": "ALTER", "DropColumns": "ALTER", "RenameColumn": "ALTER",
}

#: Spark's parser lets only the last MATCHED (or NOT MATCHED) clause of
#: a MERGE omit its condition, since SQL applies the first clause that
#: matches a row; the door reports those refusals as its own
_MERGE_ORDER = {
    "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION": "WHEN MATCHED clause after an "
    "unconditional one is unreachable (SQL applies the first matching clause)",
    "NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION": "duplicate WHEN NOT "
    "MATCHED clause",
}

# Iceberg-only grammar (its SQL extensions), tried only when Spark's
# parser rejects a statement. A ref name is \w plus '-' and '.' in the
# DDL and in the branch INSERT target alike, so every branch that can
# be created can also be written:
#   ALTER TABLE t CREATE|REPLACE BRANCH [IF NOT EXISTS] b [AS OF VERSION n]
#   ALTER TABLE t CREATE TAG [IF NOT EXISTS] g [AS OF VERSION n]
#   ALTER TABLE t DROP BRANCH|TAG name
#   INSERT INTO t.branch_<name> SELECT ... | VALUES (...)
_REF = r"(\w[\w\-.]*)"
_ALTER_REF_CREATE_RE = re.compile(
    r"^ALTER\s+TABLE\s+(\w+)\s+(CREATE|REPLACE)\s+(BRANCH|TAG)\s+"
    rf"(IF\s+NOT\s+EXISTS\s+)?{_REF}(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
    re.I,
)
_ALTER_REF_DROP_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+(BRANCH|TAG)\s+{_REF}$", re.I
)
_BRANCH_INSERT_RE = re.compile(
    rf"^INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\w+)\.branch_{_REF}\s+"
    r"(SELECT\b.+|VALUES\s*\(.+)$",
    re.I | re.S,
)
_ICEBERG_ONLY = (
    ("ALTER", _ALTER_REF_CREATE_RE), ("ALTER", _ALTER_REF_DROP_RE),
    ("INSERT", _BRANCH_INSERT_RE),
)


#: set in a thread while it parses: a statement the parser rejects is
#: either grammar the door runs or re-raised to the caller, so PySpark's
#: query-context log of that rejection is dropped, in that thread only
_PARSING = threading.local()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    lambda record: not getattr(_PARSING, "on", False)
)


def _parse(spark: SparkSession, sql: str) -> tuple:
    """(kind, node, sql) for one statement: the session parser's plan
    and its door kind (None for a statement Spark SQL runs), or, for
    Iceberg-only grammar that Spark's parser rejects, the matching
    regex's match. ``sql`` is the text the node's spans index: the
    statement itself, or a MERGE with its clauses in grammar order."""
    was, _PARSING.on = getattr(_PARSING, "on", False), True
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except ParseException as e:
        if e.getCondition() in _MERGE_ORDER:
            raise ValueError(_MERGE_ORDER[e.getCondition()]) from None
        stmt = sql.strip().rstrip(";").strip()
        for kind, rx in _ICEBERG_ONLY:
            m = rx.match(stmt)
            if m:
                return kind, m, sql
        ordered = _grammar_order(spark, sql)
        if ordered == sql:
            raise
        try:
            return _parse(spark, ordered)
        except ParseException:
            raise e from None
    finally:
        _PARSING.on = was
    return _KINDS.get(plan.nodeName()), plan, sql


def _grammar_order(spark: SparkSession, sql: str) -> str:
    """A MERGE with its WHEN clauses in the order Spark's grammar reads
    them: MATCHED, then NOT MATCHED, then NOT MATCHED BY SOURCE, each
    group in its written order. The groups act on disjoint rows, so the
    order between groups does not change what the MERGE does. Clause
    boundaries come from Spark's own lexer. Any other statement, and a
    MERGE already in grammar order, comes back unchanged."""
    parser = spark._jvm.org.apache.spark.sql.catalyst.parser
    chars = spark._jvm.org.antlr.v4.runtime.CharStreams.fromString(sql)
    lexer = parser.SqlBaseLexer(parser.UpperCaseCharStream(chars))
    toks = [
        (t.getText().upper(), t.getStartIndex())
        for t in lexer.getAllTokens() if t.getChannel() == 0
    ]
    # (start, group) of each clause, a WHEN outside parentheses and
    # CASE; a trailing ';' and what follows it stay last
    depth, cuts = 0, []
    merge = toks and toks[0][0] == "MERGE"
    for i, (word, start) in enumerate(toks if merge else ()):
        depth += (word in ("(", "CASE")) - (word in (")", "END"))
        after = " ".join(w for w, _ in toks[i + 1 : i + 5])
        if depth == 0 and word in ("WHEN", ";"):
            group = 3 if word == ";" else 0 if after.startswith("MATCHED") else (
                2 if after == "NOT MATCHED BY SOURCE" else 1
            )
            cuts.append((start, group))
    groups = [g for _, g in cuts]
    if groups == sorted(groups):
        return sql
    bounds = [s for s, _ in cuts] + [len(sql)]
    texts = [sql[a:b].rstrip() for a, b in zip(bounds, bounds[1:])]
    ordered = sorted(zip(groups, texts), key=lambda gt: gt[0])
    # a newline ends a trailing -- comment before the next clause
    return sql[: bounds[0]] + "\n".join(t for _, t in ordered)


def classify(sql: str) -> str | None:
    """'MERGE' | 'UPDATE' | 'DELETE' | 'INSERT' | 'CREATE' | 'ALTER' |
    'CALL' for statements this module executes, else None (also for a
    statement the parser rejects)."""
    try:
        return _parse(SparkSession.active(), sql)[0]
    except ParseException:
        return None


def _statement(sql: str, kind: str) -> tuple:
    """(sql, node): the active session's parse of ``sql``, which must be
    ``kind``, and the text its spans index."""
    try:
        got, node, text = _parse(SparkSession.active(), sql)
    except ParseException as e:
        raise ValueError(f"unsupported {kind} syntax: {sql!r}") from e
    if got != kind:
        raise ValueError(f"unsupported {kind} syntax: {sql!r}")
    return text, node


# --- reading the parsed plan -------------------------------------------------


def _seq(s) -> list:
    """A Scala Seq as a list."""
    return [s.apply(i) for i in range(s.size())]


def _origin(node) -> tuple[int, int]:
    """The [start, stop] character span the parser recorded for node."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get()


def _name(rel) -> str:
    """The one-part name of an unresolved table reference."""
    table = rel.nodeName() in ("UnresolvedRelation", "UnresolvedTable")
    parts = _seq(rel.multipartIdentifier()) if table else []
    if len(parts) != 1:
        raise ValueError(f"unsupported table reference: {rel.toString()!r}")
    return parts[0]


def _value(e) -> str:
    """A string or integer literal's value, or a one-part name."""
    kind = e.nodeName()
    parts = _seq(e.nameParts()) if kind == "UnresolvedAttribute" else []
    if len(parts) == 1:
        return parts[0]
    if kind == "Literal" and e.dataType().typeName() in ("string", "integer", "long"):
        return e.toString()
    raise ValueError(f"unsupported value {e.toString()!r}")


def _shared(e) -> bool:
    """TRUE and FALSE are shared objects: their recorded span is stale."""
    return e.nodeName() == "Literal" and e.dataType().typeName() == "boolean"


def _span(sql: str, node) -> tuple[int, int]:
    """The [start, stop] span of node's text in sql. Where a node's
    recorded span starts after its first operand (a predicate, or a
    query's ORDER BY / LIMIT), the span is widened to that operand and
    to the parentheses that close around it."""
    a, b = _origin(node)
    n = node
    while n.children().size():
        n = n.children().apply(0)
        if _shared(n):
            break
        s = _origin(n)[0]
        if s > a:
            break
        if s < a:
            s, t = _span(sql, n)
            for _ in range(sql.count(")", t + 1, a)):
                s = sql.rindex("(", 0, s)
            return s, b
    return a, b


def _ident(part: str) -> str:
    plain = part.isascii() and part.isidentifier()
    return part if plain else "`" + part.replace("`", "``") + "`"


def _text(sql: str, e, aliases: dict[str, str] | None = None) -> str:
    """Expression e's text in sql. With ``aliases`` (lower-cased alias ->
    replacement prefix), each column reference whose first name part
    is one of the aliases has that part replaced."""
    if _shared(e):
        return e.toString()
    if e.nodeName() == "Exists":
        # EXISTS records the span of the clause around it, not its own
        start, stop = _span(sql, e.plan())
        return f"EXISTS ({sql[start : stop + 1]})"
    refs = []
    for leaf in _seq(e.collectLeaves()) if aliases else ():
        ref = leaf.nodeName() == "UnresolvedAttribute"
        parts = _seq(leaf.nameParts()) if ref else []
        prefix = aliases.get(parts[0].lower()) if len(parts) > 1 else None
        if prefix is not None:
            new = prefix + ".".join(map(_ident, parts[1:]))
            refs.append((*_origin(leaf), new))
    return _splice(sql, *_span(sql, e), refs)


def _splice(sql: str, start: int, stop: int, subs) -> str:
    """sql[start:stop+1] with sql[s:t+1] replaced by new for each
    (s, t, new) in subs."""
    out, pos = [], start
    for s, t, new in sorted(subs):
        out += [sql[pos:s], new]
        pos = t + 1
    return "".join(out) + sql[pos : stop + 1]


def _column(key, qualifier: str) -> str:
    """The column a SET assignment names: ``c``, or ``q.c`` where ``q``
    is the table's name or alias (lower-cased in ``qualifier``)."""
    parts = _seq(key.nameParts())
    if len(parts) == 2 and parts[0].lower() == qualifier:
        parts = parts[1:]
    if len(parts) != 1:
        raise ValueError(f"unsupported SET target: {'.'.join(parts)!r}")
    return parts[0]


#: a query in a statement: its plan, its [start, stop] span in the
#: statement, and the prefix that makes the span a SELECT (VALUES lists
#: ride as ``SELECT * FROM VALUES ...``)
_Query = namedtuple("_Query", "sql plan start stop prefix")


def _query(sql: str, q) -> _Query:
    """The body of an INSERT or CTAS."""
    kind = q.nodeName()
    if kind == "UnresolvedRelation":  # TABLE t
        raise ValueError(f"unsupported query body: {sql!r}")
    values = kind in ("LocalRelation", "UnresolvedInlineTable")
    return _Query(sql, q, *_span(sql, q), "SELECT * FROM " if values else "")


def _body(q: _Query) -> str:
    return q.prefix + q.sql[q.start : q.stop + 1]


# --- statement parsers -------------------------------------------------------


def _delete(sql: str, node) -> tuple[str, str | None]:
    where = _text(sql, node.condition())
    # no WHERE parses to TRUE, and deletes every row as WHERE TRUE does
    return _name(node.table()), (None if where == "true" else where)


def parse_delete(sql: str) -> tuple[str, str | None]:
    return _delete(*_statement(sql, "DELETE"))


def _update(sql: str, node) -> tuple[str, dict[str, str], str | None]:
    table = _name(node.table())
    assignments = {
        _column(a.key(), table.lower()): _text(sql, a.value())
        for a in _seq(node.assignments())
    }
    cond = node.condition()
    return table, assignments, (_text(sql, cond.get()) if cond.isDefined() else None)


def parse_update(sql: str) -> tuple[str, dict[str, str], str | None]:
    return _update(*_statement(sql, "UPDATE"))


def _relation(rel) -> tuple[str, str | None]:
    """(table, alias) of a MERGE target or source."""
    if rel.nodeName() == "SubqueryAlias":
        return _name(rel.child()), rel.alias()
    return _name(rel), None


def _on_key(sql: str, cond) -> str:
    """The key a MERGE ON clause joins on: ``k``, or ``a.k = b.k``."""
    eq = cond.nodeName() == "EqualTo"
    names = [
        _seq(n.nameParts()) if n.nodeName() == "UnresolvedAttribute" else []
        for n in ([cond.left(), cond.right()] if eq else [cond])
    ]
    if all(1 <= len(p) <= (2 if eq else 1) for p in names):
        keys = [p[-1] for p in names]
        if keys[0] != keys[-1]:
            raise ValueError(
                f"MERGE ON must equate the same-named key on both sides, "
                f"got {keys[0]!r} = {keys[1]!r}"
            )
        return keys[0]
    raise ValueError(f"unsupported MERGE ON clause: {_text(sql, cond)!r}")


def _merge(sql: str, node, rewrite: bool = False) -> dict:
    """The MERGE spec. With ``rewrite``, column references qualified by
    the target alias lose the qualifier and those qualified by the
    source alias read the merge frame's ``__src`` struct; a declared
    alias hides the table name, else the table name is the qualifier."""
    target, t_alias = _relation(node.targetTable())
    source, s_alias = _relation(node.sourceTable())
    if node.notMatchedBySourceActions().nonEmpty():
        raise ValueError("WHEN NOT MATCHED BY SOURCE is not supported")
    if node.withSchemaEvolution():
        # the snapshot layer's merge keeps the target's schema
        raise ValueError("MERGE WITH SCHEMA EVOLUTION is not supported")
    ta = (t_alias or target).lower()
    # the source wins when both sides use one qualifier
    aliases = {ta: "", (s_alias or source).lower(): "__src."} if rewrite else None
    spec = dict(
        target=target, target_alias=t_alias, source=source, source_alias=s_alias,
        on=_on_key(sql, node.mergeCondition()), update_set=None, insert=False,
        delete_cond=None,
    )
    # Spark's parser has already refused a MATCHED clause after an
    # unconditional one, so the textual order here is the order the
    # engine applies: the conditional DELETE, then the UPDATE
    for action in _seq(node.matchedActions()):
        kind, cond = action.nodeName(), action.condition()
        key = {"DeleteAction": "delete_cond", "UpdateAction": "update_set"}.get(kind)
        if key is None:
            raise ValueError(f"unsupported MERGE action: {action.toString()!r}")
        if spec[key] is not None:
            raise ValueError(f"duplicate WHEN MATCHED ... {kind[:-6].upper()} clause")
        if key == "delete_cond":
            spec[key] = _text(sql, cond.get(), aliases) if cond.isDefined() else "true"
        elif cond.isDefined():
            raise ValueError(
                "conditional 'WHEN MATCHED AND ... THEN UPDATE' is not "
                "supported (only AND...DELETE); split into two MERGEs"
            )
        else:
            spec[key] = {
                _column(a.key(), ta): _text(sql, a.value(), aliases)
                for a in _seq(action.assignments())
            }
    for action in _seq(node.notMatchedActions()):
        if action.condition().isDefined():
            # dropping the condition would insert EVERY unmatched row
            raise ValueError(
                "conditional 'WHEN NOT MATCHED AND ... THEN INSERT' is "
                "not supported; filter the source instead"
            )
        if action.nodeName() != "InsertStarAction":
            raise ValueError(
                f"only 'WHEN NOT MATCHED THEN INSERT *' is supported, "
                f"got {action.toString()!r}"
            )
        spec["insert"] = True
    return spec


def parse_merge(sql: str) -> dict:
    return _merge(*_statement(sql, "MERGE"))


# --- CREATE TABLE AS / INSERT (spark-sql S4/S5 write path) ------------------
# The reference's spark-sql flow writes with CREATE TABLE ... AS and
# INSERT INTO/OVERWRITE (README.md:35-45); these route to the managed
# snapshot layer.


def _ctas(sql: str, node) -> tuple[str, _Query]:
    """(table, body) of a plain ``CREATE TABLE t AS <query>``: a clause
    between the name and AS (USING, PARTITIONED BY, LOCATION, ...) is
    not the managed layer's to honor, so those forms raise."""
    name, body = node.name(), _query(sql, node.query())
    between = sql[_origin(name)[1] + 1 : body.start].replace("(", " ").split()
    parts = _seq(name.nameParts())
    if len(parts) != 1 or [w.upper() for w in between] != ["AS"] or (
        node.ignoreIfExists() or node.tableSpec().external()
    ):
        raise ValueError(f"unsupported CREATE syntax: {sql!r}")
    return parts[0], body


def parse_ctas(sql: str) -> tuple[str, str]:
    table, body = _ctas(*_statement(sql, "CREATE"))
    return table, _body(body)


def _insert(spark: SparkSession, sql: str, node) -> tuple[str, str, _Query]:
    """(mode 'INTO'|'OVERWRITE', target as written, body). The target is
    ``t`` or the Iceberg branch write ``t.branch_<name>``."""
    if isinstance(node, re.Match):
        mode, table, ref, body = node.groups()
        _, plan, body = _parse(spark, body)
        body = _query(body, plan)
        return mode.upper(), f"{table}.branch_{ref}", body
    parts = _seq(node.table().multipartIdentifier())
    if len(parts) > 2 or node.userSpecifiedCols().nonEmpty() or (
        node.partitionSpec().nonEmpty() or node.byName() or node.ifPartitionNotExists()
    ):
        raise ValueError(f"unsupported INSERT syntax: {sql!r}")
    mode = "OVERWRITE" if node.overwrite() else "INTO"
    return mode, ".".join(parts), _query(sql, node.query())


def parse_insert(sql: str) -> tuple[str, str, str]:
    """(mode 'INTO'|'OVERWRITE', table, select-or-values body)."""
    mode, table, body = _insert(SparkSession.active(), *_statement(sql, "INSERT"))
    return mode, table, _body(body)


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


def _run_plan(engine, sql: str, node) -> DataFrame:
    """The frame of sql's parsed plan, as spark.sql builds it from the
    plan it parses (a command runs here, eagerly). A statement only
    Iceberg's grammar reads goes to spark.sql, which reports Spark's own
    parse error for it."""
    spark = engine.spark
    if isinstance(node, re.Match):
        return spark.sql(sql)
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(spark._jsparkSession, node), spark)


def _run_query(engine, q: _Query) -> DataFrame:
    """The query's frame, with the managed tables it reads bound
    (:func:`_bind`): a query without time travel runs the parsed plan,
    one with it runs its rewritten text in spark.sql. Both analyze
    eagerly, so each view resolves into the returned frame's plan."""
    subs = _bind(engine, q.plan)
    if not subs:
        return _run_plan(engine, q.sql, q.plan)
    return engine.spark.sql(q.prefix + _splice(q.sql, q.start, q.stop, subs))


def execute_create(engine, sql: str, node) -> DataFrame:
    """CTAS into the managed warehouse; any other CREATE TABLE AS form,
    or no warehouse configured, falls through to Spark SQL."""
    try:
        table, body = _ctas(sql, node)
        engine._require_warehouse()
    except ValueError:
        return _run_plan(engine, sql, node)
    t = engine.create_table(table, _run_query(engine, body))
    version, n = t.current_version(), t.record_count()
    return _one_row(engine, _COMMIT_RESULT, table, "ctas", version, n)


def execute_insert(engine, sql: str, node) -> DataFrame:
    """INSERT INTO → append commit; INSERT OVERWRITE → snapshot
    replace. Non-managed targets AND statement forms this subset does
    not own (e.g. a column-list `INSERT INTO t (a, b) VALUES …`) fall
    through to Spark SQL rather than failing on Spark's own surface."""
    try:
        mode, table, body = _insert(engine.spark, sql, node)
        # Iceberg branch write: INSERT INTO t.branch_<name> …
        table, _, ref = table.partition(".")
        if ref and not ref.startswith("branch_"):
            raise ValueError(f"unsupported dotted INSERT target {ref!r}")
        branch = ref[len("branch_"):] if ref else None
        t = engine.managed(table)
    except (KeyError, ValueError):
        return _run_plan(engine, sql, node)
    df = _run_query(engine, body)
    if branch is not None:
        if mode != "INTO":
            raise ValueError("INSERT OVERWRITE into a branch is not supported")
        if branch not in t._refs()["branches"]:
            raise KeyError(f"unknown branch {branch!r} on table {table!r}")
        version = commit_with_retries(
            lambda: t.write_to_branch(branch, df, positional=True)
        )
        # the branch pointer moved, main didn't — that is the W of
        # WAP. n_rows reports the INSERTED batch, unlike the
        # insert/insert_overwrite arms below, which report the
        # post-statement TABLE total — a branch INSERT's
        # table total is ambiguous (which ref?), the batch is not.
        # Counted from the manifests' per-file record counts (a branch
        # append lists its base's files plus the new ones), never by
        # re-running the source SELECT — a non-deterministic source
        # would otherwise report a count differing from the rows
        # actually written.
        base = content_parent(t._read_manifest(version, stats=False))
        n = t.record_count(version) - t.record_count(base)
        target = f"{table}.branch_{branch}"
        return _one_row(engine, _COMMIT_RESULT, target, "insert_branch", version, n)
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
    return _one_row(engine, _COMMIT_RESULT, table, op, version, t.record_count())


def _alter(sql: str, node) -> tuple[str, str, tuple]:
    """(action, table, args) for the supported ALTER TABLE subset."""
    if isinstance(node, re.Match) and node.re is _ALTER_REF_CREATE_RE:
        table, verb, kind, ine, name, version = node.groups()
        if verb.upper() == "REPLACE" and kind.upper() == "TAG":
            raise ValueError("REPLACE TAG is not supported (tags are immutable)")
        args = (name, int(version) if version else None, ine is not None)
        return f"{verb.lower()}_{kind.lower()}", table, args
    if isinstance(node, re.Match):
        table, kind, name = node.groups()
        return f"drop_{kind.lower()}", table, (name,)
    unsupported = ValueError(f"unsupported ALTER TABLE syntax: {sql!r}")
    kind, table = node.nodeName(), _name(node.table())
    if kind == "AddColumns":
        c, *more = _seq(node.columnsToAdd())
        if more or c.path().isDefined() or not c.nullable() or (
            c.comment().isDefined() or c.position().isDefined()
        ):
            raise unsupported
        default = None
        if c.default().isDefined():
            d = c.default().get()
            lit = d.child().nodeName() == "Literal"
            typ = d.child().dataType().typeName() if lit else ""
            conv = {"string": str, "integer": int, "long": int}.get(typ)
            conv = conv or (float if typ.startswith("decimal") else None)
            if conv is None:
                raise ValueError(
                    f"ALTER ADD COLUMN: unsupported DEFAULT literal {d.originalSQL()!r}"
                )
            default = conv(d.child().toString())
        return "add", table, (c.colName(), c.dataType().simpleString(), default)
    cols = (
        [_seq(f.name()) for f in _seq(node.columnsToDrop())]
        if kind == "DropColumns" else [_seq(node.column().name())]
    )
    if len(cols) != 1 or len(cols[0]) != 1 or (
        kind == "DropColumns" and node.ifExists()
    ):
        raise unsupported
    if kind == "DropColumns":
        return "drop", table, (cols[0][0],)
    return "rename", table, (cols[0][0], node.newName())


def parse_alter(sql: str) -> tuple[str, str, tuple]:
    """(action, table, args) for the supported ALTER TABLE subset —
    Iceberg's manifest-only schema evolution DDL (M6): ADD COLUMN
    [DEFAULT v], DROP COLUMN, RENAME COLUMN a TO b — plus the
    branch/tag ref DDL (M8): CREATE/REPLACE BRANCH, CREATE TAG,
    DROP BRANCH/TAG, each with optional AS OF VERSION. Anything else
    (type changes, reorders) raises rather than mis-executing."""
    return _alter(*_statement(sql, "ALTER"))


#: schema-change action -> (table method, result detail); a branch/tag
#: action is the name of its table method
_ALTER_METHODS = {
    "add": ("add_column", "add {0} {1}"),
    "drop": ("drop_column", "drop {0}"),
    "rename": ("rename_column", "rename {0} -> {1}"),
}


def execute_alter(engine, sql: str, node) -> DataFrame:
    """Managed-table schema evolution and branch/tag DDL; anything else
    falls through to Spark SQL (its own ALTER surface: views, catalog
    tables, SET TBLPROPERTIES …) instead of this subset raising on
    statements it was never meant to own."""
    try:
        action, table, args = _alter(sql, node)
        t = engine.managed(table)
    except (ValueError, KeyError):
        return _run_plan(engine, sql, node)
    if action == "replace_branch":
        # default = main_head(), not the raw log head: after any branch
        # write the log head is a STAGED snapshot, and re-pointing
        # another branch there leaks unaudited data
        args = (args[0], args[1] if args[1] is not None else t.main_head())
    method, detail = _ALTER_METHODS.get(action, (action, action + " {0}"))
    version = getattr(t, method)(*args)
    detail = detail.format(*args)
    return _one_row(engine, _ALTER_RESULT, table, "alter", version, detail)


# --- dispatcher ------------------------------------------------------------


def execute(engine, sql: str) -> DataFrame:
    """Parse one statement with the session's parser and run it.

    DML, INSERT, CTAS, ALTER and CALL on engine-managed tables return a
    one-row summary frame — (table, operation, version, n_rows) for
    writes, (table, procedure, result) for CALL — the shape
    ``spark-sql`` users see from Iceberg. Every other statement runs in
    Spark SQL. Each managed table a statement reads is bound when the
    statement runs (:func:`_bind`), so it reads main's head, whichever
    door wrote last. The __tt_* views are dropped after the statement,
    on error too, so they never accumulate in the session or pin
    expired warehouse files.
    """
    kind, node, sql = _parse(engine.spark, sql)
    try:
        if kind is None:
            return _run_query(engine, _Query(sql, node, 0, len(sql) - 1, ""))
        run = {"CALL": execute_call, "ALTER": execute_alter, "CREATE": execute_create,
               "INSERT": execute_insert}.get(kind)
        if run is not None:
            return run(engine, sql, node)
        # Every DML statement runs under Iceberg's commit.retry semantics
        # (commit_with_retries, sources/lakehouse.py): the table methods
        # re-read current state on entry, so re-running the whole closure
        # on ConflictError is the contracted restartable pattern — a racing
        # writer costs a retry, not a user-visible crash; the FINAL
        # conflict still propagates so lost updates are never silent.
        # A DML statement reads its MERGE source and the subqueries of its
        # conditions and assignments, never the target it writes.
        _bind(engine, *_seq(node.children())[1:], *_seq(node.innerChildren()))
        if kind == "DELETE":
            table, where = _delete(sql, node)
            t = engine.managed(table)
            cond = F.expr(where) if where else F.lit(True)
            version = commit_with_retries(lambda: t.delete_where(cond))
        elif kind == "UPDATE":
            table, assignments, where = _update(sql, node)
            t = engine.managed(table)
            cond = F.expr(where) if where else F.lit(True)
            cols = {c: F.expr(e) for c, e in assignments.items()}
            version = commit_with_retries(lambda: t.update_set(cond, cols))
        else:  # MERGE
            spec = _merge(sql, node, rewrite=True)
            table = spec["target"]
            t = engine.managed(table)
            source = engine.spark.table(spec["source"])
            # no UPDATE clause -> {} (matched rows survive unchanged),
            # NEVER None: None means UPDATE SET * to merge_into, which
            # would rewrite matched rows from source in a delete-only MERGE
            cols = {c: F.expr(e) for c, e in (spec["update_set"] or {}).items()}
            cond = F.expr(spec["delete_cond"]) if spec["delete_cond"] else None
            version = commit_with_retries(
                lambda: t.merge_into(
                    source, on=spec["on"], update_cols=cols, insert=spec["insert"],
                    delete_cond=cond,
                )
            )
        n = t.record_count()
        return _one_row(engine, _COMMIT_RESULT, table, kind.lower(), version, n)
    finally:
        while engine._tt_views:
            engine.spark.catalog.dropTempView(engine._tt_views.pop())


# ---- reads: managed tables, and time travel (VERSION/TIMESTAMP AS OF) -------


def _snapshot_view(engine, node, aliased: bool) -> tuple[int, int, str] | None:
    """(start, stop, text): a temp view over the snapshot one parsed
    ``<table> VERSION|TIMESTAMP AS OF <v>`` reads, and the span it
    replaces. Unless the reference has an alias of its own
    (``aliased``), the text aliases the view by the table's name, so a
    column the query qualifies by that name still resolves. None leaves
    the reference for Spark to resolve or diagnose (a qualified name,
    which resolves through the catalog layer, a non-managed table, an
    unparseable value, a missing snapshot or an unknown ref)."""
    rel = node.relation()
    try:
        name = _name(rel)
        t = engine.managed(name)
        if node.version().isDefined():
            kind, val = "VERSION", node.version().get()
            # Iceberg: VERSION AS OF accepts a branch/tag name too
            df = t.read(version=int(val)) if val.isdigit() else t.read_ref(val)
        else:
            kind, val = "TIMESTAMP", _value(node.timestamp().get())
            if val.isdigit():  # epoch seconds
                ts_ms = int(val) * 1000
            else:
                # the session is pinned to UTC (ensure_session_defaults):
                # a naive literal is UTC civil time
                ts = datetime.fromisoformat(val)
                ts = ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)
                ts_ms = int(ts.timestamp() * 1000)
            df = t.read_as_of_timestamp(ts_ms)
    except (ValueError, FileNotFoundError, KeyError):
        return None
    # Content-deterministic digest, NOT Python hash(): hash() is
    # seed-randomized per process and truncating it meant two
    # DIFFERENT literals could collide and silently rewrite both
    # references to the same snapshot. md5(table|kind|val) also
    # makes the name stable across sessions, so repeated literals
    # REUSE one view instead of accumulating.
    digest = hashlib.md5(f"{name}|{kind}|{val}".encode()).hexdigest()[:12]
    view = f"__tt_{name}_{kind.lower()}_{digest}"
    df.createOrReplaceTempView(view)
    # the engine drops these after the statement executes
    engine._tt_views.add(view)
    text = view if aliased else f"{view} AS {_ident(name)}"
    return _origin(rel)[0], _origin(node)[1], text


#: the parsed nodes that name a table a statement reads: a query's
#: relations, and the table of DESCRIBE, SHOW COLUMNS and the like
_READS = ("UnresolvedRelation", "UnresolvedTableOrView")


def _bind(engine, *plans) -> list:
    """Bind every managed table the parsed plans read, before they are
    analyzed; (start, stop, text) for each time-travel span to replace.

    A one-part table name is bound by :func:`_bind_name`. A
    VERSION/TIMESTAMP AS OF reference reads a view over its snapshot
    (:func:`_snapshot_view`). The walk reads every node, CTE bodies
    and subqueries too, and the body of each SQL temp view it names."""
    subs, names, stack = [], set(), [(p, None) for p in plans]
    while stack:
        n, parent = stack.pop()
        kind = n.nodeName()
        if kind == "RelationTimeTravel":
            subs.append(_snapshot_view(engine, n, parent == "SubqueryAlias"))
        elif kind in _READS and n.multipartIdentifier().size() == 1:
            name = n.multipartIdentifier().apply(0)
            if name.lower() not in names:
                names.add(name.lower())
                stack += [(body, None) for body in _bind_name(engine, name)]
        else:
            stack += [(c, kind) for c in _seq(n.children()) + _seq(n.innerChildren())]
    return [sub for sub in subs if sub]


def _bind_name(engine, name: str) -> list:
    """Bind the session view of a managed table ``name`` to its main
    head (:meth:`Engine.refresh_view`), so the read sees the current
    snapshot, whoever wrote it. Any other name is left for Spark to
    resolve; for a temp view created by SQL, which Spark resolves from
    its text each time it is read, the parsed body is returned, so the
    managed tables it names are bound too."""
    # view names match case-insensitively, table directories do not
    name = next((k for k in engine._tables if k.lower() == name.lower()), name)
    try:
        engine.managed(name)
    except (KeyError, ValueError):
        view = engine.spark._jsparkSession.sessionState().catalog().getRawTempView(name)
        text = view.get().tableMeta().viewText() if view.isDefined() else None
        body = text.get() if text and text.isDefined() else None
        return [_parse(engine.spark, body)[1]] if body else []
    engine.refresh_view(name)
    return []


def rewrite_time_travel(engine, sql: str) -> str:
    """Rewrite each ``<managed_table> VERSION|TIMESTAMP AS OF <v>`` into
    a temp view over the resolved snapshot — the spark-sql time-travel
    syntax IcebergSparkSessionExtensions provides (SURVEY §2.1 S8),
    served by the snapshot layer, aliased by the table's name. Bare
    names of managed tables are bound too (:func:`_bind`). Non-managed
    tables, and statements the parser rejects, are left for Spark to
    diagnose."""
    try:
        _, node, sql = _parse(SparkSession.active(), sql)
    except ParseException:
        return sql
    if isinstance(node, re.Match):
        return sql
    return _splice(sql, 0, len(sql) - 1, _bind(engine, node))


# ---- CALL system.* procedures (Iceberg stored-procedure surface) -----------

#: procedure -> (table-method, [(arg_name, converter), ...], aliases).
#: Positional or name => value arguments accepted, Iceberg-style; the
#: positional ORDER matches Iceberg's procedure signatures (e.g.
#: expire_snapshots(table, older_than, retain_last): a second
#: positional argument is a timestamp, never the retain count).
#: ``aliases`` maps Iceberg's argument names onto the engine-layer
#: keyword names.
_SNAPSHOT_ID = {"snapshot_id": "version"}
_PROCEDURES = {
    "rollback_to_snapshot": ("rollback_to", [("version", int)], _SNAPSHOT_ID),
    "expire_snapshots": (
        "expire_snapshots", [("older_than_ms", int), ("keep_last", int)],
        {"older_than": "older_than_ms", "retain_last": "keep_last"},
    ),
    "rewrite_data_files": (
        "rewrite_data_files",
        [("strategy", str), ("sort_order", str), ("target_partitions", int)], {},
    ),
    "cherrypick_snapshot": ("cherrypick", [("version", int)], _SNAPSHOT_ID),
    "remove_orphan_files": (
        "remove_orphan_files", [("older_than_ms", int)], {"older_than": "older_than_ms"}
    ),
    "rewrite_manifests": ("rewrite_manifests", [], {}),
    # branch-layer procedure (M8)
    "fast_forward": ("fast_forward", [("branch", str), ("to", str)], {}),
}


def _call(sql: str, node) -> tuple[str, str, dict]:
    """(procedure, table, kwargs) for CALL [cat.]system.proc('t', ...)."""
    parts = _seq(node.procedure().nameParts())
    if not 2 <= len(parts) <= 3 or parts[-2].lower() != "system":
        raise ValueError(f"unsupported CALL statement: {sql!r}")
    proc = parts[-1].lower()
    if proc not in _PROCEDURES:
        raise ValueError(
            f"unknown procedure {proc!r}; supported: {sorted(_PROCEDURES)}"
        )
    _method, spec, aliases = _PROCEDURES[proc]
    # (name, value) bindings: positionals take the table, then the
    # signature's order; Iceberg's argument names map onto the engine's
    bound, seen_named = [], False
    for a in _seq(node.args()):
        if a.nodeName() == "NamedArgumentExpression":
            seen_named = True
            bound.append((aliases.get(a.key(), a.key()), _value(a.value())))
        elif seen_named:
            # positional after a named argument is ambiguous — Iceberg
            # rejects the mixture too; fail loudly instead of mis-binding
            raise ValueError(
                f"CALL {proc}: positional argument {_value(a)!r} after named "
                "arguments"
            )
        elif len(bound) > len(spec):
            raise ValueError(f"CALL {proc}: too many arguments")
        else:
            bound.append((("table", *(k for k, _ in spec))[len(bound)], _value(a)))
    sig, table, kwargs = dict(spec), None, {}
    for k, v in bound:
        if k == "table" and table is not None:
            # one table per CALL, as Iceberg requires: a second binding
            # would run the procedure on the wrong table
            raise ValueError(
                f"CALL {proc}: duplicate table argument ({table!r} and {v!r})"
            )
        if k == "table":
            table = v
        elif k not in sig:
            raise ValueError(f"CALL {proc}: unknown argument {k!r}")
        elif k in kwargs:
            raise ValueError(f"CALL {proc}: duplicate argument {k!r}")
        else:
            kwargs[k] = sig[k](v)
    if table is None:
        raise ValueError(f"CALL {proc}: missing table argument")
    return proc, table, kwargs


def parse_call(sql: str) -> tuple[str, str, dict]:
    """(procedure, table, kwargs) for CALL [cat.]system.proc('t', ...)."""
    return _call(*_statement(sql, "CALL"))


def execute_call(engine, sql: str, node) -> DataFrame:
    proc, table, kwargs = _call(sql, node)
    method, _spec, _aliases = _PROCEDURES[proc]
    t = engine.managed(table)
    # procedures re-read current state on entry (restartable), so they
    # get the same commit.retry treatment as DML; expire/orphan sweeps
    # never raise ConflictError and pass through unaffected
    result = commit_with_retries(lambda: getattr(t, method)(**kwargs))
    summary = ",".join(map(str, result)) if isinstance(result, list) else str(result)
    return _one_row(engine, _CALL_RESULT, table, proc, summary)
