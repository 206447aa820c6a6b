"""SQL DML front door: route ``MERGE INTO`` / ``UPDATE`` / ``DELETE``
/ ``INSERT INTO|OVERWRITE`` / ``CREATE TABLE ... AS`` / ``ALTER
TABLE ADD|DROP|RENAME COLUMN`` / ``DROP TABLE`` statement strings to
the engine's row-level primitives
(:meth:`Catalog.merge_into`, :meth:`Catalog.update_where`,
:meth:`Catalog.delete_where`, :meth:`Catalog.append`,
:meth:`Catalog.overwrite`, :meth:`Catalog.create_table_from_df`,
:meth:`Catalog.add_column` / `drop_column` / `rename_column`,
:meth:`Catalog.drop_table`), plus ``VERSION AS OF`` / ``TIMESTAMP
AS OF`` time-travel rewriting for reads, ``ALTER TABLE ... RENAME
TO`` table renames, and the ``CALL [system.]<proc>(...)``
maintenance-procedure surface (:func:`execute_call`).

The reference's only user-facing SQL is the warehouse SQL it shows
its Snowflake users (``/root/reference/README.md:193-207``); every
Spark+Iceberg user writes MERGE as SQL. The engine side (conditional
clause evaluation, MoR commits, CAS retry) is fully built — this
module is a statement ROUTER, not an executor: it parses the
statement shape, rewrites clause expressions onto the canonical
``s``/``t`` aliases the primitives evaluate, derives best-effort
stats-pruning predicates from WHERE conditions, and delegates.
Pruning predicates are an IO reducer only — an unparseable conjunct
simply prunes nothing; correctness always comes from the row-exact
SQL condition the primitive applies.

MERGE INTO, UPDATE and DELETE, the WHERE conditions that derive
pruning predicates and statement-time subqueries are parsed by Spark's
own parser (Catalyst's, over py4j); conditions, SET / INSERT values and
subquery texts are sliced out of the statement by the tree's source
spans. The other verbs and the read-side rewriters (time travel,
metadata tables, ``table_changes``) use a small top-level tokenizer
(quote, comment and paren aware), not a full SQL grammar: statements
outside the supported shape raise ``ValueError`` with a pointer to
the equivalent API call rather than guessing.
"""

from __future__ import annotations

import re
from typing import Any

from no_jvm_wap_with_iceberg_spark.catalog.pruning import Predicate

_DML_KINDS = (
    "MERGE", "UPDATE", "DELETE", "INSERT", "CREATE", "ALTER", "DROP",
    "CALL", "TRUNCATE",
)


def dml_kind(query: str) -> str | None:
    """The DML statement keyword, or None for read statements.

    ``CREATE``/``ALTER``/``DROP``/``TRUNCATE`` count only with a
    ``TABLE`` operand — except ``CREATE [OR REPLACE] VIEW`` and
    ``DROP VIEW``, which route to the catalog's PERSISTED views
    (branch-addressed, committed like tables). ``CREATE TEMP|
    TEMPORARY|GLOBAL ... VIEW``, ALTER VIEW and friends still fall
    through to plain ``spark.sql`` untouched (session-scoped views
    stay Spark's business). ``CALL`` routes to the
    maintenance-procedure surface (:func:`execute_call`)."""
    toks = query.lstrip().split(None, 2)
    first = toks[0].upper() if toks else ""
    if first in ("CREATE", "ALTER", "DROP", "TRUNCATE"):
        second = toks[1].upper() if len(toks) > 1 else ""
        if first == "CREATE" and re.match(
            r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", query
        ):
            return "CREATE_VIEW"
        if first == "CREATE" and re.match(
            r"(?is)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\b", query
        ):
            return "CREATE"
        if first == "DROP" and second == "VIEW":
            return "DROP_VIEW"
        return first if second == "TABLE" else None
    if first == "SHOW":
        # only SHOW CREATE TABLE routes (Spark refuses it on temp
        # views); SHOW TABLES / SHOW COLUMNS etc. pass through
        second = toks[1].upper() if len(toks) > 1 else ""
        if second == "TBLPROPERTIES":
            return "SHOW"  # Spark refuses it on temp views too
        if second == "PARTITIONS":
            # manifest-backed partition listing (Spark's verb; falls
            # through for tables the catalog doesn't own)
            return "SHOW_PARTITIONS"
        return "SHOW" if second == "CREATE" else None
    if first == "DESCRIBE" or first == "DESC":
        # DESCRIBE HISTORY t (the Delta spelling of t$history) and
        # DESCRIBE DETAIL t (Delta's table-summary row); plain
        # DESCRIBE <t> keeps passing through (temp views support it
        # natively)
        second = toks[1].upper() if len(toks) > 1 else ""
        if second == "HISTORY":
            return "DESCRIBE_HISTORY"
        if second == "DETAIL":
            return "DESCRIBE_DETAIL"
        return None
    if first in ("OPTIMIZE", "VACUUM", "RESTORE"):
        # the Delta maintenance verbs, mapped to the same primitives
        # the CALL procedures reach (compact/zorder, orphan reclaim,
        # rollback)
        return first
    if first == "ANALYZE":
        # ANALYZE TABLE t COMPUTE STATISTICS [FOR [ALL] COLUMNS ...]
        second = toks[1].upper() if len(toks) > 1 else ""
        return "ANALYZE" if second == "TABLE" else None
    if first == "COPY":
        # COPY INTO t FROM '<dir>' — the Databricks idempotent bulk
        # load verb (Catalog.copy_into); plain Spark has no COPY, so
        # no fall-through concern
        second = toks[1].upper() if len(toks) > 1 else ""
        return "COPY" if second == "INTO" else None
    return first if first in _DML_KINDS else None


def dml_target(query: str, kind: str) -> str | None:
    """Target table of a table-addressed DML statement, or None when
    the kind doesn't name one up-front / the shape is unrecognized.
    Used by :meth:`Catalog.sql` to fall through to plain ``spark.sql``
    for names the catalog doesn't own (Spark temp views, managed
    tables) — the pre-router contract, matching ``_exec_drop``."""
    pats = {
        "INSERT": rf"(?is)^\s*INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})",
        "UPDATE": rf"(?is)^\s*UPDATE\s+({_IDENT})",
        "DELETE": rf"(?is)^\s*DELETE\s+FROM\s+({_IDENT})",
        "MERGE": rf"(?is)^\s*MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?"
        rf"INTO\s+({_IDENT})",
        "TRUNCATE": rf"(?is)^\s*TRUNCATE\s+TABLE\s+({_IDENT})",
        "SHOW": rf"(?is)^\s*SHOW\s+(?:CREATE\s+TABLE|TBLPROPERTIES)\s+({_IDENT})",
        "SHOW_PARTITIONS": rf"(?is)^\s*SHOW\s+PARTITIONS\s+({_IDENT})",
        "DESCRIBE_HISTORY": rf"(?is)^\s*(?:DESCRIBE|DESC)\s+HISTORY\s+({_IDENT})",
        "DESCRIBE_DETAIL": rf"(?is)^\s*(?:DESCRIBE|DESC)\s+DETAIL\s+({_IDENT})",
        "OPTIMIZE": rf"(?is)^\s*OPTIMIZE\s+({_IDENT})",
        "VACUUM": rf"(?is)^\s*VACUUM\s+({_IDENT})",
        "RESTORE": rf"(?is)^\s*RESTORE\s+(?:TABLE\s+)?({_IDENT})",
        "ANALYZE": rf"(?is)^\s*ANALYZE\s+TABLE\s+({_IDENT})",
    }
    pat = pats.get(kind)
    if pat is None:
        return None
    m = re.match(pat, query)
    return _unquote(m.group(1)) if m else None


# ----------------------------------------------------------------------
# top-level scanning (quote-, comment- and paren-aware)
#
# ONE tokenizer (_quoted_regions) feeds every scanner: Spark string
# literals support BOTH backslash escapes ('x\' y') and doubled
# quotes ('x''y'), and a scanner that misses either pairs the opening
# quote with an escaped one — mis-tokenizing everything after it
# (a mis-derived pruning predicate can then silently skip deletes).
# SQL comments are opaque the same way: a ';' or a keyword inside
# ``-- ...`` or ``/* ... */`` is not statement text.
# ----------------------------------------------------------------------
def _quoted_regions(s: str, backticks: bool):
    """Yield (start, end) spans of opaque regions: string literals in
    ' and ", comments (``--`` to the end of the line, ``/* ... */``
    nested as Spark nests them) and, when ``backticks``, backtick-quoted
    IDENTIFIERS (they have no backslash escapes). Without
    ``backticks`` an identifier is still skipped whole, so a quote or
    comment marker inside it starts nothing."""
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            q, j = c, i + 1
            while j < n:
                if q != "`" and s[j] == "\\":
                    j += 2  # backslash escape: skip the escaped char
                    continue
                if s[j] == q:
                    if j + 1 < n and s[j + 1] == q:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            j = min(j + 1, n)
            if q != "`" or backticks:
                yield i, j
            i = j
        elif s.startswith(("--", "/*"), i):
            if s[i] == "-":
                j = s.find("\n", i)
                j = n if j < 0 else j
            else:  # Spark nests block comments
                depth, j = 1, i + 2
                while j < n and depth:
                    step = s[j : j + 2]
                    depth += (step == "/*") - (step == "*/")
                    j += 2 if step in ("/*", "*/") else 1
            yield i, j
            i = j
        else:
            i += 1


def _strip_leading_comments(query: str) -> str:
    """``query`` without the whitespace and comments before its first
    keyword, so routing sees the verb."""
    q = query.lstrip()
    while q.startswith(("--", "/*")):
        q = q[next(_quoted_regions(q, backticks=False))[1] :].lstrip()
    return q


def _quote_mask(s: str, backticks: bool) -> list[bool]:
    mask = [False] * len(s)
    for a, b in _quoted_regions(s, backticks):
        for k in range(a, b):
            mask[k] = True
    return mask


def _scan_top(s: str):
    """Yield (index, char) at paren-depth 0 outside quotes (backtick
    identifiers opaque)."""
    mask = _quote_mask(s, backticks=True)
    depth = 0
    for i, c in enumerate(s):
        if mask[i]:
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            yield i, c


def _find_keyword(s: str, word: str, start: int = 0) -> int:
    """Index of the first top-level, word-boundary occurrence of
    ``word`` (case-insensitive) at or after ``start``; -1 if absent."""
    w = word.upper()
    k = len(w)
    for i, _c in _scan_top(s):
        if i < start:
            continue
        if s[i : i + k].upper() == w:
            before = s[i - 1] if i > 0 else " "
            after = s[i + k] if i + k < len(s) else " "
            if not (before.isalnum() or before in "_`") and not (
                after.isalnum() or after in "_`"
            ):
                return i
    return -1


def _split_top(s: str, sep_word: str) -> list[str]:
    """Split on top-level word-boundary occurrences of ``sep_word``."""
    parts, pos = [], 0
    while True:
        i = _find_keyword(s, sep_word, pos)
        if i < 0:
            parts.append(s[pos:])
            return parts
        parts.append(s[pos:i])
        pos = i + len(sep_word)


def _split_commas(s: str) -> list[str]:
    parts, last = [], 0
    for i, c in _scan_top(s):
        if c == ",":
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p for p in parts if p.strip()]


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident.startswith("`") and ident.endswith("`"):
        return ident[1:-1].replace("``", "`")
    return ident


# ----------------------------------------------------------------------
# Spark's parser: trees whose nodes carry their source spans
# ----------------------------------------------------------------------
_PARSERS: dict = {}  # py4j JVM view -> its CatalystSqlParser


def _spark_parser():
    """Catalyst's SQL parser in the running JVM, reached over py4j (so
    the DML front end does not run under Spark Connect)."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        raise RuntimeError(
            "parsing SQL DML needs Spark's parser: start a SparkSession first"
        )
    if jvm not in _PARSERS:
        pkg = jvm.org.apache.spark.sql.catalyst.parser
        _PARSERS[jvm] = getattr(getattr(pkg, "CatalystSqlParser$"), "MODULE$")
    return _PARSERS[jvm]


def _parse(sql: str, expression: bool = False):
    """Spark's tree for a statement (or an expression); a syntax error
    raises ValueError with Spark's message."""
    from pyspark.errors import ParseException

    parser = _spark_parser()
    try:
        if expression:
            return parser.parseExpression(sql)
        return parser.parsePlan(sql)
    except ParseException as e:
        raise ValueError(str(e).strip().split("\n")[0]) from e


def _span(j) -> tuple[int, int] | None:
    """Inclusive indexes of a node in its statement text (its origin's
    ``Some(n)`` start and stop index)."""
    o = j.origin()
    a, b = o.startIndex().toString(), o.stopIndex().toString()
    return None if "None" in (a, b) else (int(a[5:-1]), int(b[5:-1]))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _names(j) -> list[str]:
    return j.nameParts().mkString("\0").split("\0")


_SUBQUERIES = ("ListQuery", "Exists", "ScalarSubquery")


class _Expr:
    """A Catalyst expression node of ``sql`` read once over py4j: class
    name, own span, name parts of a column or function reference,
    children, ``full``, the span of the subtree (a postfix predicate's
    own span starts at its keyword, e.g. ``IS NULL``), and for a
    subquery ``body``, its parentheses. Subquery bodies are plans, not
    children, so a walk never enters them."""

    __slots__ = ("j", "kind", "span", "parts", "kids", "full", "body", "items")

    def __init__(self, j, sql: str):
        self.j, self.kind, self.span = j, j.nodeName(), _span(j)
        if self.kind == "Literal" and isinstance(j.value(), bool):
            self.span = None  # shared TRUE/FALSE singletons: stale spans
        self.body = None
        if self.kind in _SUBQUERIES:
            # the plan's own span may start late (at an ORDER BY, at a
            # TABLE's name) but never outside the parentheses
            self.body = _parens_around(sql, _span(j.plan())[0])
            if self.kind == "Exists":  # built with its parent's span
                kw = sql.upper().rindex("EXISTS", 0, self.body[0])
                self.span = (kw, self.body[1])
        named = self.kind in ("UnresolvedAttribute", "UnresolvedFunction")
        self.parts = _names(j) if named else None
        kids, self.items = j.children(), None
        if self.kind == "In" and self.span:
            # a plain-literal list is read from the text, not node by
            # node: an inlined 10,000-key list would otherwise cost
            # tens of thousands of py4j round trips
            self.items = _literal_items(sql, self.span[1], kids.size() - 1)
        kids = [kids.apply(0)] if self.items else _seq(kids)
        self.kids = [_Expr(k, sql) for k in kids]
        spans = [s for s in (self.span, *(k.full for k in self.kids)) if s]
        self.full = None
        if spans:
            start = min(s[0] for s in spans)
            # a postfix predicate (`x IS NULL`): the parentheses around
            # its left operand, `(a, b) IN (...)`, are in neither span
            left = [s for s in spans[1:] if self.span and s[1] < self.span[0]]
            if left:
                closing = sql.count(")", left[-1][1] + 1, self.span[0])
                for _ in range(closing):
                    start = sql.rindex("(", 0, start)
            self.full = (start, max(s[1] for s in spans))

    def walk(self):
        yield self
        for k in self.kids:
            yield from k.walk()

    def text(self, sql: str, edits=()) -> str:
        """The source text with ``edits`` applied; Spark's rendering
        when no span survived (a bare TRUE)."""
        return _spliced(sql, edits, *self.full) if self.full else self.j.sql()


def _parens_around(sql: str, at: int) -> tuple[int, int]:
    """Indexes of the parentheses that most closely enclose ``sql[at]``
    (quote- and comment-aware)."""
    mask, depth = _quote_mask(sql, backticks=True), 0
    for i in range(at - 1, -1, -1):
        if mask[i] or sql[i] not in "()":
            continue
        if sql[i] == "(" and depth == 0:
            return i, i + len(_match_paren_span(sql, i)[0]) + 1
        depth += 1 if sql[i] == ")" else -1
    raise ValueError(f"no parentheses around {sql[at:]!r}")


def _literal_items(sql: str, stop: int, n: int) -> list | None:
    """Spans of the items of the ``n``-item list whose closing
    parenthesis is ``sql[stop]``, when every item is a plain literal
    (:data:`_LIT`); None otherwise."""
    lp, rp = _parens_around(sql, stop)
    inner = sql[lp + 1 : rp]
    cuts = [-1] + [i for i, c in _scan_top(inner) if c == ","] + [len(inner)]
    items = []
    for a, b in zip(cuts, cuts[1:]):
        text = inner[a + 1 : b]
        if not re.fullmatch(_LIT, text.strip(), re.I):
            return None
        start = lp + 2 + a + len(text) - len(text.lstrip())
        items.append((start, start + len(text.strip()) - 1))
    return items if len(items) == n else None


def _spliced(text: str, edits, a: int = 0, b: int | None = None) -> str:
    """``text[a:b + 1]`` with non-overlapping inclusive ``(start, stop,
    replacement)`` edits applied."""
    out, pos = [], a
    for s, e, r in sorted(edits):
        out += [text[pos:s], r]
        pos = e + 1
    return "".join(out) + text[pos : len(text) if b is None else b + 1]


_QUALIFIER = re.compile(r"(`(?:[^`]|``)*`|\w+)\s*\.\s*")


def _requalified(sql: str, node: _Expr, quals: dict[str, str]) -> str:
    """``node``'s text with every column reference qualified by a key
    of ``quals`` (lower-case) re-qualified by its value (``""`` drops
    the qualifier). Only reference spans change: literals, comments
    and subquery bodies stay as written."""
    edits = []
    for n in node.walk():
        q = n.parts[0].lower() if n.kind == "UnresolvedAttribute" else None
        if q in quals and len(n.parts) > 1 and n.span:
            m = _QUALIFIER.match(sql, n.span[0])
            if m:
                new = quals[q] and quals[q] + "."
                edits.append((n.span[0], m.end() - 1, new))
    return node.text(sql, edits)


def _operands(n: _Expr, kind: str) -> list[_Expr]:
    """``n`` flattened over nested ``kind`` (And / Or) nodes, in order
    (Spark builds long chains balanced, not left-deep)."""
    if n.kind != kind:
        return [n]
    return [x for k in n.kids for x in _operands(k, kind)]


# ----------------------------------------------------------------------
# WHERE-condition -> best-effort pruning predicates
# ----------------------------------------------------------------------
_NUM = r"-?\d+(?:\.\d+)?"
_STR = r"'(?:[^']|'')*'"
_TYPED = r"(?:DATE|TIMESTAMP)\s*" + _STR
_LIT = rf"(?:{_TYPED}|{_NUM}|{_STR})"
_IDENT = r"(?:`[^`]+`|[A-Za-z_][A-Za-z_0-9]*)"
_CMP = {
    "EqualTo": "eq", "LessThan": "lt", "LessThanOrEqual": "le",
    "GreaterThan": "gt", "GreaterThanOrEqual": "ge",
}
_FLIP = {"eq": "eq", "lt": "gt", "le": "ge", "gt": "lt", "ge": "le"}


def _parse_lit(text: str) -> Any:
    import datetime as _dt

    text = text.strip()
    m = re.match(rf"(?i)^(DATE|TIMESTAMP)\s*({_STR})$", text)
    if m:
        # stats store temporal min/max via value.isoformat() — the
        # 'T'-separator form. A space-separated SQL literal compared
        # as a raw string sorts BEFORE the 'T' form (' ' < 'T') and
        # would wrongly prune files that hold matching rows, so
        # normalize through datetime/date first.
        raw = m.group(2)[1:-1]
        if "\\" in raw:
            raise ValueError("backslash escape in literal: skip pruning")
        raw = raw.replace("''", "'")
        # an unparseable temporal raises ValueError: the conjunct
        # loop skips it (prunes nothing) rather than comparing a
        # raw string against isoformat stats
        if m.group(1).upper() == "DATE":
            return _dt.date.fromisoformat(raw).isoformat()
        ts = _dt.datetime.fromisoformat(raw)
        # file stats are NAIVE-UTC isoformat strings (_json_safe
        # normalizes tz-aware footer values the same way); a literal
        # that keeps its offset string-compares unequal to the same
        # instant ('...00:00+00:00' > '...00:00'), which corrupts BOTH
        # directions — may-match pruning skips matching files and
        # exact whole-file proofs over-delete at the boundary
        if ts.tzinfo is not None:
            ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return ts.isoformat()
    if text.startswith("'"):
        raw = text[1:-1]
        if "\\" in raw:
            # Spark decodes backslash escapes in literals; deriving a
            # predicate from the RAW text would compare the wrong
            # value against stats — skip the conjunct instead of
            # reimplementing the escape decoder
            raise ValueError("backslash escape in literal: skip pruning")
        return raw.replace("''", "'")
    return float(text) if "." in text else int(text)


def _column(n: _Expr, quals) -> str | None:
    """The column of a bare reference, or of one qualified by a name in
    ``quals``; None for anything else."""
    if n.kind == "UnresolvedAttribute" and len(n.parts) == 1:
        return n.parts[0]
    if n.kind == "UnresolvedAttribute" and len(n.parts) == 2:
        return n.parts[1] if n.parts[0].lower() in quals else None
    return None


def _literal(n: _Expr, sql: str) -> Any:
    """The value of a plain literal (number, string, DATE, TIMESTAMP)
    from its source text; ValueError for anything else."""
    text = sql[n.span[0] : n.span[1] + 1] if n.span else ""
    if n.kind != "Literal" or not re.fullmatch(_LIT, text, re.I):
        raise ValueError(f"not a plain literal: {text!r}")
    return _parse_lit(text)


def _compare(op: str, left: _Expr, right: _Expr, sql: str, quals):
    if _column(left, quals) is not None:
        return Predicate(op, _column(left, quals), _literal(right, sql))
    if _column(right, quals) is not None:
        return Predicate(_FLIP[op], _column(right, quals), _literal(left, sql))
    return None


def _predicate(n: _Expr, sql: str, quals) -> Predicate | None:
    """One comparison / IS [NOT] NULL / IN atom -> a Predicate, or None
    when it is anything richer (function call, subquery, non-literal
    side, backslash-escaped literal)."""
    col = _column(n.kids[0], quals) if n.kids else None
    try:
        if n.kind in _CMP:
            return _compare(_CMP[n.kind], *n.kids, sql, quals)
        if n.kind == "In" and col is not None and n.items:
            vals = [_parse_lit(sql[a : b + 1]) for a, b in n.items]
            return Predicate("in", col, vals)
    except ValueError:
        return None  # unparseable literal: prune nothing for it
    if n.kind in ("IsNull", "IsNotNull") and col is not None:
        return Predicate("is_null" if n.kind == "IsNull" else "not_null", col)
    return None


_DNF_CAP = 16  # distribution blow-up guard: beyond this, prune nothing


def _groups(n: _Expr, sql: str, quals) -> tuple[list[list[Predicate]], bool]:
    """Recursive DNF: OR of AND-groups. An unrecognized atom becomes
    the UNIVERSAL group member (matches everything — sound for
    may-match pruning) and flips ``exact`` off. ``x BETWEEN lo AND hi``
    is ``x >= lo AND x <= hi``; both spellings of its negation parse as
    ``Not(between)``, EXACTLY ``x < lo OR x > hi`` (SQL 3VL agrees:
    NULL x yields NULL either way)."""
    if n.kind in ("Or", "And"):
        acc: list[list[Predicate]] = [] if n.kind == "Or" else [[]]
        exact = True
        for part in _operands(n, n.kind):
            g, e = _groups(part, sql, quals)
            exact = exact and e
            if n.kind == "Or":
                acc = acc + g
            else:
                acc = [a + b for a in acc for b in g]
            if len(acc) > _DNF_CAP:
                return [[]], False
        return acc, exact
    neg = n.kind == "Not"
    f = n.kids[0] if neg else n
    if f.kind == "UnresolvedFunction" and f.parts[-1].lower() == "between":
        bounds = []
        for op, v in zip(("lt", "gt") if neg else ("ge", "le"), f.kids[1:]):
            try:
                bounds.append(_compare(op, f.kids[0], v, sql, quals))
            except ValueError:
                bounds.append(None)
        gs = [[p] if p else [] for p in bounds]
        return (gs if neg else [gs[0] + gs[1]]), None not in bounds
    p = _predicate(n, sql, quals)
    return ([[p]], True) if p else ([[]], False)


def _tree_groups(root: _Expr, sql: str, quals):
    groups, exact = _groups(root, sql, quals)
    if len(groups) > 1 and any(not g for g in groups):
        # a universal disjunct admits every file; drop ONLY when it
        # poisons pruning entirely (single-group callers still see the
        # partial conjunction)
        return [], False
    return groups, exact


def _pruning_groups(cond: str | None, quals=()):
    if not cond or not cond.strip():
        return [], False
    try:
        root = _Expr(_parse(cond, expression=True), cond)
    except ValueError:
        return [], False  # the primitive's F.expr raises the real error
    return _tree_groups(root, cond, quals)


def predicate_groups_from_sql(
    cond: str | None,
) -> tuple[list[list[Predicate]], bool]:
    """Disjunctive normal form of a WHERE condition for file pruning:
    a list of AND-groups whose OR covers the condition. A file can
    hold matching rows only if it may-match SOME group, so pruning
    unions per-group survivors — sound for arbitrary AND/OR/paren
    mixes (``pruning.prune_files_any``). ``exact=True`` certifies the
    groups are EQUIVALENT to the condition (every atom translated,
    DNF expansion under the cap): the whole-file DELETE fast path may
    then drop any file PROVEN all-match on a single group (sufficient
    for the disjunction). A group that collapsed to universal (an
    unrecognized disjunct) makes the whole DNF prune nothing. Spark's
    parser reads the condition; one that does not parse prunes
    nothing."""
    return _pruning_groups(cond)


def predicates_from_sql(cond: str | None) -> list[Predicate]:
    """Conjunctions of simple comparisons -> file-pruning predicates.

    Anything richer (a top-level OR the DNF layer cannot certify, a
    function, a non-literal side) contributes nothing — pruning is an
    optimization, the row-exact condition still runs inside the
    primitive. Disjunction-aware callers use
    :func:`predicate_groups_from_sql` instead."""
    return predicates_from_sql_exact(cond)[0]


def predicates_from_sql_exact(
    cond: str | None,
) -> tuple[list[Predicate], bool]:
    """Like :func:`predicates_from_sql`, plus an exactness flag.

    ``exact=True`` certifies the predicate list is EQUIVALENT to the
    condition — the contract ``Catalog.delete_where(
    exact_condition=True)`` requires before its whole-file metadata
    fast path may fire (an implied-only list would over-delete). Any
    untranslated conjunct, uncertifiable disjunction, or unparseable
    literal flips the flag off; the predicates themselves stay usable
    for ordinary (may-match) pruning either way."""
    groups, exact = predicate_groups_from_sql(cond)
    if len(groups) == 1:
        return groups[0], exact and bool(groups[0])
    return [], False


# ----------------------------------------------------------------------
# statement-time subquery resolution for UPDATE/DELETE WHERE
# ----------------------------------------------------------------------
_SUBQ_INLINE_CAP = 10_000  # distinct tuples an IN-subquery may inline


def _render_inline_lit(v) -> str:
    """One collected subquery value -> a SQL literal the row filter
    (``F.expr``), the pruning parser, and the recorded CDC condition
    can all consume. Temporal values normalize to naive UTC exactly
    like ``_parse_lit`` / footer stats do, so pruning comparisons stay
    sound."""
    import datetime as _dt
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        # backslashes must escape too: F.expr decodes \-sequences in
        # string literals, so a raw 'C:\new' would silently become
        # 'C:<LF>ew' when the inlined condition executes (_parse_lit
        # then skips pruning on the \\ form — conservative, sound)
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError(
                "cannot inline NaN/Infinity subquery value as a SQL literal"
            )
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return "TIMESTAMP '" + v.isoformat(sep=" ") + "'"
    if isinstance(v, _dt.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex().upper() + "'"
    raise ValueError(
        f"cannot inline subquery value of type {type(v).__name__} "
        "as a SQL literal"
    )


def _evaluate(spark, sub: str):
    try:
        return spark.sql(sub)
    except Exception as e:  # AnalysisException: correlated / bad ref
        raise ValueError(
            "cannot evaluate subquery at statement time (correlated "
            "subqueries are not supported in UPDATE/DELETE WHERE — "
            f"use MERGE INTO): {sub.strip()!r}: {e}"
        ) from e


def resolve_subqueries(spark, cond: str) -> str:
    """Resolve subqueries inside an UPDATE/DELETE WHERE condition at
    STATEMENT time (Iceberg's and Delta's Spark surfaces both accept
    them; a stored ``F.expr`` condition cannot).

    ``[NOT] IN (SELECT ...)``, ``[NOT] EXISTS (SELECT ...)`` and
    scalar ``(SELECT ...)`` comparisons are evaluated once against the
    snapshot-pinned views :meth:`Catalog.sql` registered for the
    statement, then inlined as typed literals — the executed condition
    stays a pure expression, so stats pruning, the whole-file metadata
    fast path (a partition-aligned ``IN`` still proves files), MoR
    delete specs, and CDC replay keep exact semantics. (A recorded
    condition re-evaluated at replay/read time would otherwise see
    LATER state of the subquery's tables — silent corruption.)

    Literal lists sort deterministically and cap at
    ``_SUBQ_INLINE_CAP`` distinct tuples; larger keysets belong to the
    anti-join scale paths (``MERGE INTO`` / ``Catalog.delete_keys``).
    Correlated subqueries cannot be snapshot-resolved -> ``ValueError``
    pointing at MERGE INTO. Empty results keep SQL 3VL exactly:
    ``x IN (empty)`` is constant FALSE (even for NULL ``x``),
    ``x NOT IN (empty)`` constant TRUE, an empty scalar is NULL.
    The subqueries are the ``ListQuery`` / ``Exists`` /
    ``ScalarSubquery`` nodes of Spark's tree for ``cond``; a condition
    that does not parse is returned as is.
    """
    try:
        root = _Expr(_parse(cond, expression=True), cond)
    except ValueError:
        return cond  # the primitive's F.expr raises the real error
    edits: list[tuple[int, int, str]] = []

    def visit(n: _Expr, parent: _Expr | None) -> None:
        for k in n.kids:
            visit(k, n)
        if n.kind not in ("Exists", "ScalarSubquery", "InSubquery"):
            return
        lp, rp = (n.kids[-1] if n.kind == "InSubquery" else n).body
        df = _evaluate(spark, cond[lp + 1 : rp])
        if n.kind == "Exists":
            exists = bool(df.limit(1).collect())
            edits.append((n.span[0], rp, "TRUE" if exists else "FALSE"))
        elif n.kind == "ScalarSubquery":
            if len(df.columns) != 1:
                raise ValueError(
                    "scalar subquery in UPDATE/DELETE WHERE must return "
                    f"exactly one column, got {len(df.columns)}"
                )
            rows = df.limit(2).collect()
            if len(rows) > 1:
                raise ValueError(
                    "scalar subquery in UPDATE/DELETE WHERE returned "
                    "more than one row"
                )
            lit = _render_inline_lit(rows[0][0]) if rows else "NULL"
            edits.append((lp, rp, "(" + lit + ")"))
        else:
            rows = df.distinct().limit(_SUBQ_INLINE_CAP + 1).collect()
            if len(rows) > _SUBQ_INLINE_CAP:
                raise ValueError(
                    f"IN-subquery produced more than {_SUBQ_INLINE_CAP} "
                    "distinct values; use MERGE INTO ... WHEN MATCHED "
                    "THEN DELETE/UPDATE or Catalog.delete_keys (anti-join "
                    "scale path) instead of inlining"
                )
            if rows:
                lits = sorted(
                    _render_inline_lit(r[0]) if len(r) == 1 else
                    "(" + ", ".join(_render_inline_lit(v) for v in r) + ")"
                    for r in rows
                )
                edits.append((lp + 1, rp - 1, ", ".join(lits)))
                return
            # the whole atom collapses to a constant; requires a left
            # operand of columns or literals (a subquery there is a
            # pending rewrite inside the collapsed text)
            values = n.kids[:-1]
            if not all(
                v.kind in ("UnresolvedAttribute", "Literal") and v.full
                for v in values
            ):
                raise ValueError(
                    "cannot rewrite empty IN-subquery with a "
                    "non-trivial left operand; simplify the condition"
                )
            # `x NOT IN` gives the Not and the IN one span, so the
            # collapsed text swallows the NOT; `NOT x IN` keeps it
            neg = parent is not None and parent.kind == "Not"
            neg = neg and parent.span == n.span
            edits.append((n.full[0], rp, "TRUE" if neg else "FALSE"))

    visit(root, None)
    return _spliced(cond, edits)


# ----------------------------------------------------------------------
# MERGE / UPDATE / DELETE, read from Spark's statement tree
# ----------------------------------------------------------------------
def _statement(query: str, node: str, shape: str):
    """Spark's tree for ``query``, which must parse as a ``node``."""
    try:
        plan = _parse(query)
    except ValueError as e:
        raise ValueError(f"unsupported {shape}: {e}") from e
    if plan.nodeName() != node:
        raise ValueError(f"unsupported {shape}")
    return plan


def _target(rel, error: str) -> tuple[str, str]:
    """``(table, alias)`` of a one-part table name; an un-aliased table
    is addressable by its own name."""
    alias = None
    if rel.nodeName() == "SubqueryAlias":
        alias, rel = rel.alias(), rel.child()
    parts = []
    if rel.nodeName() == "UnresolvedRelation":
        parts = _seq(rel.multipartIdentifier())
    if len(parts) != 1:
        raise ValueError(error)
    return parts[0], alias or parts[0]


def _assignments(sql: str, seq, owner, quals) -> dict[str, str]:
    """``col = expr`` pairs -> {column: expression text}; an ``owner``
    qualifier (lower-case) leaves the column, ``quals`` re-qualify the
    value."""
    sets: dict[str, str] = {}
    for a in _seq(seq):
        parts = _names(a.key())
        if len(parts) > 1 and parts[0].lower() in owner:
            parts = parts[1:]
        name = ".".join(parts)
        if name in sets:
            raise ValueError(f"SET assigns column {name!r} more than once")
        sets[name] = _requalified(sql, _Expr(a.value(), sql), quals)
    return sets


def _where(spark, sql: str, cond: _Expr | None, quals: set[str]):
    """``(condition, pruning groups, exact)`` of a one-table WHERE:
    ``quals`` qualifiers dropped, subqueries resolved. Without a
    subquery the groups come from the statement's own tree."""
    if cond is None:
        return "true", [], False
    where = _requalified(sql, cond, dict.fromkeys(quals, ""))
    if any(n.kind in _SUBQUERIES for n in cond.walk()):
        where = resolve_subqueries(spark, where)
        return (where, *predicate_groups_from_sql(where))
    return (where, *_tree_groups(cond, sql, quals))


_UPDATE_SHAPE = (
    "UPDATE shape; expected UPDATE <table> [alias] SET col = expr[, ...] "
    "[WHERE <cond>] (Catalog.update_where is the API equivalent)"
)
_DELETE_SHAPE = (
    "DELETE shape; expected DELETE FROM <table> [alias] [WHERE <cond>] "
    "(Catalog.delete_where is the API equivalent)"
)


def _exec_update(cat, spark, query: str, branch: str):
    plan = _statement(query, "UpdateTable", _UPDATE_SHAPE)
    table, alias = _target(plan.table(), f"unsupported {_UPDATE_SHAPE}")
    quals = {table.lower(), alias.lower()}
    sets = _assignments(
        query, plan.assignments(), quals | {"t"}, dict.fromkeys(quals, "")
    )
    c = plan.condition()
    cond, groups, _exact = _where(
        spark, query, _Expr(c.get(), query) if c.isDefined() else None, quals
    )
    meta = cat.update_where(
        spark,
        table,
        groups[0] if len(groups) == 1 else [],
        cond,
        sets,
        branch,
        predicate_groups=groups if len(groups) > 1 else None,
    )
    return "UPDATE", table, meta


def _exec_delete(cat, spark, query: str, branch: str):
    plan = _statement(query, "DeleteFromTable", _DELETE_SHAPE)
    table, alias = _target(plan.table(), f"unsupported {_DELETE_SHAPE}")
    quals = {table.lower(), alias.lower()}
    cond, groups, exact = _where(
        spark, query, _Expr(plan.condition(), query), quals
    )
    meta = cat.delete_where(
        spark,
        table,
        groups[0] if len(groups) == 1 else [],
        cond,
        branch,
        exact_condition=exact,
        predicate_groups=groups if len(groups) > 1 else None,
    )
    return "DELETE", table, meta


_CLONE_RE = re.compile(
    rf"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
    rf"(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+"
    rf"(SHALLOW\s+|DEEP\s+)?CLONE\s+({_IDENT})"
    rf"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
    rf"|\s+TIMESTAMP\s+AS\s+OF\s+({_STR}))?\s*;?\s*$"
)


def is_clone_stmt(query: str) -> bool:
    """True for ``CREATE TABLE ... [SHALLOW] CLONE ...`` — the caller
    must skip the time-travel rewrite for these (the statement's own
    ``VERSION AS OF`` clause belongs to the clone, not to a read)."""
    return _CLONE_RE.match(query.strip()) is not None


def _exec_clone(cat, spark, q: str, branch: str, m: re.Match):
    """The Delta clone shape: ``CREATE [OR REPLACE] TABLE [IF NOT
    EXISTS] <target> [SHALLOW|DEEP] CLONE <source> [VERSION AS OF n |
    TIMESTAMP AS OF '<ts>']``. Bare ``CLONE`` is deep (Delta's
    default); ``SHALLOW CLONE`` is the zero-copy metadata clone
    (:meth:`Catalog.clone_table`)."""
    import datetime as _dt

    or_replace = m.group(1) is not None
    if_not_exists = m.group(2) is not None
    target = _unquote(m.group(3))
    mode = (m.group(4) or "").strip().upper()
    shallow = mode == "SHALLOW"
    source = _unquote(m.group(5))
    snapshot_id: int | None = None
    if m.group(6) is not None:
        snapshot_id = int(m.group(6))
    elif m.group(7) is not None:
        ts = _dt.datetime.fromisoformat(m.group(7)[1:-1].replace("''", "'"))
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        snapshot_id = cat.snapshot_as_of(
            source, int(ts.timestamp() * 1000), branch
        )
        if snapshot_id is None:
            raise ValueError(
                f"CLONE {source!r} TIMESTAMP AS OF: table had no "
                "snapshot at that time"
            )
    meta = cat.clone_table(
        source,
        target,
        branch,
        snapshot_id=snapshot_id,
        shallow=shallow,
        if_not_exists=if_not_exists,
        or_replace=or_replace,
        spark=spark,
    )
    return "CLONE", target, meta


def _exec_create(cat, spark, query: str, branch: str):
    """CREATE TABLE [IF NOT EXISTS] <t> AS <query> — the CTAS shape
    (Catalog.create_table_from_df is the API equivalent) — or column
    DDL: CREATE TABLE t (a INT, b STRING, ...) [USING <fmt>]
    [PARTITIONED BY (day(ts), bucket(16, id), c, ...)]
    [TBLPROPERTIES ('k' = 'v', ...)] (Catalog.create_table). The
    column list parses through Spark's own DDL grammar
    (StructType.fromDDL), so every Spark type — arrays, maps,
    structs, NOT NULL — is accepted; USING is accepted and ignored
    (there is exactly one storage format here, parquet)."""
    q = query.strip().rstrip(";")
    mc = _CLONE_RE.match(q)
    if mc:
        return _exec_clone(cat, spark, q, branch, mc)
    m = re.match(
        rf"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+"
        rf"LIKE\s+({_IDENT})\s*$",
        q,
    )
    if m:
        # Spark's CREATE TABLE ... LIKE: schema + layout + properties
        # of the source, NO data (an empty table, unlike CLONE)
        target, source = _unquote(m.group(2)), _unquote(m.group(3))
        if m.group(1) and cat.table_exists(target, branch):
            return "CREATE", target, cat.load_table(target, branch)
        src = cat.load_table(source, branch)
        cat.create_table(
            target,
            src.spark_schema,
            branch,
            partition_by=list(src.partition_by) or None,
            sort_by=list(src.sort_by) or None,
            # user configuration only: internal bookkeeping
            # (rename/drop history, widen records — the same set SHOW
            # CREATE TABLE hides) plus persisted stats.* and clone.*
            # lineage must NOT land on the new empty table (snapshot
            # ids are per-table sequential, so a copied
            # stats.analyzedSnapshot could later read as fresh here)
            properties={
                k: v
                for k, v in src.properties.items()
                if k not in _INTERNAL_PROPS
                and not k.startswith(
                    ("dropped_columns", "stats.", "clone.")
                )
            }
            or None,
        )
        return "CREATE", target, cat.load_table(target, branch)
    m = re.match(
        rf"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
        rf"(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\(",
        q,
    )
    if m and _outside_quotes(q, m.end() - 1):  # the opening paren
        return _exec_create_columns(cat, spark, q, branch, m)
    m = re.match(
        rf"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
        rf"(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+AS\s+(.*)$",
        q,
    )
    if not m:
        raise ValueError(
            "unsupported CREATE shape; expected "
            "CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <table> "
            "AS SELECT ... or "
            "CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <table> "
            "(<col> <type>, ...) "
            "[USING <fmt>] [PARTITIONED BY (...)] [TBLPROPERTIES (...)] "
            "(Catalog.create_table_from_df / create_table are the API "
            "equivalents)"
        )
    or_replace = m.group(1) is not None
    if_not_exists = m.group(2) is not None
    if or_replace and if_not_exists:
        raise ValueError("OR REPLACE and IF NOT EXISTS are exclusive")
    table, qtext = _unquote(m.group(3)), m.group(4).strip()
    if cat.table_exists(table, branch) and not or_replace:
        if if_not_exists:
            return "CREATE", table, cat.load_table(table, branch)
        raise ValueError(f"table {table!r} already exists on {branch!r}")
    meta = cat.create_table_from_df(
        spark.sql(qtext), table, branch, or_replace=or_replace
    )
    return ("REPLACE" if or_replace else "CREATE"), table, meta


def _exec_create_columns(cat, spark, q: str, branch: str, m: re.Match):
    """The column-DDL CREATE shape (see :func:`_exec_create`)."""
    or_replace = m.group(1) is not None
    if_not_exists = m.group(2) is not None
    if or_replace and if_not_exists:
        raise ValueError("OR REPLACE and IF NOT EXISTS are exclusive")
    table = _unquote(m.group(3))
    paren = m.end() - 1
    # quote-aware paren matching for the column list (a ')' inside a
    # backtick-quoted name or string default must not close it)
    mask = _quote_mask(q, backticks=True)
    depth, end = 0, -1
    for i in range(paren, len(q)):
        if mask[i]:
            continue
        depth += q[i] == "("
        depth -= q[i] == ")"
        if depth == 0:
            end = i
            break
    if end < 0:
        raise ValueError("unbalanced parentheses in CREATE TABLE column list")
    cols_text = q[paren + 1 : end]
    tail = q[end + 1 :].strip()

    # GENERATED ALWAYS AS (expr) — Delta's generated columns: strip
    # the clause (Spark's DDL parser doesn't know it) and record it as
    # a generated.<col> property; the write path computes omitted
    # values and VALIDATES supplied ones (catalog._align_schema /
    # _write_files)
    gen_props: dict[str, str] = {}
    cleaned = []
    for coldef in _split_commas(cols_text):
        mg = re.search(r"(?is)\bGENERATED\s+ALWAYS\s+AS\s*\(", coldef)
        if mg and _outside_quotes(coldef, mg.end() - 1):
            inner, after = _match_paren_span(coldef, mg.end() - 1)
            name_m = re.match(rf"(?is)^\s*({_IDENT})", coldef)
            if not name_m:
                raise ValueError(
                    f"cannot parse generated column definition {coldef!r}"
                )
            gen_props[f"generated.{_unquote(name_m.group(1))}"] = (
                inner.strip()
            )
            coldef = (coldef[: mg.start()] + " " + after).strip()
        cleaned.append(coldef)
    if gen_props:
        cols_text = ", ".join(cleaned)

    from pyspark.sql import types as T

    try:
        schema = T.StructType.fromDDL(cols_text)
    except Exception as exc:
        raise ValueError(
            f"unparseable CREATE TABLE column list: {exc}"
        ) from exc

    partition_by: list[str] | None = None
    props: dict[str, str] = {}
    tail = re.sub(r"(?is)^USING\s+\w+\s*", "", tail)  # one format: parquet
    pm = re.search(r"(?is)\bPARTITIONED\s+BY\s*\(", tail)
    if pm and _outside_quotes(tail, pm.end() - 1):
        inner, rest = _match_paren_span(tail, pm.end() - 1)
        partition_by = [p.strip() for p in _split_commas(inner)]
        tail = (tail[: pm.start()] + rest).strip()
    tm = re.search(r"(?is)\bTBLPROPERTIES\s*\(", tail)
    if tm and _outside_quotes(tail, tm.end() - 1):
        inner, rest = _match_paren_span(tail, tm.end() - 1)
        for pair in _split_commas(inner):
            kv = _split_top(pair, "=")
            if len(kv) != 2:
                raise ValueError(
                    f"TBLPROPERTIES entries are 'key' = 'value' pairs, "
                    f"got {pair.strip()!r}"
                )
            props[str(_parse_lit(kv[0]))] = str(_parse_lit(kv[1]))
        tail = (tail[: tm.start()] + rest).strip()
    props.update(gen_props)
    if tail:
        raise ValueError(
            f"unsupported CREATE TABLE clause(s): {tail[:60]!r} "
            "(supported: USING <fmt>, PARTITIONED BY (...), "
            "TBLPROPERTIES (...))"
        )
    cat.create_table(
        table,
        schema,
        branch,
        partition_by=partition_by,
        if_not_exists=if_not_exists,
        properties=props or None,
        or_replace=or_replace,
    )
    return (
        ("REPLACE" if or_replace else "CREATE"),
        table,
        cat.load_table(table, branch),
    )


def _match_paren_span(s: str, open_idx: int) -> tuple[str, str]:
    """Contents of the paren group opening at ``open_idx`` plus the
    text after it (quote-aware)."""
    mask = _quote_mask(s, backticks=True)
    depth = 0
    for i in range(open_idx, len(s)):
        if mask[i]:
            continue
        depth += s[i] == "("
        depth -= s[i] == ")"
        if depth == 0:
            return s[open_idx + 1 : i], s[i + 1 :]
    raise ValueError("unbalanced parentheses")


def prepare_insert(cat, spark, query: str, branch: str):
    """Parse an INSERT statement and build its fully-aligned source
    DataFrame WITHOUT executing the write: returns ``(mode, table, df,
    replace_cond, forced_partitions)`` with ``mode`` one of
    ``"append" | "overwrite" | "replace_where"``. ``_exec_insert`` is
    the classic parse-and-run face; the split exists so
    ``Catalog.sql_transaction``'s pure-append fast path can prepare
    every statement's DataFrame first and land them all in ONE
    ``append_many`` commit."""
    from pyspark.sql import functions as F

    m = re.match(
        rf"(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})\s*(.*)$",
        query.strip(),
    )
    if not m:
        raise ValueError(
            "unsupported INSERT shape; expected "
            "INSERT INTO|OVERWRITE <table> [(cols)] SELECT ...|VALUES ... "
            "(Catalog.append / Catalog.overwrite are the API equivalents)"
        )
    overwrite = m.group(1).upper() == "OVERWRITE"
    table, rest = _unquote(m.group(2)), m.group(3).strip().rstrip(";")
    # static partition spec (the Spark spelling): INSERT INTO|OVERWRITE
    # t PARTITION (p = 'x'[, q]) — assigned names are constants filled
    # into every row (and omitted from the select list); bare names
    # are declared-dynamic (values come from the data, same as not
    # naming them). Only identity partition columns may be assigned.
    static_part: dict[str, Any] = {}
    mp = re.match(r"(?is)^PARTITION\s*\((.*?)\)\s*(.*)$", rest)
    if mp:
        for item in _split_commas(mp.group(1)):
            item = item.strip()
            ma = re.match(rf"(?is)^({_IDENT})\s*=\s*(.+)$", item)
            if ma:
                static_part[_unquote(ma.group(1))] = _parse_lit(
                    ma.group(2).strip()
                )
            elif re.fullmatch(_IDENT, item):
                pass  # dynamic partition column: value from the data
            else:
                raise ValueError(
                    f"cannot parse PARTITION clause item {item!r}"
                )
        rest = mp.group(2).strip()
    # Delta's REPLACE WHERE: atomically delete matching rows + insert
    # the query's rows in ONE snapshot (Catalog.replace_where)
    replace_cond: str | None = None
    mr = re.match(r"(?is)^REPLACE\s+WHERE\s+(.*)$", rest)
    if mr:
        if overwrite or static_part:
            raise ValueError(
                "REPLACE WHERE combines with neither OVERWRITE nor a "
                "static PARTITION clause (it IS the predicate-scoped "
                "overwrite)"
            )
        body = mr.group(1)
        cuts = [
            i
            for i in (
                _find_keyword(body, w)
                for w in ("SELECT", "VALUES", "TABLE", "WITH")
            )
            if i >= 0
        ]
        if not cuts:
            raise ValueError(
                "REPLACE WHERE needs a SELECT/VALUES source query "
                "after the predicate"
            )
        replace_cond = body[: min(cuts)].strip()
        if not replace_cond:
            raise ValueError("REPLACE WHERE predicate is empty")
        replace_cond = resolve_subqueries(spark, replace_cond)
        rest = body[min(cuts) :].strip()
    cols: list[str] | None = None
    if rest.startswith("("):
        # quote-aware paren matching: a ')' inside a backtick-quoted
        # identifier or string literal must not close the list
        mask = _quote_mask(rest, backticks=True)
        depth, end = 0, -1
        for i, c in enumerate(rest):
            if mask[i]:
                continue
            depth += c == "("
            depth -= c == ")"
            if depth == 0:
                end = i
                break
        head = rest[1:end]
        tail = rest[end + 1 :].strip()
        # "(a, b) SELECT/VALUES" = column list; "(SELECT ...)" = query
        if re.match(r"(?is)^(SELECT|VALUES|TABLE|WITH)\b", tail):
            cols = [_unquote(c) for c in _split_commas(head)]
            rest = tail
    if not re.match(r"(?is)^(SELECT|VALUES|TABLE|WITH|\()", rest):
        raise ValueError(f"cannot parse INSERT source {rest!r}")
    df = spark.sql(rest)
    tmeta = cat.load_table(table, branch)
    schema = tmeta.spark_schema
    # declared write-defaults (add_column's contract: writers may omit
    # the column; the write fills it) — SQL INSERT honors them exactly
    # like the API path (Catalog._align_schema)
    defaults = tmeta.column_defaults
    if static_part:
        idset = {
            f.source
            for f in tmeta.partition_fields
            if f.transform == "identity"
        }
        bad = sorted(set(static_part) - idset)
        if bad:
            raise ValueError(
                f"PARTITION clause assigns {bad}; only identity "
                f"partition columns of {table!r} may be static "
                f"({sorted(idset) or 'none — table is not partitioned'})"
            )

    def fill_expr(fname: str):
        """Unmentioned-column fill order: static partition constant,
        then declared write-default, then NULL."""
        if fname in static_part:
            return F.lit(static_part[fname])
        if fname in defaults:
            return F.expr(defaults[fname])
        return F.lit(None)

    if cols is not None:
        if len(cols) != len(df.columns):
            raise ValueError(
                f"INSERT column list has {len(cols)} names but the "
                f"query produces {len(df.columns)} columns"
            )
        if len(set(cols)) != len(cols):
            dupes = sorted({c for c in cols if cols.count(c) > 1})
            raise ValueError(
                f"INSERT column list names {dupes} more than once"
            )
        by_name = dict(zip(cols, df.columns))
        known = {f.name for f in schema.fields}
        bad = sorted(set(cols) - known)
        if bad:
            raise ValueError(
                f"INSERT column names {bad} are not columns of {table!r}"
            )
        clash = sorted(set(cols) & set(static_part))
        if clash:
            raise ValueError(
                f"columns {clash} appear both in the column list and "
                "as static PARTITION assignments"
            )
        df = df.select(
            *[
                F.col(by_name[f.name]).cast(f.dataType).alias(f.name)
                if f.name in by_name
                else fill_expr(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    else:
        # positional INSERT: static partition columns are omitted from
        # the select list (the Spark shape), and TRAILING defaulted
        # columns may be omitted (standard SQL); any other arity
        # mismatch is an error
        tgt = [f for f in schema.fields if f.name not in static_part]
        n = len(df.columns)
        gens = tmeta.generated_columns
        if n > len(tgt) or (
            n < len(tgt)
            and any(
                f.name not in defaults and f.name not in gens
                for f in tgt[n:]
            )
        ):
            raise ValueError(
                f"INSERT query produces {len(df.columns)} columns but "
                f"{table!r} expects {len(tgt)}"
                + (" (after static PARTITION columns)" if static_part else "")
            )
        pos = {f.name: df.columns[i] for i, f in enumerate(tgt[:n])}
        exprs = []
        for f in schema.fields:
            src = (
                F.col(pos[f.name]) if f.name in pos else fill_expr(f.name)
            )
            exprs.append(src.cast(f.dataType).alias(f.name))
        df = df.select(*exprs)
        given_names = set(pos)
    # GENERATED ALWAYS AS: columns the statement did not supply are
    # COMPUTED from the row (a second projection — the expressions
    # reference other target columns by name); supplied values are
    # validated inside the write
    gens = tmeta.generated_columns
    if cols is not None:
        given_names = set(cols)
    to_compute = [g for g in gens if g not in given_names]
    if to_compute:
        df = df.select(
            *[
                F.expr(gens[f.name]).cast(f.dataType).alias(f.name)
                if f.name in to_compute
                else F.col(f.name)
                for f in schema.fields
            ]
        )
    if replace_cond is not None:
        return "replace_where", table, df, replace_cond, None
    if overwrite:
        # Iceberg semantics: on a partitioned table INSERT OVERWRITE
        # replaces only the partitions the incoming rows touch
        # (dynamic partition overwrite); unpartitioned replaces all.
        # A FULLY-static PARTITION clause forces its tuple into the
        # replacement set, so `INSERT OVERWRITE t PARTITION (p='x')
        # SELECT ... WHERE false` truncates that partition (Spark's
        # static-overwrite semantics) instead of no-op-ing.
        forced = None
        if static_part and set(static_part) == {
            f.source for f in tmeta.partition_fields
        }:
            forced = [
                {c: str(v) for c, v in static_part.items()}
            ]
        return "overwrite", table, df, None, forced
    return "append", table, df, None, None


def _exec_insert(cat, spark, query: str, branch: str):
    mode, table, df, replace_cond, forced = prepare_insert(
        cat, spark, query, branch
    )
    if mode == "replace_where":
        meta = cat.replace_where(df, table, replace_cond, branch)
        return "INSERT REPLACE WHERE", table, meta
    if mode == "overwrite":
        meta = cat.dynamic_overwrite(
            df, table, branch, replace_partitions=forced
        )
        return "INSERT OVERWRITE", table, meta
    meta = cat.append(df, table, branch)
    return "INSERT", table, meta


def _coal(cond: str) -> str:
    return f"coalesce(({cond}), false)"


def _fold_matched_clauses(
    m_clauses: list[tuple[str, str, dict[str, str] | None]],
    schema_fields,
) -> tuple[str | None, str | None, dict[str, str] | None]:
    """Fold N ordered WHEN MATCHED clauses (first-match-wins, the
    Spark/Delta semantics) into the primitive's two arms.

    Each clause's EFFECTIVE condition is its own AND NOT any earlier
    clause's — so a row claimed by an earlier DELETE never reaches a
    later UPDATE and vice versa. The update arm's per-column values
    become a CASE in clause order (raw conditions suffice inside the
    CASE: the arm condition already excludes rows earlier clauses
    claimed, and CASE itself is first-match). A SET * clause
    contributes ``s.`col``` per column; explicit lists were expanded
    at parse (unmentioned -> ``t.`col```). The 0/1-update +
    0/1-delete shape keeps the exact expressions the two-clause
    router always produced.
    """
    n_upd = sum(1 for k, _c, _s in m_clauses if k == "update")
    n_del = sum(1 for k, _c, _s in m_clauses if k == "delete")
    upd_cond = del_cond = None
    update_set: dict[str, str] | None = None
    if n_upd <= 1 and n_del <= 1:
        for k, c, s in m_clauses:
            if k == "update":
                upd_cond, update_set = c, s
            else:
                del_cond = c
        if [k for k, _c, _s in m_clauses] == ["update", "delete"]:
            del_cond = f"({del_cond}) AND NOT {_coal(upd_cond)}"
        return upd_cond, del_cond, update_set

    conds = [c for _k, c, _s in m_clauses]

    def eff(i: int) -> str:
        parts = [_coal(conds[i])]
        parts += [f"NOT {_coal(conds[j])}" for j in range(i)]
        return " AND ".join(parts)

    upd_idx = [i for i, (k, _c, _s) in enumerate(m_clauses) if k == "update"]
    del_idx = [i for i, (k, _c, _s) in enumerate(m_clauses) if k == "delete"]
    if del_idx:
        del_cond = " OR ".join(f"({eff(i)})" for i in del_idx)
    if upd_idx:
        upd_cond = " OR ".join(f"({eff(i)})" for i in upd_idx)
        named = set()
        for i in upd_idx:
            named |= set(m_clauses[i][2] or {})
        tcols = [f.name for f in schema_fields()]
        extras = sorted(named - set(tcols))

        def branch_expr(i: int, col: str) -> str:
            s = m_clauses[i][2]
            if s is None:  # SET *: every column from the source
                return f"s.`{col}`"
            # explicit list: parse-expanded over schema cols; an extra
            # (evolution) column unmentioned by THIS clause keeps the
            # target value (NULL on old rows)
            return s.get(col, f"t.`{col}`")

        update_set = {}
        for col in tcols + extras:
            whens = " ".join(
                f"WHEN {_coal(conds[i])} THEN ({branch_expr(i, col)})"
                for i in upd_idx
            )
            update_set[col] = f"CASE {whens} ELSE t.`{col}` END"
    return upd_cond, del_cond, update_set


def _fold_insert_clauses(
    i_clauses: list[tuple[str, dict[str, str] | None]],
    schema_fields,
) -> tuple[str | None, dict[str, str] | None]:
    """Fold N ordered WHEN NOT MATCHED clauses: the arm condition is
    the OR; per-column values a first-match CASE in clause order
    (INSERT * contributes the bare source column, the primitive's own
    default)."""
    if len(i_clauses) <= 1:
        return (i_clauses[0] if i_clauses else (None, None))
    ins_cond = " OR ".join(f"({_coal(c)})" for c, _v in i_clauses)
    named = set()
    for _c, v in i_clauses:
        named |= set(v or {})
    tcols = [f.name for f in schema_fields()]
    cols = tcols + sorted(named - set(tcols))
    insert_values = {}
    for col in cols:
        parts = []
        for c, v in i_clauses:
            # v is None: INSERT * -> the bare source column. Explicit
            # lists were parse-expanded over schema cols; the get
            # default is reachable only for ANOTHER clause's evolution
            # extra, which this clause leaves NULL (unmentioned)
            expr = f"`{col}`" if v is None else v.get(col, "NULL")
            parts.append(f"WHEN {_coal(c)} THEN ({expr})")
        insert_values[col] = f"CASE {' '.join(parts)} ELSE NULL END"
    return ins_cond, insert_values


_MERGE_SHAPE = (
    "MERGE shape; expected MERGE INTO <t> [alias] USING <src> [alias] "
    "ON <cond> WHEN ... (Catalog.merge_into is the API equivalent)"
)


def _merge_keys(sql: str, on: _Expr, t_alias: str, s_alias: str) -> list[str]:
    """``t.k = s.k AND ...`` -> merge key columns. Anything but a
    conjunction of same-column equalities across the two relations is
    outside merge_into's key surface."""
    keys, ta, sa = [], t_alias.lower(), s_alias.lower()
    for part in _operands(on, "And"):
        sides = [k.parts for k in part.kids if k.kind == "UnresolvedAttribute"]
        if part.kind != "EqualTo" or [len(p) for p in sides] != [2, 2]:
            raise ValueError(
                f"MERGE ON clause {part.text(sql)!r} is not an equality "
                "between the target and source relations; merge_into "
                "supports conjunctions of t.<col> = s.<col>"
            )
        by = {q.lower(): c for q, c in sides}
        if set(by) != {ta, sa}:
            raise ValueError(
                f"MERGE ON equality {part.text(sql)!r} must reference "
                f"both {t_alias!r} and {s_alias!r}"
            )
        if by[ta] != by[sa]:
            raise ValueError(
                f"MERGE ON joins {by[ta]!r} to {by[sa]!r}; merge_into keys "
                "on same-named columns — alias the source column first"
            )
        keys.append(by[ta])
    return keys


def _exec_merge(cat, spark, query: str, branch: str):
    plan = _statement(query, "MergeIntoTable", _MERGE_SHAPE)
    schema_evolution = bool(plan.withSchemaEvolution())
    table, t_alias = _target(
        plan.targetTable(), "MERGE target must be a catalog table name"
    )
    src, s_alias = plan.sourceTable(), None
    if src.nodeName() == "SubqueryAlias":
        s_alias, src = src.alias(), src.child()
    if src.nodeName() == "UnresolvedRelation":  # addressable by its name
        a, b = _span(src)
        source_rel = query[a : b + 1]
        s_alias = s_alias or _seq(src.multipartIdentifier())[-1]
    else:  # a parenthesized query; un-aliased, it is positionally `s`
        a, b = _parens_around(query, _span(src)[0])
        source_rel = query[a : b + 1]
        s_alias = s_alias or "s"
    if t_alias.lower() == s_alias.lower():
        raise ValueError(
            f"MERGE target and source share the alias {t_alias!r}; "
            "every column reference would be ambiguous"
        )
    on = _Expr(plan.mergeCondition(), query)
    keys = _merge_keys(query, on, t_alias, s_alias)
    # user aliases -> the canonical t/s the primitive evaluates, in one
    # pass over reference spans (a source aliased `t` cannot re-capture
    # the target's references)
    quals = {t_alias.lower(): "t", s_alias.lower(): "s"}

    def cond_of(action) -> str:
        c = action.condition()
        if not c.isDefined():
            return "true"
        return _requalified(query, _Expr(c.get(), query), quals)

    # lazy one-shot metadata load shared by the UPDATE SET and INSERT
    # validation branches: a MERGE with neither (DELETE + INSERT *)
    # pays zero router-side loads; merge_into loads its own fresh
    # copy per CAS attempt regardless
    _schema_cache: list = []

    def _table_meta():
        if not _schema_cache:
            _schema_cache.append(cat.load_table(table, branch))
        return _schema_cache[0]

    def schema_fields():
        return _table_meta().spark_schema.fields

    def explicit(given, what, fill, evolve) -> dict[str, str]:
        """An explicit column list over every table column; SQL
        semantics: an unmentioned column takes ``fill(col)``, not the
        primitive's default (the source's column). WITH SCHEMA
        EVOLUTION passes brand-new source columns through; the
        primitive adds them to the schema."""
        out = {f.name: fill(f.name) for f in schema_fields()}
        bad = sorted(set(given) - set(out))
        if bad and not evolve:
            raise ValueError(
                f"{what} names {bad} are not columns of {table!r}"
            )
        return {**out, **given}

    def set_of(action, evolve) -> dict[str, str] | None:
        if action.nodeName() == "UpdateStarAction":
            return None  # every column from the source
        given = _assignments(
            query, action.assignments(), {t_alias.lower(), "t"}, quals
        )
        return explicit(given, "UPDATE SET", lambda c: f"t.`{c}`", evolve)

    # MATCHED / NOT MATCHED [BY SOURCE] clauses in statement order —
    # Spark/Delta allow ANY number, first-match-wins; folded into the
    # primitive's arms after the parse (_fold_matched_clauses). BY
    # SOURCE has no SET * in Spark's grammar.
    m_clauses: list[tuple[str, str, dict[str, str] | None]] = []
    bs_clauses: list[tuple[str, str, dict[str, str] | None]] = []
    for clauses, actions, evolve in (
        (m_clauses, plan.matchedActions(), schema_evolution),
        (bs_clauses, plan.notMatchedBySourceActions(), False),
    ):
        for action in _seq(actions):
            if action.nodeName() == "DeleteAction":
                clauses.append(("delete", cond_of(action), None))
            else:
                clause = ("update", cond_of(action), set_of(action, evolve))
                clauses.append(clause)
    i_clauses: list[tuple[str, dict[str, str] | None]] = []
    for action in _seq(plan.notMatchedActions()):
        given: dict[str, str] | None = None  # INSERT *: source cols
        if action.nodeName() != "InsertStarAction":
            given = {}
            for a in _seq(action.assignments()):
                name = ".".join(_names(a.key()))
                if name in given:
                    raise ValueError(
                        "INSERT column list names a column more than once"
                    )
                value = _Expr(a.value(), query)
                given[name] = _requalified(query, value, quals)
            # unmentioned columns take the declared write-default (the
            # INSERT INTO / _align_schema contract), else NULL
            tdefs = _table_meta().column_defaults
            given = explicit(
                given, "INSERT column", lambda c: tdefs.get(c, "NULL"),
                schema_evolution,
            )
        i_clauses.append((cond_of(action), given))

    upd_cond, del_cond, update_set = _fold_matched_clauses(
        m_clauses, schema_fields
    )
    ins_cond, insert_values = _fold_insert_clauses(i_clauses, schema_fields)
    # BY SOURCE folds through the same machinery (its sets are always
    # explicit dicts, so the fold's SET-* arm is unreachable); CASE
    # branch expressions read t.* only
    bs_upd_cond, bs_del_cond, update_by_source_set = _fold_matched_clauses(
        bs_clauses, schema_fields
    )

    source_df = spark.sql(f"SELECT * FROM {source_rel} AS __merge_src")
    meta = cat.merge_into(
        source_df,
        table,
        keys,
        when_matched_update=upd_cond,
        when_matched_delete=del_cond,
        when_not_matched_insert=ins_cond,
        update_set=update_set,
        insert_values=insert_values,
        when_not_matched_by_source_delete=bs_del_cond,
        when_not_matched_by_source_update=bs_upd_cond,
        update_by_source_set=update_by_source_set,
        branch=branch,
        schema_evolution=schema_evolution,
    )
    return "MERGE", table, meta


def _outside_quotes(s: str, idx: int) -> bool:
    """True when ``idx`` is not inside a quoted literal/identifier."""
    return not any(a <= idx < b for a, b in _quoted_regions(s, backticks=True))


_META_TABLE_PAT = re.compile(
    r"`([A-Za-z_]\w*)\$(snapshots|files|history|partitions|refs)`"
)


def rewrite_metadata_tables(cat, spark, query: str, branch: str) -> str:
    """Iceberg-style metadata tables in SQL: ```t$snapshots``` /
    ```t$files``` / ```t$history``` / ```t$partitions``` /
    ```t$refs``` (the Hive/Trino spelling — Spark
    identifiers cannot carry ``$``, so the token is necessarily
    backtick-quoted) register a :meth:`Catalog.metadata_df` view
    pinned at the branch's current head and rewrite to its name.
    Metadata-only — file/snapshot listings never scan data — so a
    query like ``SELECT count(*) FROM `t$files` WHERE rows > 0`` is
    O(manifest) at any table size, exactly like Iceberg's. Tokens
    inside string literals are left alone; an unknown table name
    falls through so Spark raises its usual unresolved-relation
    error."""

    def repl(m: re.Match) -> str:
        table, kind = m.group(1), m.group(2)
        if not cat.table_exists(table, branch):
            return m.group(0)
        # dunder-wrapped so the rewritten name cannot shadow (or be
        # shadowed by) a real catalog table named e.g. t__snapshots
        safe = f"__meta__{table}__{kind}__"
        cat.metadata_df(spark, table, kind, branch).createOrReplaceTempView(
            safe
        )
        return f"`{safe}`"

    # string literals and comments are opaque; backtick identifiers
    # are not (the token itself is one)
    out, pos = [], 0
    for a, b in _quoted_regions(query, backticks=False):
        out += [_META_TABLE_PAT.sub(repl, query[pos:a]), query[a:b]]
        pos = b
    out.append(_META_TABLE_PAT.sub(repl, query[pos:]))
    return "".join(out)


def rewrite_time_travel(cat, spark, query: str, branch: str) -> str:
    """SQL time travel (the Spark+Iceberg surface): rewrite
    ``<table> VERSION AS OF <snapshot_id>``, ``<table> VERSION AS OF
    '<branch-or-tag>'`` and ``<table> TIMESTAMP AS OF '<ts>'``
    references into snapshot-pinned temp views backed by
    :meth:`Catalog.read` / :meth:`Catalog.read_as_of`. Works at
    any subquery depth (MERGE USING included); naive timestamps are
    taken as UTC, matching the commit log's epoch-ms clock. A
    time-travel reference to a name the catalog doesn't know raises
    (silently ignoring the clause would serve current-state rows for
    a historical query)."""
    import datetime as _dt

    out = query
    # both Spark spellings: `t VERSION AS OF x` and the SQL-2011 form
    # `t FOR SYSTEM_VERSION AS OF x` (same for TIMESTAMP/SYSTEM_TIME)
    pat_v = re.compile(
        rf"(?is)({_IDENT})\s+(?:FOR\s+SYSTEM_VERSION\s+AS\s+OF"
        rf"|VERSION\s+AS\s+OF)\s+(\d+|{_STR})"
    )
    pat_t = re.compile(
        rf"(?is)({_IDENT})\s+(?:FOR\s+SYSTEM_TIME\s+AS\s+OF"
        rf"|TIMESTAMP\s+AS\s+OF)\s+({_STR})"
    )
    while True:
        m = next(
            (
                mm
                for mm in list(pat_v.finditer(out)) + list(pat_t.finditer(out))
                if _outside_quotes(out, mm.start())
            ),
            None,
        )
        if m is None:
            return out
        table = _unquote(m.group(1))
        ref = m.group(2)
        if m.re is pat_v and ref.startswith("'"):
            # VERSION AS OF '<branch-or-tag>' (Iceberg's Spark
            # spelling for ref-name time travel) — the forensic-read
            # shape the reference's dashboard uses (branch-addressed
            # reads of an open audit branch, quality_app.py:64-76):
            # one statement can join main against a failed branch
            name = ref[1:-1].replace("''", "'")
            if not cat.branch_exists(name):
                raise KeyError(
                    f"VERSION AS OF {name!r}: no branch or tag with "
                    "that name"
                )
            if not cat.table_exists(table, name):
                raise KeyError(
                    f"time-travel reference to unknown table {table!r} "
                    f"on ref {name!r}"
                )
            df = cat.read(spark, table, name)
            view = f"{table}__ref_{re.sub(r'[^A-Za-z0-9_]', '_', name)}"
        else:
            if not cat.table_exists(table, branch):
                raise KeyError(
                    f"time-travel reference to unknown table {table!r} "
                    f"on branch {branch!r}"
                )
            if ref.startswith("'"):
                ts = _dt.datetime.fromisoformat(
                    ref[1:-1].replace("''", "'")
                )
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
                ms = int(ts.timestamp() * 1000)
                df = cat.read_as_of(spark, table, ms, branch)
                view = f"{table}__asof_{ms}"
            else:
                df = cat.read(spark, table, branch, snapshot_id=int(ref))
                view = f"{table}__v{ref}"
        df.createOrReplaceTempView(view)
        out = out[: m.start()] + view + out[m.end() :]


def _exec_alter(cat, spark, query: str, branch: str):
    """Schema-evolution DDL (the Iceberg SQL surface):

    - ``ALTER TABLE t ADD COLUMN name type``    -> :meth:`add_column`
    - ``ALTER TABLE t DROP COLUMN name``        -> :meth:`drop_column`
    - ``ALTER TABLE t RENAME COLUMN a TO b``    -> :meth:`rename_column`
    - ``ALTER TABLE t RENAME TO u``             -> :meth:`rename_table`
    - ``ALTER TABLE t SET|UNSET TBLPROPERTIES ('k' [= 'v'], ...)``
      -> :meth:`set_properties`
    - ``ALTER TABLE t WRITE ORDERED BY a, b``   -> :meth:`set_sort_order`
    - ``ALTER TABLE t WRITE UNORDERED``         -> sort order cleared
    - ``ALTER TABLE t ADD|DROP PARTITION FIELD day(ts)``
      -> :meth:`evolve_partition_spec` (current spec +/- the field)

    All are metadata-only commits in this engine (no data rewrite at
    any table size; future writes pick up the new layout, compaction
    retires the old)."""
    q = query.strip().rstrip(";")
    guard = re.search(r"(?i)\bIF\s+(NOT\s+)?EXISTS\b", q) or re.search(
        r"(?i)\bCOLUMNS\s*\(", q
    )
    # quote-aware: the same text inside a backtick-quoted identifier
    # (a column literally named `if exists flag`) is legal
    if guard and _outside_quotes(q, guard.start()):
        # the singular-form grammar below would swallow these into a
        # bogus name/type split and die deep in the type parser with
        # a confusing error — refuse at the router with the grammar
        raise ValueError(
            "unsupported ALTER shape (no IF [NOT] EXISTS, no "
            "multi-column ADD COLUMNS (...) list); issue one "
            "ALTER TABLE <t> ADD|DROP COLUMN per column"
        )
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"SET\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        cols = [_unquote(c.strip()) for c in m.group(2).split(",")]
        meta = cat.set_identifier_fields(table, cols, branch)
        return "ALTER TABLE", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"DROP\s+IDENTIFIER\s+FIELDS\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.set_identifier_fields(table, None, branch)
        return "ALTER TABLE", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"ADD\s+CONSTRAINT\s+({_IDENT})\s+CHECK\s*\((.+)\)\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.add_constraint(
            spark, table, _unquote(m.group(2)), m.group(3).strip(), branch
        )
        return "ALTER TABLE", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"DROP\s+CONSTRAINT\s+({_IDENT})\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.drop_constraint(table, _unquote(m.group(2)), branch)
        return "ALTER TABLE", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"ADD\s+COLUMN\s+({_IDENT})\s+([\w()<>,\s]+?)"
        rf"(?:\s+DEFAULT\s+({_LIT}))?\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.add_column(
            table,
            _unquote(m.group(2)),
            m.group(3).strip(),
            branch,
            default=m.group(4),
        )
        return "ALTER ADD COLUMN", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"DROP\s+COLUMN\s+({_IDENT})\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.drop_column(table, _unquote(m.group(2)), branch)
        return "ALTER DROP COLUMN", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"ALTER\s+COLUMN\s+({_IDENT})\s+TYPE\s+([\w()<>,\s]+?)\s*$",
        q,
    )
    if m:
        # Iceberg's safe type promotion (int widening, float->double,
        # decimal precision increase) — metadata-only
        table = _unquote(m.group(1))
        meta = cat.widen_column(
            table, _unquote(m.group(2)), m.group(3).strip(), branch
        )
        return "ALTER COLUMN TYPE", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.rename_column(
            table, _unquote(m.group(2)), _unquote(m.group(3)), branch
        )
        return "ALTER RENAME COLUMN", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+WRITE\s+ORDERED\s+BY\s+"
        rf"\(?\s*(.+?)\s*\)?$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        cols = [_unquote(c) for c in _split_commas(m.group(2))]
        meta = cat.set_sort_order(table, cols, branch)
        return "ALTER WRITE ORDERED BY", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+WRITE\s+UNORDERED$", q
    )
    if m:
        table = _unquote(m.group(1))
        meta = cat.set_sort_order(table, [], branch)
        return "ALTER WRITE UNORDERED", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"(SET|UNSET)\s+TBLPROPERTIES\s*\(",
        q,
    )
    if m and _outside_quotes(q, m.end() - 1):
        table = _unquote(m.group(1))
        verb = m.group(2).upper()
        inner, rest = _match_paren_span(q, m.end() - 1)
        if rest.strip():
            raise ValueError(
                f"unexpected text after TBLPROPERTIES list: {rest.strip()[:40]!r}"
            )
        props: dict[str, Any] = {}
        for pair in _split_commas(inner):
            if verb == "SET":
                kv = _split_top(pair, "=")
                if len(kv) != 2:
                    raise ValueError(
                        "SET TBLPROPERTIES entries are 'key' = 'value' "
                        f"pairs, got {pair.strip()!r}"
                    )
                props[str(_parse_lit(kv[0]))] = str(_parse_lit(kv[1]))
            else:
                props[str(_parse_lit(pair))] = None  # unset
        meta = cat.set_properties(table, branch, **props)
        return f"ALTER {verb} TBLPROPERTIES", table, meta
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+TO\s+({_IDENT})$",
        q,
    )
    if m:
        table, new = _unquote(m.group(1)), _unquote(m.group(2))
        cat.rename_table(table, new, branch)
        # the old-name temp view pinned at the top of this Catalog.sql
        # call would shadow a later same-named CREATE; the next sql()
        # call re-registers views under the new name
        spark.catalog.dropTempView(table)
        return "ALTER RENAME TO", new, cat.load_table(new, branch)
    m = re.match(
        rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+"
        rf"(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*$",
        q,
    )
    if m:
        # Iceberg's one-field ADD/DROP over this engine's whole-spec
        # evolve_partition_spec: read the current spec, edit, commit
        table = _unquote(m.group(1))
        field = m.group(3).strip()
        spec = list(cat.load_table(table, branch).partition_by)
        if m.group(2).upper() == "ADD":
            if field in spec:
                raise ValueError(f"partition field {field!r} already in spec")
            spec.append(field)
        else:
            if field not in spec:
                raise ValueError(
                    f"partition field {field!r} not in spec {spec}"
                )
            spec.remove(field)
        meta = cat.evolve_partition_spec(table, spec, branch)
        return f"ALTER {m.group(2).upper()} PARTITION FIELD", table, meta
    raise ValueError(
        "unsupported ALTER shape; supported: ADD COLUMN <name> <type>, "
        "DROP COLUMN <name>, RENAME COLUMN <a> TO <b>, RENAME TO <u>, "
        "SET|UNSET TBLPROPERTIES (...), WRITE ORDERED BY <cols>, WRITE "
        "UNORDERED, ADD|DROP PARTITION FIELD <field> (Catalog."
        "add_column/drop_column/rename_column/rename_table/"
        "set_properties/set_sort_order/evolve_partition_spec are the "
        "API equivalents)"
    )


def _exec_drop(cat, spark, query: str, branch: str):
    m = re.match(
        rf"(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_IDENT})\s*;?\s*$",
        query,
    )
    if not m:
        raise ValueError(
            "unsupported DROP shape; expected DROP TABLE [IF EXISTS] <t> "
            "(Catalog.drop_table is the API equivalent)"
        )
    table = _unquote(m.group(2))
    if not cat.table_exists(table, branch):
        # not a WAP-catalog table: preserve the pre-router behavior
        # (the statement fell through to spark.sql, which drops
        # Spark-managed tables and honors IF EXISTS itself) — a
        # silent catalog-only no-op would leave a Spark table alive
        # while reporting success
        spark.sql(query)
        return "DROP TABLE (spark)", table, None
    cat.drop_table(table, branch)
    # create_views pinned a same-named temp view at the top of this
    # Catalog.sql call; leaving it registered would make a later
    # DROP TABLE IF EXISTS (now a spark.sql fall-through) resolve the
    # stale view and raise instead of no-opping
    spark.catalog.dropTempView(table)
    return "DROP TABLE", table, None


_INTERNAL_PROPS = {
    # bookkeeping the engine maintains itself — not user configuration,
    # and not valid inputs to CREATE (re-setting them would corrupt
    # rename/drop history)
    "renamed_columns", "dropped_columns", "past_partition_specs",
    "prior_names",
    # physical-width bookkeeping from widen_column: a table recreated
    # from SHOW CREATE has uniform files and must not inherit it
    "widened_columns",
}


def describe_history(cat, spark, query: str, branch: str):
    """``DESCRIBE HISTORY <t>`` (the Delta spelling) -> the table's
    ``t$history`` metadata listing, metadata-only at any size."""
    m = re.match(
        rf"(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+({_IDENT})\s*;?\s*$", query
    )
    if not m:
        raise ValueError(
            "unsupported DESCRIBE shape; expected DESCRIBE HISTORY <t>"
        )
    return cat.metadata_df(spark, _unquote(m.group(1)), "history", branch)


def show_partitions(cat, spark, query: str, branch: str):
    """``SHOW PARTITIONS <t>`` — Spark's verb, answered from the
    MANIFEST (distinct live-file partition tuples), zero data IO.
    Rows are hive-style ``k=v[/k2=v2]`` strings in spec-field order,
    sorted — byte-compatible with Spark's own output for identity
    partitions; hidden-transform fields show their TRANSFORM values
    (``ts_day=2024-01-01``), which is what actually partitions the
    storage (Iceberg's ``t$partitions`` equivalent). At 100 TB this
    is an O(files) metadata scan, never a table scan."""
    m = re.match(
        rf"(?is)^\s*SHOW\s+PARTITIONS\s+({_IDENT})\s*;?\s*$", query
    )
    if not m:
        raise ValueError(
            "unsupported SHOW PARTITIONS shape; expected "
            "SHOW PARTITIONS <table>"
        )
    table = _unquote(m.group(1))
    meta = cat.load_table(table, branch)
    fields = [f.name for f in meta.partition_fields]
    if not fields:
        raise ValueError(
            f"SHOW PARTITIONS: table {table!r} is not partitioned"
        )
    tuples = {
        # a PRESENT-but-None value must render as the hive null
        # marker, not 'k=None' (file_all_match treats the marker and
        # None as the same null spelling, so None values do occur in
        # manifests). '' folds to the marker too — the WRITE path
        # already stores empty strings as the marker (Spark's hive
        # convention), so a literal '' here is defensive, never a
        # real value. Any OTHER falsy value a future layout might
        # store (e.g. a non-string 0) is a real value and renders
        # as itself.
        tuple(
            (
                k,
                v
                if (v := f.partition.get(k)) not in (None, "")
                else "__HIVE_DEFAULT_PARTITION__",
            )
            for k in fields
        )
        for f in meta.files()
    }
    rows = sorted(
        ("/".join(f"{k}={v}" for k, v in t),) for t in tuples
    )
    return spark.createDataFrame(rows, "partition string")


def show_create_table(cat, spark, query: str, branch: str):
    m = re.match(
        rf"(?is)^\s*SHOW\s+TBLPROPERTIES\s+({_IDENT})\s*;?\s*$", query
    )
    if m:
        # Spark's own SHOW TBLPROPERTIES refuses temp views (the front
        # door's pinned reads), so serve it from table metadata —
        # internal bookkeeping keys and all, like Iceberg does
        meta = cat.load_table(_unquote(m.group(1)), branch)
        rows = sorted(meta.properties.items())
        if rows:
            return spark.createDataFrame(rows, "key string, value string")
        return spark.createDataFrame([], "key string, value string")
    """``SHOW CREATE TABLE t`` — synthesize re-executable DDL from the
    table metadata (Spark's own SHOW CREATE refuses temp views, which
    is what the front door's pinned reads are). The output ROUND-TRIPS:
    feeding it back through :meth:`Catalog.sql` recreates an empty
    table with the same schema, partition spec, and user properties.
    Sort order is ALTER-level state (``WRITE ORDERED BY``) and engine
    bookkeeping properties are omitted — neither is valid CREATE
    input. Returns one row (``createtab_stmt``), like Spark."""
    m = re.match(
        rf"(?is)^\s*SHOW\s+CREATE\s+TABLE\s+({_IDENT})\s*;?\s*$", query
    )
    if not m:
        raise ValueError(
            "unsupported SHOW shape; expected SHOW CREATE TABLE <t>"
        )
    table = _unquote(m.group(1))
    if table in cat.list_views(branch):
        v = cat.load_view(table, branch)
        stmt = f"CREATE VIEW {table}"
        if v.get("comment"):
            stmt += f" COMMENT '{v['comment'].replace(chr(39), chr(39) * 2)}'"
        stmt += f" AS {v['sql']}"
        return spark.createDataFrame([(stmt,)], "createtab_stmt string")
    meta = cat.load_table(table, branch)  # KeyError if unknown
    # simpleString as-is: uppercasing it would also uppercase FIELD
    # NAMES inside nested struct types (struct<x:int> -> STRUCT<X:INT>)
    cols = ",\n".join(
        f"  {f.name} {f.dataType.simpleString()}"
        + ("" if f.nullable else " NOT NULL")
        for f in meta.spark_schema.fields
    )
    stmt = f"CREATE TABLE {table} (\n{cols})\nUSING parquet"
    if meta.partition_by:
        stmt += f"\nPARTITIONED BY ({', '.join(meta.partition_by)})"
    user_props = {
        k: v for k, v in meta.properties.items() if k not in _INTERNAL_PROPS
    }
    if user_props:

        def q(s: str) -> str:  # doubled-quote escaping: round-trippable
            return "'" + str(s).replace("'", "''") + "'"

        pairs = ",\n".join(
            f"  {q(k)} = {q(v)}" for k, v in sorted(user_props.items())
        )
        stmt += f"\nTBLPROPERTIES (\n{pairs})"
    return spark.createDataFrame([(stmt,)], "createtab_stmt string")


def _exec_truncate(cat, spark, query: str, branch: str):
    """TRUNCATE TABLE <t> — an empty 'overwrite' snapshot: O(metadata),
    no data IO, and time travel to the pre-truncate snapshot still
    works (files are reclaimed later by the maintenance window, like
    every other historical layout)."""
    m = re.match(
        rf"(?is)^\s*TRUNCATE\s+TABLE\s+({_IDENT})\s*;?\s*$", query
    )
    if not m:
        raise ValueError(
            "unsupported TRUNCATE shape; expected TRUNCATE TABLE <t>"
        )
    table = _unquote(m.group(1))
    meta = cat.load_table(table, branch)  # KeyError if unknown
    empty = spark.createDataFrame([], meta.spark_schema)
    meta = cat.overwrite(empty, table, branch)
    return "TRUNCATE TABLE", table, meta


def _exec_create_view(cat, spark, query: str, branch: str):
    """``CREATE [OR REPLACE] VIEW [IF NOT EXISTS] <v> [COMMENT '..']
    AS <select>`` — the definition persists in the catalog commit
    (branch-addressed, versioned, published by the same fast-forward
    CAS as table changes; ``Catalog.create_view`` is the API
    equivalent). The body is stored VERBATIM and re-resolved against
    snapshot-pinned views on every ``Catalog.sql`` call — Iceberg's
    late-binding view semantics."""
    m = re.match(
        rf"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+"
        rf"(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+"
        rf"(?:COMMENT\s+'((?:[^']|'')*)'\s+)?AS\s+(.+)$",
        query.strip().rstrip(";"),
    )
    if not m:
        if re.match(
            rf"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+"
            rf"(IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s*\.",
            query,
        ):
            # qualified name (global_temp.v, db.v): not ours — Spark's
            # own view machinery handles it, as before the router grew
            # catalog views
            spark.sql(query)
            return "CREATE VIEW", "(spark)", None
        raise ValueError(
            "unsupported CREATE VIEW shape; expected CREATE [OR REPLACE] "
            "VIEW [IF NOT EXISTS] <v> [COMMENT '...'] AS <select> "
            "(Catalog.create_view is the API equivalent)"
        )
    name = _unquote(m.group(3))
    comment = m.group(4).replace("''", "'") if m.group(4) else None
    cat.create_view(
        name,
        m.group(5).strip(),
        branch,
        replace=bool(m.group(1)),
        if_not_exists=bool(m.group(2)),
        comment=comment,
        spark=spark,
    )
    return "CREATE VIEW", name, None


def _exec_drop_view(cat, spark, query: str, branch: str):
    m = re.match(
        rf"(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?({_IDENT})\s*;?\s*$",
        query,
    )
    if not m:
        if re.match(
            rf"(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?{_IDENT}\s*\.", query
        ):
            spark.sql(query)  # qualified name: Spark's view, not ours
            return "DROP VIEW", "(spark)", None
        raise ValueError(
            "unsupported DROP VIEW shape; expected DROP VIEW [IF EXISTS] <v>"
        )
    name = _unquote(m.group(2))
    if name not in cat.list_views(branch):
        # not a catalog view: pass through to Spark so session temp
        # views still drop (same fall-through contract as DROP TABLE
        # on a non-catalog name — a catalog-only no-op would report
        # success while the temp view survived)
        spark.sql(query)
        return "DROP VIEW", name, None
    cat.drop_view(name, branch, if_exists=bool(m.group(1)))
    # the pinned temp view from this sql() call's registration must not
    # survive the drop (DROP then SELECT would silently still resolve)
    spark.catalog.dropTempView(name)
    return "DROP VIEW", name, None


def execute_dml(cat, spark, query: str, branch: str):
    """Route one DML statement; returns (operation, table, metadata)."""
    kind = dml_kind(query)
    if kind == "CREATE_VIEW":
        return _exec_create_view(cat, spark, query, branch)
    if kind == "DROP_VIEW":
        return _exec_drop_view(cat, spark, query, branch)
    if kind == "MERGE":
        return _exec_merge(cat, spark, query, branch)
    if kind == "UPDATE":
        return _exec_update(cat, spark, query, branch)
    if kind == "DELETE":
        return _exec_delete(cat, spark, query, branch)
    if kind == "INSERT":
        return _exec_insert(cat, spark, query, branch)
    if kind == "CREATE":
        return _exec_create(cat, spark, query, branch)
    if kind == "ALTER":
        return _exec_alter(cat, spark, query, branch)
    if kind == "DROP":
        return _exec_drop(cat, spark, query, branch)
    if kind == "TRUNCATE":
        return _exec_truncate(cat, spark, query, branch)
    raise ValueError(f"not a DML statement: {query[:60]!r}")


# ----------------------------------------------------------------------
# CALL procedures — the Iceberg `CALL catalog.system.<proc>(...)`
# maintenance surface (rewrite_data_files / expire_snapshots /
# remove_orphan_files / rollback_to_snapshot / fast_forward), mapped
# onto this catalog's primitives, plus the branch/tag verbs Iceberg
# spells as ALTER TABLE ... CREATE BRANCH (catalog-level here).
# Every procedure is metadata-or-maintenance work; results come back
# as a DataFrame like Iceberg's procedure output rows.
# ----------------------------------------------------------------------

_MISSING = object()


def _parse_call_lit(text: str) -> Any:
    text = text.strip()
    if re.fullmatch(r"(?i)true|false", text):
        return text.lower() == "true"
    return _parse_lit(text)


def _parse_call_args(text: str) -> tuple[list[Any], dict[str, Any]]:
    """Positional and named (``name => literal``) procedure arguments.
    Literals only — procedure args are table/branch names, counts, and
    flags, never expressions."""
    pos: list[Any] = []
    named: dict[str, Any] = {}
    for part in _split_commas(text):
        part = part.strip()
        m = re.match(rf"(?is)^({_IDENT})\s*=>\s*(.+)$", part)
        if m:
            key = _unquote(m.group(1)).lower()
            if key in named:
                raise ValueError(f"duplicate CALL argument {key!r}")
            named[key] = _parse_call_lit(m.group(2))
        else:
            if named:
                raise ValueError(
                    "positional CALL argument after a named argument"
                )
            pos.append(_parse_call_lit(part))
    return pos, named


_CALL_PAT = re.compile(
    r"(?is)^\s*CALL\s+((?:[A-Za-z_]\w*\s*\.\s*)*)([A-Za-z_]\w*)\s*"
    r"\((.*)\)\s*;?\s*$"
)

_CALL_PROCS = (
    "expire_snapshots", "remove_orphan_files", "rewrite_data_files",
    "rewrite_position_delete_files",
    "rollback_to_snapshot", "cherrypick_snapshot", "fast_forward",
    "create_branch", "drop_branch", "create_tag", "drop_tag", "maintain",
    "create_changelog_view", "add_files",
    "forget_documents", "rebuild_index", "rebuild_near_index",
)


def execute_call(cat, spark, query: str, branch: str):
    """Route one ``CALL [catalog.][system.]<proc>(...)`` statement.

    Supported procedures (Iceberg names where one exists; ``branch``
    defaults to the session branch of the ``Catalog.sql`` call):

    - ``expire_snapshots(table, keep_last)`` (alias ``retain_last``)
      -> :meth:`Catalog.expire_snapshots`; returns before/after counts
    - ``remove_orphan_files(table, dry_run, older_than_ms)``
      -> :meth:`Catalog.remove_orphan_files`; returns
      ``orphan_file_location`` rows (Iceberg's output column). The
      grace window defaults to hours, exactly like the API — pass
      ``older_than_ms => 0`` only with no concurrent writers
    - ``rewrite_data_files(table, target_file_mb, min_files,
      strategy)`` -> :meth:`Catalog.compact`; ``strategy`` is
      ``'full'`` (alias ``'sort'``, Iceberg's clustered full pass) or
      ``'binpack'`` (undersized/delete-carrying files only); returns
      rewritten/added file counts
    - ``rollback_to_snapshot(table, snapshot_id)``
      -> :meth:`Catalog.rollback`; returns previous/current ids
    - ``cherrypick_snapshot(table, snapshot_id, source)``
      -> :meth:`Catalog.cherrypick_snapshot` (append-only snapshots;
      ``source`` picks from another branch's copy of the table)
    - ``fast_forward(source, to)`` -> :meth:`Catalog.merge` (ours is
      catalog-level: the WHOLE branch fast-forwards, all tables
      atomically; ``to`` defaults to the session branch)
    - ``create_branch(name, source)`` / ``drop_branch(name)`` /
      ``create_tag(name, source)`` / ``drop_tag(name)``
    - ``maintain(table, target_file_mb, keep_last_snapshots,
      delete_orphans)`` -> :meth:`Catalog.maintain`; returns the
      report as key/value rows
    - ``forget_documents(docs_table, index_tables, ids, key_col,
      count_removed)`` / ``forget_documents(docs_table => ...,
      sig_table => ..., band_table => ..., ids => ...)`` -> the
      right-to-be-forgotten primitive (``pipelines.incremental_dedup.
      forget_documents`` / ``near_forget`` auto-dispatch); ``ids`` is
      a SELECT string evaluated over the branch's views
    - ``rebuild_index(docs_table, index_table, key_col, content_col,
      normalize)`` / ``rebuild_near_index(docs_table, sig_table,
      band_table, key_col, content_col)`` -> index disaster recovery
      (atomic staged replace from the live corpus)
    """
    m = _CALL_PAT.match(query)
    if not m:
        raise ValueError(
            "unsupported CALL shape; expected "
            "CALL [catalog.][system.]<procedure>(<literal args>)"
        )
    proc = m.group(2).lower()
    if proc not in _CALL_PROCS:
        raise ValueError(
            f"unknown procedure {proc!r}; supported: {', '.join(_CALL_PROCS)}"
        )
    pos, named = _parse_call_args(m.group(3))
    used = {"n": 0}

    def arg(name: str, *aliases: str, default: Any = _MISSING) -> Any:
        for key in (name, *aliases):
            if key in named:
                return named.pop(key)
        if used["n"] < len(pos):
            used["n"] += 1
            return pos[used["n"] - 1]
        if default is not _MISSING:
            return default
        raise ValueError(f"CALL {proc}: missing argument {name!r}")

    def done(rows, schema):
        if named:
            raise ValueError(
                f"CALL {proc}: unknown argument(s) {sorted(named)}"
            )
        if used["n"] < len(pos):
            raise ValueError(f"CALL {proc}: too many positional arguments")
        return spark.createDataFrame(rows, schema)

    if proc == "forget_documents":
        # the right-to-be-forgotten primitive's SQL face (every other
        # maintenance verb already had one — VERDICT r10 #4): docs +
        # every dedup-index table deleted in ONE atomic publish. The
        # key set comes from `ids`, a SELECT string evaluated over the
        # branch's registered views (Catalog.sql registers them before
        # routing here), so the request can be a table, a filter, or a
        # join. Exact pipeline: index_tables => 'fp_index' (comma-
        # separated for several). Near pipeline: sig_table + band_table
        # instead — routes through near_forget's regime auto-dispatch.
        from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
            forget_documents,
            near_forget,
        )

        docs_table = str(arg("docs_table", "table"))
        idx = arg("index_tables", "index_table", default=None)
        ids_sql = str(arg("ids", "ids_query"))
        sig = arg("sig_table", default=None)
        band = arg("band_table", default=None)
        key_col = str(arg("key_col", default="doc_id"))
        count_removed = bool(arg("count_removed", default=True))
        if (sig is None) != (band is None):
            raise ValueError(
                "CALL forget_documents: sig_table and band_table "
                "come together (the near pipeline's index pair)"
            )
        if sig is not None and idx is not None:
            raise ValueError(
                "CALL forget_documents: pass EITHER index_tables "
                "(exact pipeline) OR sig_table+band_table (near)"
            )
        if sig is None and idx is None:
            raise ValueError(
                "CALL forget_documents: missing argument "
                "'index_tables' (or sig_table+band_table)"
            )
        # args validated; only now evaluate the key-set SELECT over
        # the branch views Catalog.sql registered
        ids_df = spark.sql(ids_sql)
        if sig is not None:
            res = near_forget(
                spark, cat, ids_df, docs_table, str(sig), str(band),
                key_col=key_col, branch=branch,
                count_removed=count_removed,
            )
        else:
            tables = [t.strip() for t in str(idx).split(",") if t.strip()]
            res = forget_documents(
                spark, cat, ids_df, docs_table, tables,
                key_col=key_col, branch=branch,
                count_removed=count_removed,
            )
        return done(
            [
                (
                    res.published,
                    res.ids_requested,
                    res.docs_removed,
                    res.attempts,
                    res.strategy,
                )
            ],
            "published boolean, ids_requested long, docs_removed long, "
            "attempts long, strategy string",
        )

    if proc == "rebuild_index":
        # index disaster recovery, exact pipeline: reconstruct the
        # fingerprint index from the live corpus as one atomic staged
        # replace (SQL face of rebuild_fingerprint_index)
        from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
            rebuild_fingerprint_index,
        )

        docs_table = str(arg("docs_table", "table"))
        index_table = str(arg("index_table"))
        n = rebuild_fingerprint_index(
            spark, cat, docs_table, index_table,
            key_col=str(arg("key_col", default="doc_id")),
            content_col=str(arg("content_col", default="text")),
            normalize=bool(arg("normalize", default=True)),
            branch=branch,
        )
        return done(
            [(index_table, n)], "table string, index_rows long"
        )

    if proc == "rebuild_near_index":
        # near pipeline: recompute MinHash signature + band state from
        # the corpus, bit-identical kernel to ingest (SQL face of
        # near_rebuild_index)
        from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
            near_rebuild_index,
        )

        docs_table = str(arg("docs_table", "table"))
        sig_table = str(arg("sig_table"))
        band_table = str(arg("band_table"))
        n = near_rebuild_index(
            spark, cat, docs_table, sig_table, band_table,
            key_col=str(arg("key_col", default="doc_id")),
            content_col=str(arg("content_col", default="text")),
            branch=branch,
        )
        return done(
            [(sig_table, band_table, n)],
            "sig_table string, band_table string, signature_rows long",
        )

    if proc == "add_files":
        # Iceberg's zero-copy onboarding procedure: register existing
        # parquet under the table without rewriting (footer reads +
        # one metadata commit). source_table accepts Iceberg's
        # `parquet`.`/path` spelling or a plain directory path.
        table = str(arg("table"))
        src = str(arg("source_table", "source_dir"))
        m_src = re.match(r"(?is)^\s*`?parquet`?\s*\.\s*`([^`]+)`\s*$", src)
        if m_src:
            src = m_src.group(1)
        kwargs = {}
        pat = arg("pattern", default=None)
        if pat is not None:
            kwargs["pattern"] = str(pat)
        chk = arg("check_duplicate_files", default=None)
        if chk is not None:
            kwargs["check_duplicate_files"] = bool(chk)
        stats = cat.add_files(spark, table, src, branch, **kwargs)
        return done(
            [
                (
                    stats["files_added"],
                    stats["files_skipped"],
                    stats["rows_added"],
                    stats["snapshot_id"],
                )
            ],
            "added_files_count long, skipped_files_count long, "
            "added_rows_count long, snapshot_id long",
        )

    if proc == "create_changelog_view":
        # Iceberg's spelling for a queryable CDC view
        # (spark.sql("CALL system.create_changelog_view(table => 't',
        # ...)") then SELECT from the view). Columns follow Iceberg's
        # changelog contract: the user schema plus _change_type
        # (INSERT | DELETE — updates replay as a DELETE+INSERT pair,
        # Iceberg's own representation without compute_updates),
        # _change_ordinal (commit order inside the span) and
        # _commit_snapshot_id. start_snapshot_id is EXCLUSIVE (the
        # anchor you already hold); omitted = the full history.
        from pyspark.sql import functions as F

        table = str(arg("table"))
        start = arg("start_snapshot_id", default=None)
        end = arg("end_snapshot_id", default=None)
        view = str(arg("changelog_view", default=f"{table}_changes"))
        df = cat.read_changes(
            spark,
            table,
            int(start) if start is not None else None,
            int(end) if end is not None else None,
            branch=branch,
        )
        meta = cat.load_table(table, branch)
        order = sorted(s.snapshot_id for s in meta.snapshots)
        ord_pairs = [
            x
            for i, sid in enumerate(order)
            for x in (F.lit(sid), F.lit(i))
        ]
        df = (
            df.withColumn("_change_type", F.upper(F.col("_change_type")))
            .withColumn(
                "_change_ordinal",
                F.element_at(
                    F.create_map(*ord_pairs), F.col("_snapshot_id")
                ),
            )
            .withColumnRenamed("_snapshot_id", "_commit_snapshot_id")
        )
        df.createOrReplaceTempView(view)
        return done([(view,)], "changelog_view string")

    if proc == "expire_snapshots":
        table = str(arg("table"))
        keep = int(arg("keep_last", "retain_last", default=1))
        before = len(cat.load_table(table, branch).snapshots)
        meta = cat.expire_snapshots(table, branch, keep_last=keep)
        return done(
            [(table, before, len(meta.snapshots))],
            "table string, snapshots_before long, snapshots_after long",
        )
    if proc == "remove_orphan_files":
        table = str(arg("table"))
        dry = bool(arg("dry_run", default=True))
        kwargs = {}
        older = arg("older_than_ms", default=None)
        if older is not None:
            kwargs["older_than_ms"] = int(older)
        orphans = cat.remove_orphan_files(table, dry_run=dry, **kwargs)
        return done(
            [(p,) for p in orphans], "orphan_file_location string"
        )
    if proc == "rewrite_position_delete_files":
        # Iceberg's spelling for folding pending deletes without
        # touching clean files; maps to fold_deletes (per-file
        # rewrites of ONLY spec-carrying files, layout preserved)
        table = str(arg("table"))
        before = sum(
            1
            for _f, c in cat.load_table(table, branch).files_with_deletes()
            if c
        )
        meta = cat.fold_deletes(spark, table, branch)
        after = sum(
            1 for _f, c in meta.files_with_deletes() if c
        )
        return done(
            [(table, before, after)],
            "table string, carrying_files_before long, "
            "carrying_files_after long",
        )
    if proc == "rewrite_data_files":
        table = str(arg("table"))
        target = int(arg("target_file_mb", default=128))
        min_files = int(arg("min_files", default=1))
        strategy = str(arg("strategy", default="full"))
        sort_order = arg("sort_order", default=None)
        # Iceberg's canonical z-order spelling is strategy => 'sort',
        # sort_order => 'zorder(a, b)' — the sort_order argument wins
        # the dispatch, so that form z-orders rather than committing a
        # plain full pass and then choking on the unconsumed argument
        if sort_order is not None and re.match(
            r"(?is)^\s*zorder\s*\(", str(sort_order)
        ):
            strategy = "zorder"
        if strategy == "sort":  # without zorder: the full clustered pass
            strategy = "full"
        before = len(cat.load_table(table, branch).files())
        if strategy == "zorder":
            if sort_order is None:
                raise ValueError(
                    "strategy 'zorder' needs sort_order => 'zorder(a, b)'"
                )
            so = str(sort_order)
            mz = re.match(
                r"(?is)^\s*(?:zorder\s*\(\s*)?([\w`\s]+(?:\s*,\s*[\w`\s]+)*?)"
                r"\s*\)?\s*$",
                so,
            )
            if not mz:
                raise ValueError(
                    f"cannot parse sort_order {so!r}; use 'zorder(a, b)'"
                )
            cols = [_unquote(c.strip()) for c in mz.group(1).split(",")]
            meta = cat.zorder(
                spark,
                table,
                cols,
                branch,
                target_file_mb=target,
                min_files=min_files,
            )
            return done(
                [(table, before, len(meta.files()))],
                "table string, rewritten_data_files_count long, "
                "added_data_files_count long",
            )
        meta = cat.compact(
            spark,
            table,
            branch,
            target_file_mb=target,
            min_files=min_files,
            mode=strategy,
        )
        return done(
            [(table, before, len(meta.files()))],
            "table string, rewritten_data_files_count long, "
            "added_data_files_count long",
        )
    if proc == "rollback_to_snapshot":
        table = str(arg("table"))
        sid = int(arg("snapshot_id"))
        prev = cat.load_table(table, branch).current_snapshot_id
        cat.rollback(table, sid, branch)
        return done(
            [(table, prev, sid)],
            "table string, previous_snapshot_id long, "
            "current_snapshot_id long",
        )
    if proc == "cherrypick_snapshot":
        table = str(arg("table"))
        sid = int(arg("snapshot_id"))
        src = arg("source", "from_branch", default=None)
        meta = cat.cherrypick_snapshot(
            table, sid, branch, from_branch=str(src) if src else None
        )
        return done(
            [(table, sid, meta.current_snapshot_id)],
            "table string, source_snapshot_id long, "
            "current_snapshot_id long",
        )
    if proc == "fast_forward":
        src = str(arg("source", "branch", "from_branch"))
        to = str(arg("to", default=branch))
        cat.merge(src, to)
        return done(
            [(src, to, cat._read_refs()[to])],
            "source string, target string, head string",
        )
    if proc == "create_branch":
        name = str(arg("name"))
        src = str(arg("source", "from_branch", default=branch))
        cat.create_branch(name, src)
        return done([("CREATE BRANCH", name)], "operation string, ref string")
    if proc == "drop_branch":
        name = str(arg("name"))
        cat.drop_branch(name)
        return done([("DROP BRANCH", name)], "operation string, ref string")
    if proc == "create_tag":
        name = str(arg("name"))
        src = str(arg("source", "from_branch", default=branch))
        cat.create_tag(name, src)
        return done([("CREATE TAG", name)], "operation string, ref string")
    if proc == "drop_tag":
        name = str(arg("name"))
        cat.drop_tag(name)
        return done([("DROP TAG", name)], "operation string, ref string")
    if proc == "maintain":
        table = str(arg("table"))
        kwargs: dict[str, Any] = {}
        target = arg("target_file_mb", default=None)
        if target is not None:
            kwargs["target_file_mb"] = int(target)
        keep = arg("keep_last_snapshots", default=None)
        if keep is not None:
            kwargs["keep_last_snapshots"] = int(keep)
        orphans = arg("delete_orphans", default=None)
        if orphans is not None:
            kwargs["delete_orphans"] = bool(orphans)
        report = cat.maintain(spark, table, branch, **kwargs)
        return done(
            [(k, str(report[k])) for k in sorted(report)],
            "key string, value string",
        )
    raise AssertionError("unreachable")


# ----------------------------------------------------------------------
# Delta-spelling maintenance verbs — the statements a Delta Lake user
# types for the SAME primitives the Iceberg CALL procedures reach.
# Reference note: the reference has no maintenance surface at all; a
# user of either ecosystem keeps their muscle memory here.
# ----------------------------------------------------------------------
def execute_delta_verb(cat, spark, query: str, branch: str):
    """Route OPTIMIZE / VACUUM / RESTORE TABLE / DESCRIBE DETAIL.

    - ``OPTIMIZE t`` -> binpack compact (Delta's OPTIMIZE is binpack);
      ``OPTIMIZE t ZORDER BY (a, b)`` -> :meth:`Catalog.zorder`.
    - ``VACUUM t [RETAIN n HOURS] [DRY RUN]`` ->
      :meth:`Catalog.remove_orphan_files` (default retention 168 h,
      Delta's default; the engine's in-flight-writer grace argument
      applies identically).
    - ``RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'``
      -> :meth:`Catalog.rollback` (undoable — newer snapshots stay in
      the log until expiry, same as Delta RESTORE's history behavior).
    - ``DESCRIBE DETAIL t`` -> one summary row from table metadata
      (format/location/file and byte counts/layout/snapshot info),
      metadata-only.
    """
    q = query.strip().rstrip(";")
    m = re.match(
        rf"(?is)^ANALYZE\s+TABLE\s+({_IDENT})\s+COMPUTE\s+STATISTICS"
        rf"(?:\s+FOR\s+(ALL\s+COLUMNS|COLUMNS\s+(.+?)))?\s*$",
        q,
    )
    if m:
        # ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS |
        # FOR COLUMNS a, b] -> Catalog.analyze_table (manifest-free
        # table stats; one column-pruned pass for NDV/null counts)
        table = _unquote(m.group(1))
        columns: Any = None
        if m.group(2):
            if m.group(2).upper().startswith("ALL"):
                columns = "*"
            else:
                columns = [
                    _unquote(c.strip())
                    for c in _split_commas(m.group(3))
                ]
        stats = cat.analyze_table(spark, table, columns, branch)
        return spark.createDataFrame(
            [
                (
                    table,
                    stats["num_rows"],
                    stats["total_size"],
                    ",".join(stats["analyzed_columns"]),
                )
            ],
            "table string, num_rows long, total_size long, "
            "analyzed_columns string",
        )
    m = re.match(
        rf"(?is)^OPTIMIZE\s+({_IDENT})"
        rf"(?:\s+WHERE\s+(.+?))?"
        rf"(?:\s+ZORDER\s+BY\s*\((.*?)\))?\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        before = len(cat.load_table(table, branch).files())
        if m.group(2) and m.group(3):
            raise ValueError(
                "OPTIMIZE ... WHERE does not combine with ZORDER BY "
                "(zorder re-clusters the WHOLE table's layout)"
            )
        if m.group(3):
            cols = [_unquote(c.strip()) for c in _split_commas(m.group(3))]
            meta = cat.zorder(spark, table, cols, branch)
        elif m.group(2):
            # Delta's selective compaction: binpack only the files
            # may-matching the predicate (partition values + stats)
            groups, _exact = _pruning_groups(
                m.group(2).strip(), {table.lower()}
            )
            if not groups or any(not g for g in groups):
                # an empty AND-group is universal — the scope would
                # silently be the whole table
                raise ValueError(
                    f"OPTIMIZE WHERE predicate {m.group(2).strip()!r} "
                    "is not prunable (use partition/stats columns with "
                    "literal comparisons)"
                )
            meta = cat.compact(
                spark, table, branch, mode="binpack", scope_groups=groups
            )
        else:
            meta = cat.compact(spark, table, branch, mode="binpack")
        after = len(meta.files())
        return spark.createDataFrame(
            [(table, before, after)],
            "table string, files_before long, files_after long",
        )
    m = re.match(
        rf"(?is)^VACUUM\s+({_IDENT})"
        rf"(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*$",
        q,
    )
    if m:
        table = _unquote(m.group(1))
        hours = int(m.group(2)) if m.group(2) else 168  # Delta default
        dry = m.group(3) is not None
        paths = cat.remove_orphan_files(
            table, dry_run=dry, older_than_ms=hours * 3_600_000
        )
        return spark.createDataFrame([(p,) for p in paths], "path string")
    m = re.match(
        rf"(?is)^RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+TO\s+"
        rf"(?:VERSION\s+AS\s+OF\s+(\d+)"
        rf"|TIMESTAMP\s+AS\s+OF\s+({_STR}))\s*$",
        q,
    )
    if m:
        import datetime as _dt

        table = _unquote(m.group(1))
        if m.group(2):
            sid = int(m.group(2))
        else:
            ts = _dt.datetime.fromisoformat(
                m.group(3)[1:-1].replace("''", "'")
            )
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            sid = cat.snapshot_as_of(
                table, int(ts.timestamp() * 1000), branch
            )
            if sid is None:
                raise ValueError(
                    f"no snapshot of {table!r} at or before {m.group(3)}"
                )
        meta = cat.rollback(table, sid, branch)
        return spark.createDataFrame(
            [("RESTORE", table, meta.current_snapshot_id)],
            "operation string, table string, snapshot_id long",
        )
    m = re.match(rf"(?is)^(?:DESCRIBE|DESC)\s+DETAIL\s+({_IDENT})\s*$", q)
    if m:
        table = _unquote(m.group(1))
        meta = cat.load_table(table, branch)
        files = meta.files()
        return spark.createDataFrame(
            [
                (
                    "wap",
                    f"{cat.warehouse}/tables/{table}",
                    table,
                    len(files),
                    sum(f.bytes for f in files),
                    ",".join(meta.partition_by or []),
                    ",".join(meta.sort_by or []),
                    len(meta.snapshots),
                    meta.current_snapshot_id
                    if meta.current_snapshot_id is not None
                    else -1,
                )
            ],
            "format string, location string, name string, "
            "num_files long, size_in_bytes long, "
            "partition_columns string, sort_columns string, "
            "num_snapshots long, current_snapshot_id long",
        )
    raise ValueError(f"unsupported maintenance statement {q[:60]!r}")


# ----------------------------------------------------------------------
# COPY INTO — Databricks' idempotent bulk-load verb, mapped onto
# Catalog.copy_into (rows + exactly-once file ledger in ONE commit).
# ----------------------------------------------------------------------

_COPY_RE = re.compile(
    rf"(?is)^\s*COPY\s+INTO\s+({_IDENT})\s+FROM\s+({_STR})\s+"
    rf"FILEFORMAT\s*=\s*([A-Za-z]+)\s*(.*?);?\s*$"
)


def _parse_opt_block(rest: str, word: str) -> tuple[dict[str, str], str]:
    """Parse ``WORD('k' = 'v', ...)`` out of ``rest`` (quote-aware);
    returns (options, rest-without-the-block)."""
    m = re.search(rf"(?is)\b{word}\s*\(", rest)
    if not m or not _outside_quotes(rest, m.start()):
        return {}, rest
    inner, after = _match_paren_span(rest, m.end() - 1)
    opts: dict[str, str] = {}
    for part in _split_commas(inner):
        kv = re.match(rf"(?s)^\s*({_STR})\s*=\s*({_STR})\s*$", part)
        if not kv:
            raise ValueError(f"bad {word} entry {part!r}; expected 'k' = 'v'")
        opts[kv.group(1)[1:-1].replace("''", "'")] = (
            kv.group(2)[1:-1].replace("''", "'")
        )
    return opts, rest[: m.start()] + after


def execute_copy_into(cat, spark, query: str, branch: str):
    """``COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
    [PATTERN = '<glob>'] [FORMAT_OPTIONS('k' = 'v', ...)]
    [COPY_OPTIONS('force' = 'true')]`` — see :meth:`Catalog.copy_into`
    for semantics. Returns the Databricks-shaped result row plus this
    engine's ledger counters."""
    m = _COPY_RE.match(query)
    if not m:
        raise ValueError(
            "unsupported COPY shape; expected COPY INTO <table> FROM "
            "'<dir>' FILEFORMAT = PARQUET|CSV|JSON [PATTERN = '<glob>'] "
            "[FORMAT_OPTIONS(...)] [COPY_OPTIONS(...)]"
        )
    table = _unquote(m.group(1))
    source = m.group(2)[1:-1].replace("''", "'")
    fmt = m.group(3).lower()
    rest = m.group(4) or ""
    fmt_opts, rest = _parse_opt_block(rest, "FORMAT_OPTIONS")
    copy_opts, rest = _parse_opt_block(rest, "COPY_OPTIONS")
    pm = re.search(rf"(?is)\bPATTERN\s*=\s*({_STR})", rest)
    pattern = (
        pm.group(1)[1:-1].replace("''", "'")
        if pm and _outside_quotes(rest, pm.start())
        else None
    )
    force = copy_opts.get("force", "false").lower() == "true"
    stats = cat.copy_into(
        spark,
        table,
        source,
        file_format=fmt,
        pattern=pattern,
        format_options=fmt_opts or None,
        force=force,
        branch=branch,
    )
    return spark.createDataFrame(
        [
            (
                stats["rows_loaded"],
                stats["rows_loaded"],
                stats["files_loaded"],
                stats["files_skipped"],
                stats["snapshot_id"],
            )
        ],
        "num_affected_rows long, num_inserted_rows long, "
        "files_loaded long, files_skipped long, snapshot_id long",
    )


# ----------------------------------------------------------------------
# table_changes(...) — Delta's CDF table-valued function, mapped onto
# Catalog.read_changes and usable anywhere a table reference is
# (FROM, JOIN, subqueries inside DML).
# ----------------------------------------------------------------------

_TC_RE = re.compile(r"(?i)\btable_changes\s*\(")


def rewrite_table_changes(cat, spark, query: str, branch: str) -> str:
    """Rewrite every ``table_changes('<table>', <from_sid>[,
    <to_sid>])`` reference into a temp view over
    :meth:`Catalog.read_changes`. Column surface is Delta's CDF
    contract: the user schema plus ``_change_type``,
    ``_commit_version`` (= this engine's snapshot id; also kept under
    its native ``_snapshot_id`` name) and ``_commit_timestamp``.
    Documented divergence from Delta: the anchor ``<from_sid>`` is
    EXCLUSIVE (Iceberg incremental-read style — "changes since the
    snapshot I already hold", exactly what a chained consumer stores),
    not Delta's inclusive start version; snapshot ids come from
    ``t$history``."""
    from pyspark.sql import functions as F

    out = query
    while True:
        m = next(
            (
                mm
                for mm in _TC_RE.finditer(out)
                if _outside_quotes(out, mm.start())
            ),
            None,
        )
        if m is None:
            return out
        inner, rest = _match_paren_span(out, m.end() - 1)
        args = [_parse_call_lit(p) for p in _split_commas(inner)]
        if not 2 <= len(args) <= 3 or not isinstance(args[0], str):
            raise ValueError(
                "table_changes expects ('<table>', <from_snapshot_id>"
                "[, <to_snapshot_id>])"
            )
        table = args[0]
        start = int(args[1])
        end = int(args[2]) if len(args) == 3 else None
        df = cat.read_changes(spark, table, start, end, branch=branch)
        meta = cat.load_table(table, branch)
        ts_pairs = [
            x
            for s in meta.snapshots
            for x in (F.lit(s.snapshot_id), F.lit(s.timestamp_ms))
        ]
        df = df.withColumn(
            "_commit_version", F.col("_snapshot_id")
        ).withColumn(
            "_commit_timestamp",
            (F.element_at(F.create_map(*ts_pairs), F.col("_snapshot_id")) / 1000)
            .cast("timestamp"),
        )
        view = f"__table_changes_{table}_{start}_{end if end is not None else 'head'}"
        view = re.sub(r"[^A-Za-z0-9_]", "_", view)
        df.createOrReplaceTempView(view)
        out = out[: m.start()] + view + " " + rest
