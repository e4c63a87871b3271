"""TensorBase-dialect engine: the §2.1 command surface over Spark SQL.

The reference's architecture is "thin dialect + storage shim over a general
vectorized SQL engine" (SURVEY.md §0): a pest grammar classifies every
command (crates/runtime/src/mgmt.rs:984-1057), meta commands are handled
against a sled store, and SELECTs are re-parsed and executed by a vendored
DataFusion.  This module is the same shape on Spark: a regex dispatcher
classifies commands, meta/DDL commands run against the Spark catalog, and
queries are dialect-translated and handed to spark.sql — Catalyst plays the
role DataFusion plays in the reference.  The storage shim — the files under
each table's location: appends, rewrites, listings — is storage.py.

Command surface (reference citation -> here):
- CREATE DATABASE [IF NOT EXISTS]       mgmt.rs:473
- CREATE TABLE (+PARTITION BY expr)     mgmt.rs:649, parse.rs:480
- SHOW DATABASES / SHOW TABLES          mgmt.rs:484,494
- SHOW CREATE TABLE                     mgmt.rs:504
- DESC[RIBE] TABLE                      mgmt.rs:532
- DROP DATABASE / DROP TABLE            mgmt.rs:802,814
- TRUNCATE TABLE                        mgmt.rs:856
- OPTIMIZE TABLE                        mgmt.rs:923-941 (parquet compaction
                                        here; the reference only flushes)
- USE db                                mgmt.rs:907
- EXPLAIN query                         bql.pest:10
- INSERT INTO ... VALUES                mgmt.rs:1271 (literal block build)
- INSERT INTO ... SELECT                mgmt.rs:772-800
- INSERT INTO ... FORMAT CSV 'path'     ch/messages.rs:386-405 (client-side
                                        CSV parse in the reference; here a
                                        spark.read.csv ingest)
- SELECT ...                            engine/datafusions.rs:58-188

Partition keys: the reference stores a partition expression string and JIT
compiles it with cranelift at insert time (mgmt.rs:408-469).  Here the
expression becomes a generated ``__ptk`` column computed with built-in
expressions at insert (functions/clickhouse.py) and a Hive-style partition
directory — so partition pruning is native directory pruning, and the
WHERE-rewrite in _derive_ptk_predicate ports the parse_where semantics
(crates/lang/src/parse.rs:539-862) for predicates on the *source* column.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import os as _os
import re
import threading
import time as _time
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tensorbase_spark.functions.clickhouse import (
    CH_FUNCTIONS,
    CH_PARAMETRIC_TEMPLATES,
    CH_SQL_TEMPLATES,
)
from tensorbase_spark.storage import (
    _MONOTONIC_PTK_FNS,
    PTK_COL,
    PartitionSpec,
    TableStore,
    WaitLock,
    jprops,
    live_files,
    parse_partition_expr,
)
from tensorbase_spark.types import parse_bql_type


def _order_col(key: str):
    """'expr [asc|desc]' fragment -> ordered Column.  The expression goes
    through the CH-dialect translator first so DDL sort keys like
    ``cityHash64(id)`` resolve to their Spark equivalents (translate_sql
    is defined below in this module; resolution happens at call time)."""
    m = re.match(r"(?is)^(.*?)\s+(asc|desc)\s*$", key.strip())
    if m:
        c = F.expr(translate_sql(m.group(1)))
        return c.desc() if m.group(2).lower() == "desc" else c.asc()
    return F.expr(translate_sql(key.strip()))


_STAR_REPLACE_RE = re.compile(
    r"(?is)\*(?P<exc>\s+except\s*\((?P<exccols>[^()]*)\))?\s+replace\s*\("
)


def _rewrite_order_by_all(sql: str) -> str:
    """``ORDER BY ALL`` (upstream CH 23.4+/DuckDB): order by every
    select-list item, as ordinals.  Conservative: only the top-level
    statement of a plain ``SELECT ... FROM ... ORDER BY ALL`` shape is
    rewritten (subquery select-lists are ambiguous textually); unmatched
    forms pass through and fail loudly in Catalyst."""
    m = re.search(
        r"(?is)\border\s+by\s+all\b"
        r"(?P<tail>\s*(?:limit\b[^()]*|offset\b[^()]*)?)\s*$",
        sql,
    )
    sm = re.match(r"(?is)^\s*select\s+(?:distinct\s+)?(?P<body>.*)$", sql)
    if not (m and sm):
        return sql
    # depth-0 FROM bounds the select list
    body = sm.group("body")
    fm = _scan_depth0(body, 0, re.compile(r"(?is)\bfrom\b").match)
    if fm is None:
        return sql
    items = _split_depth0(body[: fm.start()])
    # A `*` / `t.*` select item expands to an unknown column count at this
    # (textual) layer — ordinal rewrite would silently sort by col 1 only.
    # Pass through unchanged so Catalyst rejects `ORDER BY ALL` loudly
    # instead of producing a wrong row order (ADVICE r6 #1).
    if any(
        re.match(r"(?is)^\s*(?:\w+\.)?\*\s*(?:except\b|replace\b|$)", it)
        for it in items
    ):
        return sql
    n = len(items)
    ordinals = ", ".join(str(i) for i in range(1, n + 1))
    return sql[: m.start()] + f" order by {ordinals}" + (m.group("tail") or "")


_DIST_AGG_RE = re.compile(r"(?is)\b(topkweighted|topk|histogram|entropy)\s*\(")
# aggregate-looking call names that defeat the two-level lowering (the
# level-1 pre-aggregation can't re-express them) — conservative: a false
# positive only keeps the buffered single-pass form
def _subquery_spans(text: str) -> list[tuple[int, int]]:
    """Spans of parenthesized groups that open a nested SELECT (literals
    must already be masked, so parens inside strings cannot mislead)."""
    spans: list[tuple[int, int]] = []
    for m in re.finditer(r"(?is)\(\s*select\b", text):
        start = m.start()
        if any(s <= start < e for s, e in spans):
            continue  # already inside an outer subquery group
        depth, j, n = 1, m.end(), len(text)
        while j < n and depth:
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
            j += 1
        spans.append((start, j))
    return spans


def _sub_outside_subqueries(pat: re.Pattern, repl: str, text: str) -> str:
    """re.sub, but matches inside nested (select ...) groups are left
    untouched — they belong to the inner query's scope."""
    spans = _subquery_spans(text)
    if not spans:
        return pat.sub(repl, text)
    return pat.sub(
        lambda m: m.group(0)
        if any(s <= m.start() < e for s, e in spans)
        else repl,
        text,
    )


_OTHER_AGG_RE = re.compile(
    r"(?is)\b(count|sum|avg|min|max|median\w*|quantile\w*|uniq\w*|any\w*|"
    r"arg(?:max|min)|stddev\w*|var\w*|corr|covar\w*|collect_\w+|"
    r"group\w+|first(?:_value)?|last(?:_value)?|array_agg|string_agg|"
    r"approx\w*|\w+state|\w+merge|\w+if)\s*\("
)
_DIST_TAIL_RE = re.compile(r"(?is)\b(order|limit|having|window|qualify)\b")


def _rewrite_dist_aggs(sql: str) -> str:
    """Two-level lowering for value-DISTRIBUTION aggregates — topK(k)(x),
    topKWeighted(k)(x, w), histogram(M)(x), entropy(x).

    Their naive form buffers every raw row per group (collect_list), which
    is the one aggregate shape whole-stage partial aggregation can't help:
    a pathological single group at 100 TB is a task OOM.  The lowering
    rewrites the statement to aggregate TWICE:

        level 1  GROUP BY keys, x  ->  count(*) [, sum(w)]   (map-side
                 combinable: the big shuffle carries (key, value) partial
                 counts, never raw rows)
        level 2  GROUP BY keys with the buffer over DISTINCT (value, count)
                 pairs — memory ∝ distinct values per group, not rows.

    The dist-agg calls are swapped for internal pair-form templates
    (__topkpairs/__histpairs/__entropypairs, functions/clickhouse.py) that
    translate_sql expands as usual.  Applies only to the simple aggregate
    shape (one unaliased source, WHERE, plain-identifier GROUP BY keys, no
    other aggregates); every unmatched shape keeps the documented buffered
    form, so this is a strict plan improvement, never a semantics change
    (VERDICT r6 #4)."""
    if not _DIST_AGG_RE.search(sql):
        return sql
    sm = re.match(r"(?is)^\s*select\s+(?P<body>.*)$", sql.strip(), re.S)
    if not sm or re.match(r"(?is)^\s*distinct\b", sm.group("body")):
        return sql
    body = sm.group("body")
    fm = _scan_depth0(body, 0, re.compile(r"(?is)\bfrom\b").match)
    if fm is None:
        return sql
    items_txt, rest = body[: fm.start()], body[fm.end() :]
    rm = re.match(r"(?is)^\s*(?P<src>[\w.]+)\s*(?P<tail>.*)$", rest, re.S)
    if not rm:
        return sql
    src, tail = rm.group("src"), rm.group("tail")
    gm = _scan_depth0(tail, 0, re.compile(r"(?is)\bgroup\s+by\b").match)
    if gm is not None:
        pre, post = tail[: gm.start()], tail[gm.end() :]
        om = _scan_depth0(post, 0, _DIST_TAIL_RE.match)
        if om is not None and om.group(1).lower() in ("window", "qualify"):
            return sql
        keys_txt = post[: om.start()] if om else post
        outer_tail = post[om.start() :] if om else ""
        keys = [k.strip() for k in _split_depth0(keys_txt) if k.strip()]
        if not keys or any(not re.fullmatch(r"\w+", k) or k.isdigit() for k in keys):
            return sql
    else:
        om = _scan_depth0(tail, 0, _DIST_TAIL_RE.match)
        if om is not None and om.group(1).lower() in ("window", "qualify"):
            return sql
        pre = tail[: om.start()] if om else tail
        outer_tail = tail[om.start() :] if om else ""
        keys = []
    s = pre.strip()
    if s and not re.match(r"(?is)^where\b", s):
        return sql  # JOIN / alias / SAMPLE between FROM and GROUP BY: bail
    where_txt = re.sub(r"(?is)^where\b", "", s).strip() or None

    # mask string literals so a quoted 'histogram(' can't confuse the scan
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x01{len(lits) - 1}\x01"

    def _unmask(t: str) -> str:
        return re.sub(r"\x01(\d+)\x01", lambda m: lits[int(m.group(1))], t)

    # The HAVING / ORDER BY tail is processed with the SAME machinery as the
    # select list (ADVICE r7 #1: a count(*) in ORDER BY must become
    # sum(__dc) too, and any other aggregate there defeats the lowering the
    # same way it does in the select list).  \x02 joins the two regions so
    # one scan covers both; parens never balance across it in valid SQL, so
    # a call spanning the boundary falls into the _paren_group bail.
    masked = (
        re.sub(r"'(?:[^']|'')*'", _mask, items_txt)
        + "\x02"
        + re.sub(r"'(?:[^']|'')*'", _mask, outer_tail)
    )

    def _paren_group(t: str, open_idx: int):
        depth, j, n = 1, open_idx + 1, len(t)
        while j < n and depth:
            if t[j] == "(":
                depth += 1
            elif t[j] == ")":
                depth -= 1
            j += 1
        return (t[open_idx + 1 : j - 1], j) if depth == 0 else (None, n)

    spans: list[tuple[int, int, str]] = []
    xs: set[str] = set()
    wsrc: set[str] = set()
    x_raw = w_raw = None
    needs_w = False
    consumed = 0

    def _norm(t: str) -> str:
        return re.sub(r"\s+", " ", t.strip().lower())

    for m in _DIST_AGG_RE.finditer(masked):
        if m.start() < consumed:
            return sql  # nested dist-agg calls: keep the buffered form
        name = m.group(1).lower()
        g1, after1 = _paren_group(masked, m.end() - 1)
        if g1 is None:
            return sql
        if name == "entropy":
            args = _split_top_level_args(g1)
            if len(args) != 1:
                return sql
            x = _unmask(args[0])
            repl = "__entropypairs(__dv, __dc)"
        else:
            k = after1
            while k < len(masked) and masked[k] in " \t\r\n":
                k += 1
            if k >= len(masked) or masked[k] != "(":
                return sql  # parametric call without the args group
            g2, after1 = _paren_group(masked, k)
            if g2 is None:
                return sql
            args = _split_top_level_args(g2)
            param = g1.strip()
            if not re.fullmatch(r"\d+", param):
                return sql
            if name == "topkweighted":
                if len(args) != 2:
                    return sql
                x, w = _unmask(args[0]), _unmask(args[1])
                if w_raw is None:
                    w_raw = w
                wsrc.add(_norm(w))
                needs_w = True
                repl = f"__topkpairs({param})(__dv, __dw)"
            elif name == "topk":
                if len(args) != 1:
                    return sql
                x = _unmask(args[0])
                repl = f"__topkpairs({param})(__dv, __dc)"
            else:  # histogram
                if len(args) != 1:
                    return sql
                x = _unmask(args[0])
                repl = f"__histpairs({param})(__dv, __dc)"
        if x_raw is None:
            x_raw = x
        xs.add(_norm(x))
        spans.append((m.start(), after1, repl))
        consumed = after1
    if not spans or len(xs) != 1 or (needs_w and len(wsrc) != 1):
        return sql
    if re.search(r"(?is)\bover\b", masked):
        return sql  # window over the lowered rows would change meaning
    residue = masked
    for st, en, _ in reversed(spans):
        residue = residue[:st] + " " + residue[en:]
    # count(*) is the one companion aggregate the level-1 rows re-express
    # exactly: the pair counts sum back to the raw row count.  A count(*)
    # inside a NESTED subquery belongs to that scope, not this
    # aggregation level — substituting it would reference __tb_dist
    # columns out of scope (ADVICE r8 #2); leaving it untouched in the
    # residue makes _OTHER_AGG_RE bail conservatively instead
    count_star = re.compile(r"(?is)\bcount\s*\(\s*\*\s*\)")
    residue = _sub_outside_subqueries(count_star, " ", residue)
    if _OTHER_AGG_RE.search(residue):
        return sql
    rewritten = masked
    for st, en, repl in reversed(spans):
        rewritten = rewritten[:st] + repl + rewritten[en:]
    # coalesce: on an EMPTY ungrouped source count(*) is 0 while sum(__dc)
    # is NULL (ADVICE r7 #5); with GROUP BY every group has >=1 pair so the
    # coalesce is inert
    rewritten = _sub_outside_subqueries(
        count_star, "coalesce(cast(sum(__dc) as bigint), 0)", rewritten
    )
    # split at the region marker BEFORE unmasking: literals are still
    # \x01N\x01 tokens here, so a literal that itself contains \x02 cannot
    # move the split point (it reappears only after _unmask below)
    new_items, _, new_tail = rewritten.partition("\x02")
    new_items, new_tail = _unmask(new_items), _unmask(new_tail)

    l1 = keys + [f"{x_raw} as __dv", "count(*) as __dc"]
    if needs_w:
        l1.append(f"sum(cast({w_raw} as double)) as __dw")
    inner = f"select {', '.join(l1)} from {src}"
    if where_txt:
        inner += f" where {where_txt}"
    inner += " group by " + ", ".join([*keys, x_raw])
    out = f"select {new_items.strip()} from ({inner}) __tb_dist"
    if keys:
        out += " group by " + ", ".join(keys)
    if new_tail.strip():
        out += " " + new_tail.strip()
    return out


def _rewrite_star_replace(sql: str) -> str:
    """``* [EXCEPT (...)] REPLACE(expr AS col, ...)`` -> ``* EXCEPT
    (cols...), expr AS col, ...`` (see _preprocess_ch_clauses)."""
    while True:
        m = _STAR_REPLACE_RE.search(sql)
        if m is None:
            return sql
        depth, j, n = 1, m.end(), len(sql)
        while j < n and depth:
            if sql[j] in "'\"":
                q = sql[j]
                j += 1
                while j < n and sql[j] != q:
                    j += 1
            elif sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        repls = []
        for part in _split_top_level_args(sql[m.end() : j - 1]):
            rm = re.match(r"(?is)^(?P<e>.+)\s+as\s+(?P<c>\w+)\s*$", part.strip())
            if not rm:
                raise ValueError(f"cannot parse REPLACE item: {part!r}")
            repls.append((rm.group("e"), rm.group("c")))
        exc = [
            c.strip()
            for c in (m.group("exccols") or "").split(",")
            if c.strip()
        ]
        cols = exc + [c for _, c in repls]
        new = (
            f"* except ({', '.join(cols)}), "
            + ", ".join(f"{e} as {c}" for e, c in repls)
        )
        sql = sql[: m.start()] + new + sql[j:]


def _strip_outer_parens(text: str) -> str:
    """Strip ONE balanced outer paren pair (``(a, f(b))`` -> ``a, f(b)``).
    A bare ``.strip("()")`` would also eat the trailing paren of a
    function-call key — ``cityHash64(id)`` must survive intact."""
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        depth = 0
        for i, ch in enumerate(t):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(t) - 1:
                    return t  # outer parens don't wrap the whole string
        t = t[1:-1].strip()
    return t


def _split_depth0(text: str, sep: str = ",") -> list[str]:
    out, depth, cur, i, n = [], 0, [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            j = i + 1
            while j < n and text[j] != ch:
                j += 1
            cur.append(text[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


_BRACKET_KEYWORDS = frozenset(
    """select from where when then else and or not in as by on between
    having group order limit offset union all distinct values case end
    join array_join interpolate with fill step to using settings
    intersect except return returns lateral""".split()
)


def _rewrite_bracket_arrays(sql: str) -> str:
    """ClickHouse bracket syntax, both meanings, on literal-masked text:

    - ``[e1, e2, ...]`` ARRAY LITERALS -> ``array(e1, e2, ...)`` — a ``[``
      NOT preceded by a value (or preceded by a keyword word) opens one;
    - ``expr[i]`` SUBSCRIPTS -> ``element_at(expr, i)`` — CH (and DuckDB)
      subscripts are 1-BASED with negative-from-end, which is exactly
      ``element_at``'s contract, while Spark's native ``[]`` is 0-based;
      the rewrite walks back over the subscripted primary (identifier
      chain, or a balanced ``(...)``/``[...]`` group plus any call name)
      and wraps it, so CH indexing semantics hold for arrays AND maps.

    A stack tracks which ``]`` closes which form."""
    out: list[str] = []
    stack: list[str] = []  # 'lit' | 'sub' | 'plain'
    for ch in sql:
        if ch == "[":
            # previous significant char + previous word decide the meaning
            j = len(out) - 1
            while j >= 0 and out[j].isspace():
                j -= 1
            prev = out[j] if j >= 0 else ""
            is_value = bool(prev) and (
                prev.isalnum() or prev in (")", "]", "_", "`", "\x00")
            )
            if is_value and (prev.isalpha() or prev == "_"):
                # walk the word back: keywords do not subscript
                w = j
                while w >= 0 and (out[w].isalnum() or out[w] == "_"):
                    w -= 1
                if "".join(out[w + 1 : j + 1]).lower() in _BRACKET_KEYWORDS:
                    is_value = False
            if not is_value:
                stack.append("lit")
                out.extend("array(")
                continue
            # subscript: wrap the preceding primary in element_at(...)
            k = j
            if out[k] in (")", "]"):
                close, open_ = out[k], "(" if out[k] == ")" else "["
                depth = 0
                while k >= 0:
                    if out[k] == close:
                        depth += 1
                    elif out[k] == open_:
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
                k -= 1  # step before the opener; a call name may precede
            # identifier chain (name, dots, backticks, masked literals)
            while k >= 0 and (
                out[k].isalnum() or out[k] in ("_", ".", "`", "\x00")
            ):
                k -= 1
            out[k + 1 : k + 1] = list("element_at(")
            out.extend(", ")
            stack.append("sub")
        elif ch == "]":
            kind = stack.pop() if stack else "plain"
            out.append("]" if kind == "plain" else ")")
        else:
            out.append(ch)
    return "".join(out)


_CAST_TYPE_MAP = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
    "uint64": "decimal(20,0)",  # lossless widening, same as the DDL layer
    "float32": "float", "float64": "double",
    "largeutf8": "string", "datetime": "timestamp", "datetime64": "timestamp",
    "uuid": "string",
}
# only the unambiguous `x::Type` postfix form rewrites here; `CAST(x AS
# Type)` is handled INSIDE translate_sql's cast-call walker so an alias
# merely SPELLED like a type (`select x as datetime`) is never touched
_CAST_TYPE_RE = re.compile(
    r"(?is)(?P<pre>::\s*)(?P<t>"
    + "|".join(sorted(_CAST_TYPE_MAP, key=len, reverse=True))
    + r")\b"
)


def _preprocess_ch_clauses(sql: str) -> str:
    """Clause-level ClickHouse tolerance so real CH queries run unmodified:

    - trailing ``SETTINGS k = v[, ...]`` and ``FORMAT Name`` are execution/
      wire directives with no Spark analogue -> stripped (the reference
      parses SETTINGS in DDL only, bql.pest:31-54; FORMAT is a wire-protocol
      concern, out of scope per SURVEY §7);
    - ``PREWHERE cond`` is ClickHouse's manual scan-stage filter; Catalyst
      pushes predicates to the scan on its own, so it merges into WHERE
      (both present -> AND, matching CH applying both);
    - ``GLOBAL IN`` / ``GLOBAL JOIN`` distribute the right side to every
      node — exactly what Spark's broadcast/shuffle planning decides itself
      -> the keyword drops; ``ALL JOIN`` is CH's explicit standard-SQL
      join -> the modifier drops;
    - ``GROUP BY ... WITH TOTALS`` (upstream-CH; the fork's grammar has
      only a plain group_by, bql.pest:192) -> ``GROUP BY GROUPING SETS
      ((cols), ())``: one extra grouping set reuses the same partial
      aggregation, so the totals row costs no second scan.  Difference
      documented as a superset: CH renders type defaults (0/'') in the
      totals row's key columns, grouping sets render NULL — the standard
      SQL marker.
    """
    # string literals are OPAQUE to every clause rewrite below: mask them
    # behind \x00N\x00 placeholders first (a literal like 'from t final'
    # must survive verbatim — property-tested in test_preprocess_props.py)
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    out = re.sub(r"'(?:[^']|'')*'|\"[^\"]*\"", _mask, sql)
    # ClickHouse bracket ARRAY LITERALS: `[1, 2, 3]` -> `array(1, 2, 3)`.
    # The same bracket is Spark's SUBSCRIPT (`arr[1]`) — the classic lexer
    # distinction applies: a '[' after a value (identifier, ')', ']', or a
    # masked literal) subscripts; anywhere else it opens an array literal.
    out = _rewrite_bracket_arrays(out)
    # BQL/CH type names inside CAST(x AS T) / x::T (the reference's cast
    # surface, sanity_checks.rs:623-800): map to the same Spark types the
    # DDL layer uses (types.py _SIMPLE), so `cast(a as Int64)` runs
    # unmodified.  Names Spark already knows (int, bigint, double, ...)
    # never match this table and pass through.
    out = _CAST_TYPE_RE.sub(
        lambda m: m.group("pre") + _CAST_TYPE_MAP[m.group("t").lower()], out
    )
    # bind to the GROUP BY immediately preceding WITH TOTALS: a tempered
    # capture that cannot cross another GROUP BY, so a subquery/CTE group-by
    # earlier in the statement is never swallowed into the grouping sets
    out = re.sub(
        r"(?is)\bgroup\s+by\s+(?P<cols>(?:(?!\bgroup\s+by\b).)+?)\s+with\s+totals\b",
        lambda m: f"group by grouping sets (({m.group('cols')}), ())",
        out,
    )
    # CH suffix forms GROUP BY cols WITH ROLLUP / WITH CUBE -> the standard
    # prefix spellings Spark parses natively (same tempered capture as
    # WITH TOTALS so an earlier subquery group-by is never swallowed)
    out = re.sub(
        r"(?is)\bgroup\s+by\s+(?P<cols>(?:(?!\bgroup\s+by\b).)+?)"
        r"\s+with\s+(?P<kind>rollup|cube)\b",
        lambda m: f"group by {m.group('kind').lower()}({m.group('cols')})",
        out,
    )
    # SETTINGS ... [FORMAT x] tail (depth-0 guaranteed: both only legal at
    # statement end; conservative regexes keep string literals intact by
    # requiring simple ident/number tokens)
    out = re.sub(
        r"(?is)\bsettings\s+[A-Za-z_][\w]*\s*=\s*[\w.'\"\x00-]+"
        r"(?:\s*,\s*[A-Za-z_][\w]*\s*=\s*[\w.'\"\x00-]+)*\s*(?=\bformat\b|$)",
        " ",
        out,
    )
    out = re.sub(r"(?is)\bformat\s+[A-Za-z][\w]*\s*$", " ", out)
    out = re.sub(r"(?is)\bglobal\s+(not\s+in|in|join|left|right|inner|full)\b", r"\1", out)
    out = re.sub(r"(?is)\ball\s+(inner|left|right|full)\s+join\b", r"\1 join", out)
    # FROM t [AS a] FINAL fallback: Replacing/SummingMergeTree tables get
    # the real merge-result rewrite FIRST (TensorBaseEngine._rewrite_final,
    # which runs before this preprocessing); any FINAL still present here
    # refers to a plain-append table where every row is always visible, so
    # the modifier drops — documented superset difference (like GLOBAL).
    out = re.sub(
        r"(?is)\b(from|join)\s+([\w.]+(?:\s+(?:as\s+)?[A-Za-z_]\w*)?)\s+final\b",
        r"\1 \2",
        out,
    )
    # SELECT * [EXCEPT (...)] REPLACE(expr AS col, ...) — CH column
    # modifiers.  Spark has native `* EXCEPT (...)`; REPLACE rewrites to
    # EXCEPT + appended expressions (replaced columns move to the END of the
    # projection — documented position difference; CH keeps them in place)
    out = _rewrite_star_replace(out)
    # CH's unparenthesized single-column form `* EXCEPT col`; the EXCEPT
    # set operation is excluded by requiring a bare identifier that is not
    # SELECT/ALL/DISTINCT
    out = re.sub(
        r"(?is)\*\s+except\s+(?!\(|all\b|distinct\b|select\b)(\w+)\b",
        r"* except (\1)",
        out,
    )
    # nonNegativeDerivative(metric, ts) OVER w (upstream-CH window fn):
    # rate of change per second, negatives and the frame-first row clamp
    # to 0 — needs the OVER text twice (value lag + time lag), so it
    # rewrites here where the window spec is in hand.  ts must be a
    # time type (CH contract).  The optional INTERVAL 3rd arg is not
    # supported (unmatched forms pass through and fail loudly in Catalyst).
    out = re.sub(
        r"(?is)\bnonNegativeDerivative\s*\(\s*([^(),]+?)\s*,\s*([^(),]+?)\s*\)"
        r"\s*over\s*(\((?:[^()]|\([^()]*\))*\)|[A-Za-z_]\w*)",
        lambda m: (
            "greatest(coalesce(({v} - lag({v}) over {w}) / "
            "nullif(cast(to_unix_timestamp({t}) - lag(to_unix_timestamp({t})) "
            "over {w} as double), 0.0), 0.0), 0.0)"
        ).format(v=m.group(1), t=m.group(2), w=m.group(3)),
        out,
    )
    # CH/MySQL `LIMIT offset, count` -> standard LIMIT count OFFSET offset
    # (the LIMIT n BY cols clause has no comma between numbers, so the
    # two-number comma form is unambiguous; the rare offset form OF LIMIT BY
    # is excluded by the BY lookahead)
    out = re.sub(
        r"(?is)\blimit\s+(\d+)\s*,\s*(\d+)(?!\s*by\b)",
        r"limit \2 offset \1",
        out,
    )
    # CH join-strictness word order: SEMI/ANTI LEFT JOIN -> Spark's native
    # LEFT SEMI/ANTI JOIN
    out = re.sub(r"(?is)\b(semi|anti)\s+left\s+join\b", r"left \1 join", out)
    # PREWHERE: merge into WHERE
    pw = re.search(
        r"(?is)\bprewhere\b(?P<cond>.*?)(?=\bwhere\b|\bgroup\s+by\b|\border\s+by\b|"
        r"\bhaving\b|\blimit\b|\bunion\b|$)",
        out,
    )
    if pw:
        cond = pw.group("cond").strip()
        rest = out[pw.end():]
        out = out[: pw.start()]
        wm = re.match(
            r"(?is)\s*where\b(?P<c2>.*?)(?=\bgroup\s+by\b|\border\s+by\b|"
            r"\bhaving\b|\blimit\b|\bunion\b|$)",
            rest,
        )
        if wm:
            c2 = wm.group("c2").strip()
            out += f" where ({cond}) and ({c2}) " + rest[wm.end():]
        else:
            out += f" where {cond} " + rest
    if re.search(r"(?is)\bpaste\s+join\b", out):
        out = _rewrite_paste_join(out)
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], out)


_ARRAY_JOIN_RE = re.compile(r"(?is)\b(left\s+)?array\s+join\b")
_AJ_CLAUSE_END_RE = re.compile(
    r"(?is)\b(where|prewhere|group\s+by|having|order\s+by|limit|union|"
    r"settings|format|inner\s+join|left\s+join|right\s+join|full\s+join|"
    r"cross\s+join|join|lateral)\b"
)


def _scan_depth0(sql: str, start: int, match_fn):
    """Walk ``sql`` from ``start`` at paren-depth 0 (strings and
    parenthesized groups skipped whole); return the first regex match the
    callable yields, or None."""
    i, n = start, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"":
            j = i + 1
            while j < n and sql[j] != ch:
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if sql[j] in "'\"":
                    q = sql[j]
                    j += 1
                    while j < n and sql[j] != q:
                        j += 1
                elif sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            i = j
            continue
        m = match_fn(sql, i)
        if m:
            return m
        i += 1
    return None


_QUALIFY_RE = re.compile(r"(?is)\bqualify\b")
_QUALIFY_TAIL_RE = re.compile(r"(?is)\b(order\s+by|limit|union)\b")
_TOP_FROM_RE = re.compile(r"(?is)\bfrom\b")


def _replace_ident_everywhere(sql: str, ident: str, repl: str) -> str:
    """Replace bare references to ``ident`` throughout ``sql`` (string
    literals excluded) — CH's scalar WITH aliases scope over the whole
    query including subqueries, unlike ARRAY JOIN shadowing."""
    pat = re.compile(rf"(?is)(?<![\w.$]){re.escape(ident)}(?![\w.$])(?!\s*\()")
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"":
            j = i + 1
            while j < n and sql[j] != ch:
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        m = pat.match(sql, i)
        if m:
            out.append(repl)
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_SCALAR_WITH_ITEM_RE = re.compile(r"(?is)^(?P<e>.+?)\s+as\s+(?P<id>\w+)$")
_CTE_ITEM_RE = re.compile(r"(?is)^\w+\s*(?:\([^)]*\))?\s+as\s*\(")


def _rewrite_scalar_with(sql: str) -> str:
    """ClickHouse's expression-alias WITH (``WITH 5 AS n SELECT n*2``,
    ``WITH (SELECT max(k) FROM t) AS mx SELECT ...``): each alias inlines
    as a parenthesized expression over the whole query body.  Standard
    CTEs (``WITH name AS (SELECT ...)``) and WITH RECURSIVE pass through
    untouched; mixed forms are left to Spark (CH allows mixing, but the
    conservative bail keeps CTE semantics exactly native)."""
    m = re.match(r"(?is)^\s*with\s+", sql)
    if m is None or re.match(r"(?is)^\s*with\s+recursive\b", sql):
        return sql
    body_m = _scan_depth0(sql, m.end(), re.compile(r"(?is)\bselect\b").match)
    if body_m is None:
        return sql
    items_txt = sql[m.end() : body_m.start()].rstrip().rstrip(",")
    items = _split_depth0(items_txt)
    pairs = []
    for it in items:
        if _CTE_ITEM_RE.match(it.strip()):
            return sql  # standard CTE (or mixed) — native path
        sm = _SCALAR_WITH_ITEM_RE.match(it.strip())
        if not sm:
            return sql
        pairs.append((sm.group("id"), sm.group("e").strip()))
    body = sql[body_m.start():]
    # later aliases may reference earlier ones (CH allows it): substitute
    # in reverse declaration order so inner references expand too
    for ident, expr in reversed(pairs):
        body = _replace_ident_everywhere(body, ident, f"({expr})")
    return body


_WITH_TIES_RE = re.compile(
    r"(?is)\border\s+by\s+(?P<keys>.+?)\s+limit\s+(?P<n>\d+)\s+with\s+ties\s*$"
)


def _rewrite_limit_with_ties(sql: str) -> str:
    """``ORDER BY keys LIMIT n WITH TIES`` (ClickHouse/standard-SQL FETCH
    WITH TIES): rows tying with the n-th sort key survive the limit.
    Spark has no WITH TIES, but rank() over the same ordering IS the
    semantics: rank <= n admits exactly the ties.  One window over the
    global ordering — same shuffle the ORDER BY itself needs.

    Guards: an ordinal key (``ORDER BY 1``) would become a CONSTANT inside
    the window spec — every row rank 1, the whole table silently returned —
    so ordinals are rejected loudly.  A sort key not in the SELECT list
    raises Spark's unresolved-column error after the subquery wrap (loud,
    never silent): name the key in the projection."""
    m = _scan_depth0(sql, 0, _WITH_TIES_RE.match)
    if m is None:
        return sql
    head, keys, n = sql[: m.start()].rstrip(), m.group("keys").strip(), m.group("n")
    for k in keys.split(","):
        if re.fullmatch(r"\d+(?:\s+(?:asc|desc))?", k.strip(), re.I):
            raise ValueError(
                "LIMIT n WITH TIES with an ordinal ORDER BY key: the ordinal "
                "would be a constant inside rank() OVER (ORDER BY ...) and "
                "silently return every row — name the column instead"
            )
    return (
        f"select * except (__rk) from (select *, rank() over "
        f"(order by {keys}) as __rk from ({head})) "
        f"where __rk <= {n} order by {keys}"
    )


def _rewrite_qualify(sql: str) -> str:
    """``SELECT ... QUALIFY cond [ORDER BY/LIMIT ...]`` (the window-filter
    clause ClickHouse/DuckDB/Snowflake share; the dedup idiom is
    ``qualify row_number() over (...) = 1``).  Spark has no QUALIFY, but
    the equivalent plan is one wrap: the condition becomes an extra select
    item (lateral alias references and window functions are both legal
    there), an outer ``* EXCEPT`` filters on it and drops it.  Only the
    OUTERMOST query is rewritten (depth-0 scan, quotes respected);
    ORDER BY/LIMIT after QUALIFY stay outside the wrap, so they see the
    filtered rows — the QUALIFY contract.  Limitation: a select alias may
    not appear INSIDE the window spec of the condition (Spark forbids
    lateral alias references in window expressions) — reference the
    underlying expression there instead."""
    m = _scan_depth0(sql, 0, _QUALIFY_RE.match)
    if m is None:
        return sql
    head = sql[: m.start()].rstrip()
    after = sql[m.end():]
    tm = _scan_depth0(after, 0, _QUALIFY_TAIL_RE.match)
    cond = after[: tm.start()].strip() if tm else after.strip()
    rest = " " + after[tm.start():].strip() if tm else ""
    # SELECT DISTINCT: QUALIFY evaluates BEFORE the distinct (the shared
    # DuckDB/Snowflake clause order: ... WINDOW -> QUALIFY -> DISTINCT).
    # Folding __qualify into the distinct projection would let duplicate
    # rows of the ORIGINAL projection survive as distinct (row, __qualify)
    # pairs — so the distinct moves OUTSIDE the filter wrap instead.
    outer_distinct = ""
    if re.match(r"(?is)^\s*select\s+distinct\b", head):
        if re.match(r"(?is)^\s*select\s+distinct\s+on\b", head):
            raise ValueError(
                "DISTINCT ON with QUALIFY is not supported — apply the "
                "window filter in a subquery instead"
            )
        head = re.sub(r"(?is)^(\s*select\s+)distinct\b", r"\1", head, count=1)
        outer_distinct = "distinct "
    fm = _scan_depth0(head, 0, _TOP_FROM_RE.match)
    if fm is None:
        raise ValueError("QUALIFY requires a FROM clause")
    inner = (
        head[: fm.start()].rstrip()
        + f", ({cond}) as __qualify "
        + head[fm.start():]
    )
    return (
        f"select {outer_distinct}* except (__qualify) from ({inner}) "
        f"where __qualify{rest}"
    )


def _replace_ident_outside_subqueries(sql: str, ident: str, repl: str) -> str:
    """Replace bare (unqualified, non-call) references to ``ident`` with
    ``repl`` everywhere except inside string literals and inside
    subqueries — ClickHouse's unaliased ``ARRAY JOIN arr`` shadows the
    array column ``arr`` throughout the enclosing query only.

    A trailing ``.field`` is allowed to follow (and keeps following) the
    rewritten name: ``ARRAY JOIN n`` over a Nested column must rebind
    ``n.url`` to the exploded element's struct field (CH scoping); a
    TABLE-alias-qualified ``t.n`` stays untouched via the lookBEHIND."""
    pat = re.compile(rf"(?is)(?<![\w.$]){re.escape(ident)}(?![\w$])(?!\s*\()")
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"":
            j = i + 1
            while j < n and sql[j] != ch:
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            # peek: subquery gets copied verbatim, plain group is scanned
            k = i + 1
            while k < n and sql[k] in " \t\r\n":
                k += 1
            if re.match(r"(?is)(select|with)\b", sql[k:] or ""):
                depth, j = 1, i + 1
                while j < n and depth:
                    if sql[j] in "'\"":
                        q = sql[j]
                        j += 1
                        while j < n and sql[j] != q:
                            j += 1
                    elif sql[j] == "(":
                        depth += 1
                    elif sql[j] == ")":
                        depth -= 1
                    j += 1
                out.append(sql[i:j])
                i = j
                continue
            out.append(ch)
            i += 1
            continue
        m = pat.match(sql, i)
        if m:
            out.append(repl)
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _split_alias(item: str):
    """'expr AS alias' | 'expr alias'? -> (expr, alias|None); only the
    trailing depth-0 AS is an alias."""
    m = re.match(r"(?is)^(.*?)\s+as\s+([A-Za-z_]\w*)\s*$", item)
    if m and m.group(1).count("(") == m.group(1).count(")"):
        return m.group(1).strip(), m.group(2)
    return item.strip(), None


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse ``[LEFT] ARRAY JOIN item [, item ...]`` clause ->
    Spark ``LATERAL VIEW [OUTER] explode/inline``.

    The reference's grammar has no ARRAY JOIN (bql.pest); this is the
    upstream-ClickHouse clause, part of the dialect-superset surface like
    LIMIT BY.  Semantics mapping:

    - one item       -> ``LATERAL VIEW explode(expr) __ajt AS alias``
    - k items        -> ``LATERAL VIEW inline(arrays_zip(e1..ek)) __ajt AS
      a1..ak`` (ClickHouse walks the arrays in lockstep; arrays_zip
      NULL-pads ragged lengths where ClickHouse errors)
    - LEFT variant   -> ``LATERAL VIEW OUTER`` (empty/NULL array keeps the
      row; the exploded value is NULL — ClickHouse emits the type's default
      value there, NULL is the honest Spark spelling)
    - an unaliased bare-identifier item (``ARRAY JOIN arr``) shadows the
      source column per ClickHouse scoping: references to ``arr`` in the
      enclosing query (not in subqueries) rebind to the exploded value and
      the output column keeps the name ``arr``.
    """
    m = _scan_depth0(sql, 0, _ARRAY_JOIN_RE.match)
    if m is None:
        return sql
    is_left = bool(m.group(1))
    em = _scan_depth0(sql, m.end(), _AJ_CLAUSE_END_RE.match)
    end = em.start() if em else len(sql)
    items = _split_depth0(sql[m.end() : end])
    if not items:
        raise ValueError("ARRAY JOIN: empty item list")
    exprs, aliases, bare_renames = [], [], []
    for k, it in enumerate(items):
        expr, alias = _split_alias(it)
        if alias is None:
            if re.match(r"(?is)^[A-Za-z_]\w*$", expr):
                # unaliased bare column: shadow it (CH scoping)
                alias = f"__aj{k}"
                bare_renames.append((expr, alias))
            else:
                raise ValueError(
                    f"ARRAY JOIN item {expr!r} needs an AS alias (only a "
                    "bare array column can shadow its own name)"
                )
        exprs.append(expr)
        aliases.append(alias)
    outer = "OUTER " if is_left else ""
    if len(exprs) == 1:
        lateral = f" LATERAL VIEW {outer}explode({exprs[0]}) __ajt AS {aliases[0]} "
    else:
        lateral = (
            f" LATERAL VIEW {outer}inline(arrays_zip({', '.join(exprs)})) "
            f"__ajt AS {', '.join(aliases)} "
        )
    head, tail = sql[: m.start()], sql[end:]
    if bare_renames:
        for ident, alias in bare_renames:
            new_head = _replace_ident_outside_subqueries(head, ident, alias)
            # select-list items that are exactly the bare ident keep the
            # user-visible column name: `arr` -> `__aj0 AS arr`
            sm = re.match(r"(?is)^(\s*select\s+(?:distinct\s+)?)(.*)$", new_head, re.DOTALL)
            fm = re.search(r"(?is)\bfrom\b", new_head) if sm else None
            if sm and fm and fm.start() >= sm.end(1):
                lead = sm.group(1)
                body, rest = new_head[sm.end(1) : fm.start()], new_head[fm.start() :]
                parts = [
                    f"{p.strip()} AS {ident}"
                    if p.strip().lower() == alias.lower()
                    else p.strip()
                    for p in _split_depth0(body)
                ]
                new_head = lead + ", ".join(parts) + " " + rest
            head = new_head
            tail = _replace_ident_outside_subqueries(tail, ident, alias)
    # recurse: ClickHouse allows at most one ARRAY JOIN clause, but the
    # rewrite is cheap to re-check and idempotent on the emitted text
    return _rewrite_array_join(head.rstrip() + lateral + tail.lstrip())


_PASTE_JOIN_RE = re.compile(r"(?is)\)\s*paste\s+join\s*\(")
_TRAILING_ORDER_RE = re.compile(
    # keys may contain one paren nesting level so function-call sort keys
    # (`ORDER BY f(x)`, `ORDER BY round(x, 2) DESC`) parse (ADVICE r6 #4)
    r"(?is)\border\s+by\s+(?P<k>(?:[^()]|\([^()]*\))+?)"
    r"(?:\s+limit\s+\d+(?:\s+offset\s+\d+)?)?\s*$"
)


def _rewrite_paste_join(sql: str) -> str:
    """ClickHouse ``(q1) PASTE JOIN (q2)`` — positional (row-number) join:
    row i of the left result pairs with row i of the right (upstream-CH
    23.8+; DuckDB spells it POSITIONAL JOIN, which the oracle uses).

    Spark has no positional join; the deterministic spelling is a
    row_number window per side joined on the number.  CH pastes in
    delivery order, which is only meaningful when the subqueries are
    ordered — so each side MUST carry a trailing ORDER BY, which becomes
    its window ordering (Spark would otherwise drop an inner sort
    entirely); the sort keys must be in the side's projection, since the
    window evaluates over the subquery's output.  Sides of unequal length
    pair up to the shorter (inner join on the row number)."""
    while True:
        m = _PASTE_JOIN_RE.search(sql)
        if m is None:
            return sql
        # scan BACK from the ')' at m.start() to its matching '('
        depth, i = 0, m.start()
        while i >= 0:
            if sql[i] == ")":
                depth += 1
            elif sql[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i < 0:
            raise ValueError("PASTE JOIN: unbalanced left subquery")
        # scan FORWARD from the '(' at m.end()-1 to its matching ')'
        depth, j = 0, m.end() - 1
        n = len(sql)
        while j < n:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if j >= n:
            raise ValueError("PASTE JOIN: unbalanced right subquery")
        left_body = sql[i + 1 : m.start()].strip()
        right_body = sql[m.end() : j].strip()
        sides = []
        for side, body in (("left", left_body), ("right", right_body)):
            om = _TRAILING_ORDER_RE.search(body)
            if om is None:
                raise ValueError(
                    f"PASTE JOIN: the {side} subquery needs a trailing "
                    "ORDER BY — positional pairing is undefined on an "
                    "unordered result (CH pastes in delivery order; Spark "
                    "drops inner sorts)"
                )
            # the body stays INTACT: with a LIMIT the trailing ORDER BY is
            # top-k (Spark keeps it); without one Spark drops the bare
            # inner sort — either way the row_number window re-imposes the
            # declared order deterministically
            sides.append((body, om.group("k").strip()))
        (lb, lk), (rb, rk) = sides
        repl = (
            f"(select * except (__pj_l, __pj_r) from "
            f"(select *, row_number() over (order by {lk}) as __pj_l "
            f"from ({lb})) __pl join "
            f"(select *, row_number() over (order by {rk}) as __pj_r "
            f"from ({rb})) __pr on __pl.__pj_l = __pr.__pj_r)"
        )
        sql = sql[:i] + repl + sql[j + 1 :]


_LIMIT_BY_RE = re.compile(r"(?is)\blimit\s+(\d+)\s+by\s+")


def _extract_limit_by(sql: str):
    """Detect a top-level ClickHouse `LIMIT n BY col[, ...] [LIMIT m]` tail.

    Returns (base_sql, n, by_cols, order_keys, final_limit) or None.  Only
    the outermost query is rewritten (depth-0 scan, quotes respected); an
    ORDER BY is required so per-group selection is deterministic."""
    # depth-0 scan to find the clause outside subqueries/strings
    i, n_len, m = 0, len(sql), None
    while i < n_len:
        ch = sql[i]
        if ch in "'\"":
            j = i + 1
            while j < n_len and sql[j] != ch:
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth = 1
            j = i + 1
            while j < n_len and depth:
                if sql[j] in "'\"":
                    q = sql[j]
                    j += 1
                    while j < n_len and sql[j] != q:
                        j += 1
                elif sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            i = j
            continue
        m = _LIMIT_BY_RE.match(sql, i)
        if m:
            break
        i += 1
    if not m:
        return None
    n_per_group = int(m.group(1))
    tail = sql[m.end() :]
    fl = re.search(r"(?is)\blimit\s+(\d+)\s*$", tail)
    if fl:
        by_txt, final_limit = tail[: fl.start()], int(fl.group(1))
    else:
        by_txt, final_limit = tail, None
    by_cols = _split_depth0(by_txt)
    if not by_cols:
        raise ValueError("LIMIT BY: empty column list")
    base = sql[: m.start()].rstrip()
    om = re.search(
        r"(?is)\border\s+by\b(?P<keys>(?:[^()']|'[^']*'|\([^()]*\))*)$", base
    )
    if not om:
        raise ValueError(
            "LIMIT BY requires an ORDER BY for deterministic per-group rows"
        )
    order_keys = _split_depth0(om.group("keys"))
    return base, n_per_group, by_cols, order_keys, final_limit

_SAMPLE_RE = re.compile(
    r"(?is)\bfrom\s+(?P<tbl>[A-Za-z_][\w.]*)"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?"
    r"\s+sample\s+(?P<k>\d+\s*/\s*\d+|0?\.\d+|\d+(?:\.0+)?)\b"
)


_WITH_FILL_RE = re.compile(
    r"(?is)\border\s+by\s+(?P<col>[A-Za-z_][\w]*)\s+(?P<dir>asc\s+|desc\s+)?"
    r"with\s+fill"
    r"(?:\s+from\s+(?P<frm>-?\d+|(?:date\s*)?'[^']*'))?"
    r"(?:\s+to\s+(?P<to>-?\d+|(?:date\s*)?'[^']*'))?"
    r"(?:\s+step\s+(?P<step>-?\d+|interval\s+-?\d+\s+\w+))?"
    r"(?:\s+interpolate\s*\((?P<interp>[^()]*)\))?\s*$"
)


def _fill_bound(raw: str | None):
    """FROM/TO bound: int, or a date/timestamp literal string."""
    if raw is None:
        return None
    raw = raw.strip()
    if re.match(r"^-?\d+$", raw):
        return int(raw)
    return re.sub(r"(?is)^date\s*", "", raw).strip("'")


def _extract_with_fill(sql: str):
    """Detect a trailing ClickHouse ``ORDER BY col [ASC|DESC] WITH FILL
    [FROM a] [TO b] [STEP s] [INTERPOLATE (cols)]`` (upstream-CH
    gap-filling; the fork's grammar has only a plain order_by, bql.pest:193).
    Returns (base_sql, col, desc, frm, to, step, interp_cols) or None.  One
    integer fill column supported — the common time-bucket shape;
    INTERPOLATE columns carry the previous row's value forward instead of
    taking the type default."""
    m = _WITH_FILL_RE.search(sql)
    if not m:
        return None
    frm = _fill_bound(m.group("frm"))
    to = _fill_bound(m.group("to"))
    step_raw = m.group("step")
    step: int | tuple
    if step_raw is None:
        step = 1
    elif re.match(r"(?is)^interval", step_raw):
        im = re.match(r"(?is)^interval\s+(-?\d+)\s+(\w+)$", step_raw.strip())
        step = (int(im.group(1)), im.group(2).lower())
    else:
        step = int(step_raw)
    if step == 0 or (isinstance(step, tuple) and step[0] == 0):
        raise ValueError("WITH FILL STEP must be nonzero")
    desc = (m.group("dir") or "").strip().lower() == "desc"
    interp = [
        s.strip() for s in (m.group("interp") or "").split(",") if s.strip()
    ]
    return sql[: m.start()].rstrip(), m.group("col"), desc, frm, to, step, interp


# ---------------------------------------------------------------------------
# Dialect translation: ClickHouse function calls -> Spark SQL text
# ---------------------------------------------------------------------------

_IDENT_CALL = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\s*\(")

# SQL keywords that may legally precede a parenthesized expression —
# "select (a+b)", "where (x)", "in (1,2)" — and must not be rewritten as
# function calls (which would eat the whitespace and re-nest the args).
_SQL_KEYWORDS = frozenset(
    """select from where group by order having limit offset and or not on
    join in as case when then else end between union all distinct values
    exists over partition rows interval with using cross inner left
    right full semi anti is like""".split()
)


def _split_top_level_args(s: str) -> list[str]:
    args, depth, cur, in_str = [], 0, [], None
    for ch in s:
        if in_str:
            cur.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def translate_sql(sql: str) -> str:
    """Rewrite ClickHouse function names to Spark SQL equivalents, innermost
    calls first, string literals untouched.  Unknown names pass through —
    Spark SQL's own surface (abs, concat, md5, ...) is a superset of the
    DataFusion builtins the reference exposes (SURVEY §2.6)."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"":
            j = i + 1
            while j < n and sql[j] != ch:
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        m = _IDENT_CALL.match(sql, i)
        if m and m.group(0)[:-1].strip().lower() in _SQL_KEYWORDS:
            # keyword + '(' is not a call: emit the keyword verbatim and let
            # the parenthesized expression be scanned normally
            kw_len = len(m.group(0)) - 1
            out.append(sql[i : i + kw_len])
            i += kw_len
            continue
        if m:
            name = m.group(0)[:-1].strip()
            # find matching close paren
            depth, j = 1, m.end()
            while j < n and depth:
                if sql[j] in "'\"":
                    q = sql[j]
                    j += 1
                    while j < n and sql[j] != q:
                        j += 1
                elif sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            inner = sql[m.end() : j - 1]
            args = [translate_sql(a) for a in _split_top_level_args(inner)]
            # ClickHouse parametric-aggregate call shape: name(params)(args)
            # — quantile(0.5)(x), quantiles(0.25, 0.75)(x).  Only names in
            # the parametric table consume the second group.
            ptmpl = CH_PARAMETRIC_TEMPLATES.get(name.lower())
            if ptmpl is not None:
                k = j
                while k < n and sql[k] in " \t\r\n":
                    k += 1
                if k < n and sql[k] == "(":
                    depth2, j2 = 1, k + 1
                    while j2 < n and depth2:
                        if sql[j2] in "'\"":
                            q = sql[j2]
                            j2 += 1
                            while j2 < n and sql[j2] != q:
                                j2 += 1
                        elif sql[j2] == "(":
                            depth2 += 1
                        elif sql[j2] == ")":
                            depth2 -= 1
                        j2 += 1
                    inner2 = sql[k + 1 : j2 - 1]
                    args2 = [
                        translate_sql(a) for a in _split_top_level_args(inner2)
                    ]
                    out.append(ptmpl(args, args2))
                    i = j2
                    continue
            if name.lower() == "cast" and len(args) == 1:
                # CAST(x AS <BQL type>): rewrite the TRAILING type name only
                # inside the cast call — a select-item alias that happens to
                # be spelled like a type (``x as datetime``) is never touched
                # (reference cast surface, sanity_checks.rs:623-800)
                args[0] = re.sub(
                    r"(?is)(\bas\s+)("
                    + "|".join(sorted(_CAST_TYPE_MAP, key=len, reverse=True))
                    + r")\s*$",
                    lambda m: m.group(1) + _CAST_TYPE_MAP[m.group(2).lower()],
                    args[0],
                )
                out.append(f"cast({args[0]})")
                i = j
                continue
            tmpl = CH_SQL_TEMPLATES.get(name.lower())
            # Generic ClickHouse -If combinator: <Agg>If(args..., cond) works
            # on EVERY aggregate in CH.  When no explicit template exists
            # (countIf/sumIf/... do), peel the suffix, translate the stem
            # call recursively, and attach standard-SQL FILTER — so
            # uniqExactIf / medianIf / argMaxIf / anyIf all compose without
            # per-name entries.
            if tmpl is None and len(args) >= 2 and name.lower().endswith("if"):
                stem = name[:-2]
                if stem.lower() in CH_SQL_TEMPLATES or stem.lower() in (
                    "count", "sum", "avg", "min", "max", "stddev", "corr"
                ):
                    stem_sql = translate_sql(f"{stem}({', '.join(args[:-1])})")
                    out.append(f"{stem_sql} filter (where {args[-1]})")
                    i = j
                    continue
            # Generic -Distinct / -OrNull / -OrDefault combinators, same
            # peel-the-suffix scheme as -If (they compose on every CH
            # aggregate).  Spark semantics already match for -OrNull on
            # sum/avg/min/max (empty set -> NULL); count's 0 is the one
            # divergence, handled via nullif.  -OrDefault fills the type
            # default (0) — CH's documented behavior for numeric aggs.
            if tmpl is None and args and re.search(
                r"(?i)(distinct|ornull|ordefault)$", name
            ):
                sfx = re.search(r"(?i)(distinct|ornull|ordefault)$", name)
                stem = name[: -len(sfx.group(1))]
                known = stem.lower() in CH_SQL_TEMPLATES or stem.lower() in (
                    "count", "sum", "avg", "min", "max", "stddev", "corr",
                )
                if known:
                    kind2 = sfx.group(1).lower()
                    if kind2 == "distinct":
                        inner2 = translate_sql(", ".join(args))
                        stem_sql = translate_sql(f"{stem}(__D__)").replace(
                            "__D__", f"distinct {inner2}"
                        )
                        # uniq*-style stems already emit DISTINCT — the
                        # combinator is then a no-op (CH semantics)
                        stem_sql = re.sub(
                            r"(?i)distinct\s+distinct", "distinct", stem_sql
                        )
                        out.append(stem_sql)
                    else:
                        stem_sql = translate_sql(f"{stem}({', '.join(args)})")
                        if stem.lower() == "count":
                            stem_sql = f"nullif({stem_sql}, 0)"
                        if kind2 == "ornull":
                            out.append(stem_sql)
                        else:
                            out.append(f"coalesce({stem_sql}, 0)")
                    i = j
                    continue
            # range() is both Spark's table function (FROM range(n)) and
            # ClickHouse's scalar array generator; only the scalar position
            # takes the CH rewrite
            if name.lower() == "range" and re.search(
                r"(?is)(?:^|[\s(])(from|join)\s*$", "".join(out)
            ):
                tmpl = None
            if callable(tmpl):
                out.append(tmpl(args))
            elif tmpl:
                try:
                    out.append(tmpl.format(*args))
                except IndexError:
                    out.append(f"{name}({', '.join(args)})")
            else:
                out.append(f"{name}({', '.join(args)})")
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Partition-prune predicate derivation (port of parse_where semantics,
# crates/lang/src/parse.rs:539-862 applied at engine/datafusions.rs:75-105)
# ---------------------------------------------------------------------------


def _parse_literal_date(lit: str):
    s = lit.strip().strip("'\"")
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    try:
        return int(s)
    except ValueError:
        return None


_NON_ALIAS_KEYWORDS = frozenset(
    "on where group order having limit join inner left right full cross outer "
    "union using settings natural global all semi anti format prewhere "
    "select".split()
)


def _derive_ptk_predicate(
    spec: PartitionSpec, where_sql: str, qualifier: str | None = None
) -> str | None:
    """Derive an AND-able __ptk predicate from simple comparisons on the
    partition source column.  Conservative: only top-level-looking
    ``col OP literal`` and ``col BETWEEN a AND b`` forms; strict < / >
    weaken to <= / >= because the ptk fn is non-injective.

    ``qualifier`` is set when more than one table is referenced (JOINs):
    only ``qualifier.col`` comparisons are trusted (an unqualified column in
    a join could belong to either side), and the emitted predicate
    qualifies ``__ptk`` so two partitioned tables in one query stay
    unambiguous."""
    if qualifier:
        col = re.escape(qualifier) + r"\." + re.escape(spec.source_col)
        ptk_ref = f"{qualifier}.{PTK_COL}"
    else:
        col = re.escape(spec.source_col)
        ptk_ref = PTK_COL
    preds: list[str] = []

    def f(lit: str):
        v = _parse_literal_date(lit)
        if v is None:
            return None
        if spec.fn is None:
            return v if isinstance(v, int) else f"'{lit.strip().strip(chr(39))}'"
        if spec.fn == "rem":
            return v % spec.rem_n if isinstance(v, int) else None
        if isinstance(v, int):  # int literal for a date fn: unix seconds
            v = _dt.datetime.fromtimestamp(v, _dt.timezone.utc)
        return _MONOTONIC_PTK_FNS[spec.fn](v)

    for m in re.finditer(
        rf"\b{col}\s*(=|<=|>=|<>|!=|<|>)\s*('[^']*'|[0-9][0-9.\-]*)", where_sql
    ):
        op, lit = m.group(1), m.group(2)
        v = f(lit)
        if v is None:
            continue
        if op == "=":
            preds.append(f"{ptk_ref} = {v}")
        elif op in ("<>", "!=") or spec.fn == "rem":
            continue  # != gives no range; rem is non-monotonic
        elif op in ("<", "<="):
            preds.append(f"{ptk_ref} <= {v}")
        elif op in (">", ">="):
            preds.append(f"{ptk_ref} >= {v}")
    for m in re.finditer(
        rf"\b{col}\s+between\s+('[^']*'|[0-9][0-9.\-]*)\s+and\s+('[^']*'|[0-9][0-9.\-]*)",
        where_sql,
        re.IGNORECASE,
    ):
        lo, hi = f(m.group(1)), f(m.group(2))
        if lo is not None and hi is not None and spec.fn != "rem":
            preds.append(f"{ptk_ref} >= {lo} AND {ptk_ref} <= {hi}")
    if not preds:
        return None
    return " AND ".join(f"({p})" for p in preds)


# ---------------------------------------------------------------------------
# The engine
# ---------------------------------------------------------------------------

_CREATE_DB_RE = re.compile(
    r"^create\s+database\s+(if\s+not\s+exists\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE,
)
_CREATE_TABLE_HEAD_RE = re.compile(
    r"^create\s+table\s+(?P<ine>if\s+not\s+exists\s+)?(?P<name>[A-Za-z_][A-Za-z0-9_.]*)\s*\(",
    re.IGNORECASE,
)


def _match_create_table(c: str):
    """(if_not_exists, name, cols_text, tail) with balanced-paren column list
    — a greedy regex would swallow PARTITION BY fn(col) into the columns."""
    m = _CREATE_TABLE_HEAD_RE.match(c)
    if not m:
        return None
    depth, i = 1, m.end()
    while i < len(c) and depth:
        if c[i] == "(":
            depth += 1
        elif c[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    return bool(m.group("ine")), m.group("name"), c[m.end() : i - 1], c[i:].strip()
_PARTITION_BY_RE = re.compile(
    r"partition\s+by\s+(?P<expr>[A-Za-z_][A-Za-z0-9_]*\s*(?:\([^)]*\))?)", re.IGNORECASE
)
_SETTINGS_RE = re.compile(r"\bsettings\s+(?P<kv>.+)$", re.IGNORECASE | re.DOTALL)
# CH MergeTree DDL tail clauses: ORDER BY is the storage sort key (applied
# at OPTIMIZE compaction here — same laziness as CH merges), TTL the row
# expiry expression (enforced at OPTIMIZE, CH's merge-time TTL semantics)
_ORDER_BY_DDL_RE = re.compile(
    r"(?is)\border\s+by\s+(?P<e>.+?)"
    r"(?=\bpartition\s+by\b|\bprimary\s+key\b|\bsample\s+by\b|\bttl\b|\bsettings\b|$)"
)
_TTL_DDL_RE = re.compile(r"(?is)\bttl\s+(?P<e>.+?)(?=\bsettings\b|$)")
_DROP_RE = re.compile(
    r"^drop\s+(?P<kind>database|table|view)\s+(?P<ie>if\s+exists\s+)?(?P<name>[A-Za-z_][A-Za-z0-9_.]*)\s*$",
    re.IGNORECASE,
)
_INSERT_REMOTE_RE = re.compile(
    r"^insert\s+into\s+function\s+remote\s*\(\s*(?P<addr>'[^']*')\s*,\s*"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_.]*)\s*\)\s*(?P<rest>values\s+.*|select\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^insert\s+into\s+(?P<name>[A-Za-z_][A-Za-z0-9_.]*)\s*(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<rest>values\b.*|select\s+.*|format\s+\w+\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass(frozen=True)
class DictionarySpec:
    """An upstream-CH external dictionary emulated over a source table.

    CH loads the source into an in-RAM hash table per node and dictGet is a
    point lookup (no reference analogue — upstream surface).  The Spark-first
    spelling of the same thing: each ``dictGet`` rewrites to an uncorrelated
    SCALAR SUBQUERY building ``map_from_entries`` over the (deduplicated)
    source — Catalyst executes it once and broadcasts the map value into the
    main plan's expressions, exactly the per-node hash table CH keeps.
    Sized for dimension tables (CH's own contract: dictionaries live in RAM);
    a corpus-sized mapping belongs in a join, not a dictionary."""

    name: str
    key: str                 # primary-key column in the source table
    source: str              # qualified source table
    attrs: dict              # attr -> (bql_type_lower, default_sql | None)


@dataclass(frozen=True)
class ProjectionSpec:
    """A ClickHouse aggregate projection emulated as a hidden pre-aggregated
    table + automatic query rewrite (upstream-CH; the reference has no
    projections).

    CH stores per-part pre-aggregated projection data and re-aggregates at
    read; here the hidden table accumulates one PARTIAL row-group per
    inserted block (maintained through the same insert-trigger machinery as
    materialized views), and a matching GROUP BY query is rewritten to
    re-aggregate the partials — sum->sum, count->sum, min->min, max->max.
    Re-aggregation is what makes COARSER group-bys (any subset of the
    projection dims) eligible, which is the projection's whole point: the
    rewritten scan reads |groups| rows instead of |table| rows.  The
    rewrite is conservative — any shape it cannot prove (joins, subqueries,
    non-dim filters, unsupported aggregates, missing aliases) falls back to
    the base table, so it can never change results, only plans."""

    name: str
    table: str               # hidden projection table
    dims: tuple              # dimension columns (lowercase)
    # normalized agg expr "sum(x)"/"count(*)" -> (partial col, merge fn)
    aggs: dict


_ADD_PROJ_RE = re.compile(
    r"(?is)^(?P<kind>add|materialize|drop)\s+projection\s+(?P<p>\w+)"
    r"(?:\s*\(\s*select\s+(?P<items>.+?)\s+group\s+by\s+(?P<dims>.+?)\s*\)\s*)?$"
)


def _norm_agg(expr: str) -> str:
    """Canonical text of an aggregate call: lowercase, no spaces,
    count()/count(1) -> count(*)."""
    e = re.sub(r"\s+", "", expr.lower())
    return "count(*)" if e in ("count()", "count(1)") else e


_CREATE_DICT_RE = re.compile(
    r"(?is)^create\s+dictionary\s+(?P<ine>if\s+not\s+exists\s+)?"
    r"(?P<name>[\w.]+)\s*\((?P<cols>.*)\)\s*"
    r"primary\s+key\s+(?P<key>[\w\s,]+?)\s*"
    r"source\s*\(\s*clickhouse\s*\((?P<src>[^()]*)\)\s*\)(?P<tail>.*)$"
)

_DICT_CALL_RE = re.compile(r"(?i)\bdict(?:get\w*|has)\s*\(")


def _dict_type_default(bql_type: str) -> str:
    """CH dictGet on a missing key returns the attribute's declared DEFAULT,
    else the type default.  Numeric -> 0, String -> '', temporal -> NULL
    (CH renders 1970-01-01 there; NULL is the honest Spark spelling and is
    documented as the superset difference)."""
    t = bql_type.lower()
    if t.startswith(("uint", "int", "float", "decimal")):
        return "0"
    if t.startswith(("string", "fixedstring", "uuid")):
        return "''"
    return "null"


class TensorBaseEngine:
    """`engine.sql(bql)` — the user-facing surface, matching how the
    reference's servers hand each command string to BMS.run_commands."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # the table files: appends, rewrites, listings and the write lock
        self.storage = TableStore(spark)
        self.storage.queries = self._other_queries
        self._catalog_table = self.storage.catalog_table
        self._partition_specs: dict[str, PartitionSpec] = {}
        # declared BQL column types per table (_bql_cols_for); dropped
        # wherever _partition_specs is, and on CREATE
        self._bql_cols_cache: dict[str, dict] = {}
        self._create_scripts: dict[str, str] = {}
        # materialized views: src table -> [(mv, tgt, select, src_as_written)]
        self._mvs: dict[str, list[tuple[str, str, str, str]]] = {}
        self._mv_depth = 0
        # upstream-CH external dictionaries: qualified name -> spec
        self._dicts: dict[str, DictionarySpec] = {}
        # system.query_log rows: (event_time, query, kind, type, exc, ms)
        self._query_log: list[tuple] = []
        # CH projections: src table -> [ProjectionSpec]
        self._projections: dict[str, list[ProjectionSpec]] = {}
        # upstream-CH query result cache (SET use_query_cache = 1):
        # key -> (catalog_version, pandas result, schema).  Any
        # catalog-mutating statement bumps the version, invalidating
        # everything at once (CH invalidates on table change; a whole-cache
        # epoch is the conservative spelling of that).  Caveat, like CH's:
        # data changed OUTSIDE engine.sql() (temp-view replacement, direct
        # file writes) is invisible — enable it for engine-table workloads
        # CH query parameters: SET param_x = v binds {x:Type} placeholders
        self._params: dict[str, str] = {}
        # CH parameterized views: qualified name -> raw stored SELECT text
        # (placeholders bind per call site, SELECT * FROM v(p = 3))
        self._param_views: dict[str, str] = {}
        self._use_query_cache: bool = False
        # SET uint64_storage = 'decimal' (default, lossless Decimal(20,0))
        # | 'reinterpret' (Int64 two's-complement — see types.ParsedType.
        # reinterp for the semantics ledger).  Applies at CREATE TABLE
        # time; the choice is stamped per column, not re-read per query.
        self._uint64_storage: str = "decimal"
        self._cache_version: int = 0
        self._result_cache: dict[str, tuple] = {}
        self._query_cache_max_rows: int = 100_000
        self._query_cache_max_entries: int = 64
        # SYSTEM STOP MERGES state: qualified table names, or "*" for all
        self._merges_stopped: set[str] = set()
        self._merge_tf_n: int = 0
        # alias engines (Distributed/Buffer): qualified name -> target table
        self._alias_targets: dict[str, str] = {}
        self._alias_kinds: dict[str, str] = {}  # 'buffer' | 'distributed'
        self._non_alias: set[str] = set()  # negative cache (plain tables)
        # ENGINE = Buffer pending blocks per alias (cast, unwritten).  CH's
        # buffer is likewise process-memory: rows not yet flushed are lost
        # on an abnormal exit — the documented Buffer durability contract.
        self._buffer_pending: dict[str, list[DataFrame]] = {}
        # concurrent front-door ingest (the reference's ingest bench pools
        # 12 connections, bench_ingestion.rs:6-40): _buffer_lock guards
        # the pending-list bookkeeping (append/steal must not lose a block
        # arriving mid-flush); storage.lock serializes the writes
        self._buffer_lock = threading.Lock()
        # live query registry (system.processes / SHOW PROCESSLIST / KILL
        # QUERY): query_id -> in-flight entry.  Populated by track_query()
        # — the HTTP/native/MySQL front doors wrap each request, and
        # engine.sql wraps its own dispatch for inline callers — so now
        # that the wire servers execute concurrently, in-flight queries
        # are listable and cancellable (VERDICT r9 #1)
        self._proc_lock = threading.Lock()
        # serializes every mutation of the shared catalog's current
        # database across ALL front doors (native per-connection bind,
        # HTTP per-request database/session scope) — a door-private lock
        # would let another door's analysis window observe the bind
        # (r12 review)
        self.catalog_lock = WaitLock()
        self._processes: dict[str, dict] = {}
        self._track_tls = threading.local()
        self._proc_views: list[str] = []  # snapshot views pending GC
        self._max_execution_time = 0.0  # seconds; 0 = unlimited (CH)

    def bootstrap_system(self) -> None:
        """Create the ``system`` database + empty ``system.numbers (number
        Int64)`` table the reference provisions at boot (mgmt.rs:232-250).
        Optional (the ``numbers(N)`` table function covers the common use);
        idempotent."""
        self.sql("create database if not exists system")
        if not self.spark.catalog.tableExists("system.numbers"):
            self.sql("create table system.numbers (number Int64)")

    def _refresh_system_parts(self) -> None:
        """Materialize the ``system.parts`` introspection view (upstream-CH's
        most-queried system table; the reference keeps part sizes in sled,
        parts.rs:238-304): one row per (database, table, partition) of the
        CURRENT database's engine tables, with row counts from parquet
        FOOTERS (metadata-only reads — the local stand-in for a metastore
        stats query; never a data scan), file counts and bytes on disk.
        Un-partitioned tables report partition='all'."""
        db = self.spark.catalog.currentDatabase()
        rows = []
        for t in self.spark.catalog.listTables(db):
            if (t.tableType or "").upper() not in ("MANAGED", "EXTERNAL"):
                continue
            if t.name.endswith("__detached_tbl"):
                continue  # CH hides detached tables from system.* too
            parts: dict[str, list[int]] = {}  # partition -> [rows, bytes, files]
            for f in self.storage.files(f"{db}.{t.name}"):
                agg = parts.setdefault(f.partition or "all", [0, 0, 0])
                agg[0] += f.rows
                agg[1] += f.bytes
                agg[2] += 1
            for partition, (n, b, nf) in sorted(parts.items()):
                rows.append((db, t.name, partition, n, b, nf))
        self.spark.createDataFrame(
            rows,
            "database string, table string, partition string, "
            "rows long, bytes_on_disk long, part_count long",
        ).createOrReplaceGlobalTempView("tb_system_parts")

    def _refresh_detached_parts(self) -> None:
        """``system.detached_parts`` (upstream-CH introspection over the
        detached/ directory): one row per partition currently parked by
        DETACH PARTITION, with row/byte/file counts from parquet footers —
        metadata-only, like _refresh_system_parts."""
        import os

        wh = self.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        rows = []
        if os.path.isdir(wh):
            for entry in sorted(os.listdir(wh)):
                if not entry.endswith("__detached"):
                    continue
                qualified = entry[: -len("__detached")]
                db, _, tbl = qualified.rpartition(".")
                root = os.path.join(wh, entry)
                for part in sorted(os.listdir(root)):
                    pdir = os.path.join(root, part)
                    if not os.path.isdir(pdir):
                        continue
                    files = live_files(pdir)
                    rows.append((
                        db, tbl, part, sum(f.rows for f in files),
                        sum(f.bytes for f in files), len(files),
                    ))
        self.spark.createDataFrame(
            rows,
            "database string, table string, partition string, "
            "rows long, bytes_on_disk long, part_count long",
        ).createOrReplaceGlobalTempView("tb_system_detached_parts")

    def _refresh_system_settings(self) -> None:
        """``system.settings`` (upstream-CH introspection): the engine's
        session knobs — query cache, compaction target, bound query
        parameters, merges state — as (name, value, changed) rows, CH's
        most-read columns."""
        defaults = {
            "use_query_cache": "0",
            "optimize_target_file_bytes": str(128 * 1024 * 1024),
        }
        rows = [
            (
                "uint64_storage",
                self._uint64_storage,
                self._uint64_storage != "decimal",
            ),
            (
                "use_query_cache",
                "1" if self._use_query_cache else "0",
                self._use_query_cache,
            ),
            (
                "optimize_target_file_bytes",
                str(self.storage.target_file_bytes),
                str(self.storage.target_file_bytes)
                != defaults["optimize_target_file_bytes"],
            ),
            (
                "merges_stopped_for",
                ",".join(sorted(self._merges_stopped)),
                bool(self._merges_stopped),
            ),
        ]
        rows += [(f"param_{k}", v, True) for k, v in sorted(self._params.items())]
        self.spark.createDataFrame(
            rows, "name string, value string, changed boolean"
        ).createOrReplaceGlobalTempView("tb_system_settings")

    def _refresh_system_functions(self) -> None:
        """``system.functions`` (upstream-CH introspection; the reference
        has no system tables): every name the dialect layer answers —
        Column-shim functions, SQL templates, parametric aggregate
        templates, and the Spark builtins the dialect passes through —
        as (name, origin) rows.  Deterministic: sourced from the
        registries, not a hardcoded list, so new tiers appear
        automatically."""
        from tensorbase_spark.functions.clickhouse import (
            CH_FUNCTIONS,
            CH_PARAMETRIC_TEMPLATES,
            CH_SQL_TEMPLATES,
        )

        origins: dict[str, str] = {}
        for n in self.spark.sql("SHOW FUNCTIONS").toPandas()["function"]:
            origins.setdefault(str(n).lower(), "spark_builtin")
        for n in CH_SQL_TEMPLATES:
            if n.startswith("__"):
                continue  # private helper keys are not public functions
            origins[n.lower()] = "ch_template"
        for n in CH_PARAMETRIC_TEMPLATES:
            if n.startswith("__"):
                continue  # private helper keys are not public functions
            origins[n.lower()] = "ch_parametric"
        shims = {n.lower() for n in CH_FUNCTIONS}
        self.spark.createDataFrame(
            sorted((n, o, n in shims) for n, o in origins.items()),
            "name string, origin string, has_column_shim boolean",
        ).createOrReplaceGlobalTempView("tb_system_functions")

    def _refresh_system_tables(self) -> None:
        """``system.tables`` / ``system.columns`` (upstream-CH introspection;
        the reference reads the same from sled for SHOW/DESC, mgmt.rs:484-532):
        current database's engine tables with their create scripts and
        declared-BQL column metadata.  Catalog-only — no filesystem I/O."""
        db = self.spark.catalog.currentDatabase()
        trows, crows = [], []
        for t in self.spark.catalog.listTables(db):
            if (t.tableType or "").upper() not in ("MANAGED", "EXTERNAL"):
                continue
            if t.name.endswith("__detached_tbl"):
                continue  # CH hides detached tables from system.* too
            qualified = f"{db}.{t.name}"
            props = self._table_props(qualified)
            trows.append(
                (
                    db,
                    t.name,
                    "BaseStorage",
                    props.get("tb.partition_expr"),
                    self._create_scripts.get(qualified)
                    or props.get("tb.create_script"),
                )
            )
            cols_txt = props.get("tb.columns")
            if cols_txt:
                for pos, part in enumerate(_split_top_level_args(cols_txt), 1):
                    cname, ctype = part.strip().split(None, 1)
                    p = parse_bql_type(ctype)
                    crows.append(
                        (db, t.name, cname, ctype.strip(), pos, p.nullable)
                    )
            else:
                for pos, f in enumerate(self.spark.table(qualified).schema, 1):
                    if f.name == PTK_COL:
                        continue
                    crows.append(
                        (db, t.name, f.name, f.dataType.simpleString(), pos, f.nullable)
                    )
        self.spark.createDataFrame(
            trows,
            "database string, name string, engine string, "
            "partition_key string, create_table_query string",
        ).createOrReplaceGlobalTempView("tb_system_tables")
        self.spark.createDataFrame(
            crows,
            "database string, table string, name string, type string, "
            "position int, is_nullable boolean",
        ).createOrReplaceGlobalTempView("tb_system_columns")

    # -- helpers ------------------------------------------------------------

    def _qualify(self, name: str) -> str:
        if "." in name:
            return name
        return f"{self.spark.catalog.currentDatabase()}.{name}"

    def _table_props(self, qualified: str) -> dict:
        """tb.* properties of a MANAGED engine table; {} for temp views,
        views and missing tables.

        Read from the JVM catalog metadata, NOT ``SHOW TBLPROPERTIES``:
        the SQL command redacts any property whose key OR value matches
        ``spark.sql.redaction.options.regex`` (default ``(?i)url``) — a
        column literally NAMED ``url`` in ``tb.columns`` came back as
        ``*********(redacted)`` and silently broke insert typing, DESC and
        partition-spec recovery.  The engine's own metadata is not a
        credential; the redacted SQL surface remains for users."""
        meta = self._catalog_table(qualified)
        if meta is None or meta.tableType().name() not in ("MANAGED", "EXTERNAL"):
            return {}
        return jprops(meta.properties())

    def _resolve_alias(self, qualified: str) -> str:
        """Distributed/Buffer alias -> local target table.  The in-memory
        dict is a cache; the durable record is the ``tb.alias_target`` view
        property written at CREATE, so a fresh engine over the same
        warehouse redirects writes/DROP correctly (ADVICE r6 #3)."""
        hit = self._alias_targets.get(qualified)
        if hit:
            return hit
        # negative cache FIRST: plain tables and non-alias views must hit a
        # pure dict lookup on the block-grain insert path, not a JVM
        # catalog fetch per call (ADVICE r7 #4).  A later CREATE ...
        # ENGINE=Buffer/Distributed of the same name wins via the
        # _alias_targets check above, which _create_table populates.
        if qualified in self._non_alias:
            return qualified
        try:
            t = self.spark.catalog.getTable(qualified)
        except Exception:
            return qualified
        if (t.tableType or "").upper() != "VIEW":
            self._non_alias.add(qualified)
            return qualified
        props = self._table_props_view(qualified)
        tgt = props.get("tb.alias_target")
        if tgt:
            self._alias_targets[qualified] = tgt
            kind = props.get("tb.alias_kind")
            if kind:
                self._alias_kinds[qualified] = kind
            return tgt
        # negative cache: a plain table pays the JVM metadata fetch ONCE,
        # not on every block-grain insert (CREATE TABLE ... ENGINE=Buffer/
        # Distributed of the same name invalidates via _create_table's
        # dict writes happening first)
        self._non_alias.add(qualified)
        return qualified

    def _alias_kind(self, qualified: str) -> str | None:
        """'buffer' / 'distributed' for an alias-engine view, else None."""
        if qualified not in self._alias_kinds:
            self._resolve_alias(qualified)  # lazily rebuilds both caches
        return self._alias_kinds.get(qualified)

    def _buffer_flush_blocks(self, alias: str) -> int:
        """Pending-block count that triggers a flush.  CH flushes on its
        min/max row/byte/time thresholds; rows and bytes are lazy here (a
        count per arriving block would cost the very job the buffer
        amortizes), so the deterministic analogue is the num_layers engine
        argument as a block budget — each 'layer' holds one block."""
        spec = self._table_props_view(alias).get("tb.buffer_layers")
        try:
            return max(1, int(spec))
        except (TypeError, ValueError):
            return 16

    def _table_props_view(self, qualified: str) -> dict:
        """View properties via the JVM catalog (tb.* on alias views)."""
        meta = self._catalog_table(qualified)
        return {} if meta is None else jprops(meta.properties())

    def flush_buffer(self, alias: str) -> None:
        """Flush a Buffer alias's pending blocks to its target as ONE
        partitioned write (the amortization the block-grain ingest tax
        needs, PLANS.md §10) — also fired by OPTIMIZE TABLE and DROP TABLE
        on the alias, matching CH's flush-on-drop."""
        alias = self._qualify(alias)
        with self._buffer_lock:
            # steal the whole pending list atomically — a block appended
            # by a concurrent connection either rides this flush or stays
            # queued for the next one, never both and never neither
            pend = self._buffer_pending.get(alias) or []
            self._buffer_pending[alias] = []
        if not pend:
            return
        out = pend[0]
        for b in pend[1:]:
            out = out.unionByName(b)
        # each wire-grain block arrives as its own small multi-partition
        # local DataFrame; a union of N of them would launch N*default
        # partitions of near-empty write tasks — coalesce (no shuffle)
        # back to the core count before the one partitioned write
        out = out.coalesce(self.spark.sparkContext.defaultParallelism)
        target = self._resolve_alias(alias)
        with self.storage.lock(target):
            self._write_block(target, out)

    def _spec_for(self, name: str) -> PartitionSpec | None:
        q = self._qualify(name)
        if q in self._partition_specs:
            return self._partition_specs[q]
        # recover from table properties (engine restarted over same warehouse)
        props = self._table_props(q)
        expr = props.get("tb.partition_expr")
        if expr:
            spec = parse_partition_expr(expr)
            self._partition_specs[q] = spec
            return spec
        return None

    # -- dispatcher (mirrors mgmt.rs:984-1057 rule match) --------------------

    _OUTFILE_RE = re.compile(
        r"(?is)\binto\s+outfile\s+'(?P<p>[^']+)'\s*"
        r"(?:format\s+(?P<f>\w+))?\s*$"
    )
    # function calls whose result varies run-to-run — cache-ineligible
    _NONDETERMINISTIC_RE = re.compile(
        r"(?is)\b(?:now|today|yesterday|rand\w*|uuid|"
        r"generateUUIDv[47]|UTCTimestamp|random|current_date|"
        r"current_timestamp|arrayRandomSample|arrayShuffle|shuffle|"
        r"current_time|unix_timestamp|remote|numbers)\s*\("
    )

    @contextlib.contextmanager
    def track_query(self, query: str, query_id: str | None = None,
                    user: str = "default", interface: str = "inline",
                    max_execution_time: float | None = None):
        """Register an in-flight query in the live process registry and
        bind this thread's Spark jobs to a cancellable job group, so
        ``KILL QUERY WHERE query_id = '…'`` can cancel them mid-flight
        (upstream-CH ProcessList semantics; the reference's runtime is
        strictly synchronous and has no processlist at all).  The wire
        front doors wrap each request — including the streaming fetch —
        and ``engine.sql`` wraps its own dispatch for inline callers.
        Re-entrant per thread: nested engine.sql calls inside a tracked
        request do not produce extra entries (the outermost scope wins).
        Yields the effective query_id."""
        tls = self._track_tls
        depth = getattr(tls, "depth", 0)
        if depth:
            tls.depth = depth + 1
            try:
                yield getattr(tls, "qid", None)
            finally:
                tls.depth = depth
            return
        qid = query_id or str(_uuid.uuid4())
        with self._proc_lock:
            if qid in self._processes:
                # upstream-CH QUERY_WITH_SAME_ID_IS_ALREADY_RUNNING: a
                # silent overwrite would let the first finisher pop the
                # shared entry, leaving the survivor unlistable and
                # unkillable (r10 review)
                raise ValueError(
                    f"Query with id = '{qid}' is already running"
                )
            # the Spark job group is qid + a per-run nonce: a stale
            # canceller (watchdog of a finished run, KILL reaper) can
            # then never hit a successor that reuses the same
            # client-supplied query_id — cancelling a dead unique group
            # is a harmless no-op (ADVICE r11)
            jg = f"{qid}::{_uuid.uuid4().hex[:8]}"
            self._processes[qid] = {
                "query_id": qid, "query": query.strip()[:8192],
                "user": user, "interface": interface,
                "started": _time.time(), "killed": False, "jg": jg,
                "thread": threading.get_ident(),
                "met": float(
                    max_execution_time if max_execution_time is not None
                    else (self._max_execution_time or 0)
                ),
            }
        sc = self.spark.sparkContext
        props = ("spark.jobGroup.id", "spark.job.description",
                 "spark.job.interruptOnCancel")
        prev = {k: sc.getLocalProperty(k) for k in props}
        sc.setLocalProperty("spark.jobGroup.id", jg)
        sc.setLocalProperty("spark.job.description", query.strip()[:200])
        sc.setLocalProperty("spark.job.interruptOnCancel", "true")
        tls.depth, tls.qid = 1, qid
        # upstream-CH max_execution_time: a watchdog cancels the job
        # group once the budget elapses (re-cancelling until the victim
        # exits, since cancelJobGroup has no tombstone between jobs) and
        # flags the entry, so the query thread's failure is converted to
        # CH's TIMEOUT_EXCEEDED shape below.  Streamed INSERT loops see
        # the same flag through check_not_killed().
        with self._proc_lock:
            entry = self._processes[qid]
            met = entry["met"]
        done_evt: threading.Event | None = None
        if met > 0:
            done_evt = threading.Event()

            def _watchdog(evt=done_evt, budget=met, own=entry, grp=jg):
                if evt.wait(budget):
                    return
                while not evt.is_set():
                    with self._proc_lock:
                        e = self._processes.get(qid)
                        # identity check: a finished victim's query_id
                        # may be reused by a successor before this
                        # thread wakes — never flag someone else's entry
                        if e is not own:
                            return
                        e["killed"] = True
                        e["timed_out"] = True
                    # the per-run unique group makes this cancel safe
                    # even if the victim exits between the check above
                    # and here — a successor runs under a different group
                    sc.cancelJobGroup(grp)
                    if evt.wait(0.1):
                        return

            threading.Thread(
                target=_watchdog, daemon=True,
                name=f"tb-met-{qid[:12]}",
            ).start()
        try:
            yield qid
        except BaseException as exc:
            with self._proc_lock:
                e = self._processes.get(qid)
                timed = bool(e and e.get("timed_out"))
                was_killed = bool(e and e.get("killed"))
            if timed:
                raise TimeoutError(
                    "Timeout exceeded: maximum execution time of "
                    f"{met:g} seconds exceeded (max_execution_time)"
                ) from exc
            if was_killed:
                # the KILL reaper cancels the victim's jobs directly, so
                # the failure surfaces as a raw Spark SPARK_JOB_CANCELLED
                # error — convert it to CH's QUERY_WAS_CANCELLED shape
                # here so every front door reports kills uniformly
                raise ValueError(
                    f"Query '{qid}' was cancelled (KILL QUERY)"
                ) from exc
            raise
        finally:
            if done_evt is not None:
                done_evt.set()
            tls.depth, tls.qid = 0, None
            with self._proc_lock:
                self._processes.pop(qid, None)
            for k in props:
                sc.setLocalProperty(k, prev[k])
            # a merge's superseded files that waited on this query
            self.storage.reclaim()

    def _other_queries(self) -> list:
        """The tracked queries other than this thread's own, as (entry,
        thread ident) pairs: what a merge's reclaim waits for."""
        own = getattr(self._track_tls, "qid", None)
        with self._proc_lock:
            return [(e, e["thread"]) for q, e in self._processes.items() if q != own]

    def check_not_killed(self, qid: str | None = None) -> None:
        """Raise if this thread's tracked query was KILLed (or timed
        out) — wire INSERT loops poll this between batches so a kill
        aborts the body stream cleanly mid-upload instead of after the
        whole body has been consumed (VERDICT r10 #6).  Pass ``qid``
        explicitly from helper threads: the thread-local binding only
        exists on the thread that entered track_query (r12 review)."""
        qid = qid or getattr(self._track_tls, "qid", None)
        if not qid:
            return
        with self._proc_lock:
            e = self._processes.get(qid)
            killed = bool(e and e.get("killed"))
            timed = bool(e and e.get("timed_out"))
            met = float(e.get("met", 0)) if e else 0.0
        if timed:
            raise TimeoutError(
                "Timeout exceeded: maximum execution time of "
                f"{met:g} seconds exceeded (max_execution_time)"
            )
        if killed:
            raise ValueError(f"Query '{qid}' was cancelled (KILL QUERY)")

    def kill_checked(self, it, qid: str | None = None, every: int = 4096):
        """Wrap a row iterator with a periodic kill/timeout poll — the
        ONE implementation every front door's result stream shares.  A
        KILL from another connection cancels the victim's Spark jobs,
        but once a result window has been computed nothing is left to
        cancel while it is read; this poll is what truncates the stream
        (VERDICT r11 #6, r12 review dedup).  ``qid`` binds the check to
        the tracked query regardless of which thread consumes the
        iterator."""
        # resolve the thread-local binding EAGERLY (a generator body
        # runs lazily, possibly on a helper thread with no binding)
        qid = qid or getattr(self._track_tls, "qid", None)

        def _gen():
            for n, row in enumerate(it):
                if n % every == every - 1:
                    self.check_not_killed(qid)
                yield row

        return _gen()

    def _local_values_df(
        self, rows: list[tuple], colspec: list[tuple[str, str]]
    ) -> DataFrame:
        """Small driver-side result as a TRUE LocalRelation (SQL VALUES).
        ``createDataFrame()`` wraps a Python RDD whose collect() submits a
        Spark job, which in the FIFO scheduler queues behind any long
        scan's tasks — introspection results (processlist, KILL status)
        must stay jobless so they answer even while the cluster is
        saturated (the whole point of KILL QUERY)."""

        def lit(v, t: str) -> str:
            if v is None:
                return f"CAST(NULL AS {t})"
            if t == "STRING":
                s = str(v).replace("\\", "\\\\").replace("'", "''")
                return f"'{s}'"
            if t == "BOOLEAN":
                return "true" if v else "false"
            return f"CAST({v} AS {t})"

        if rows:
            vals = ", ".join(
                "(" + ", ".join(lit(v, t) for v, (_n, t) in zip(r, colspec))
                + ")"
                for r in rows
            )
            tail = ""
        else:
            vals = "(" + ", ".join(f"CAST(NULL AS {t})" for _n, t in colspec) + ")"
            tail = " WHERE false"
        names = ", ".join(f"`{n}`" for n, _t in colspec)
        return self.spark.sql(
            f"SELECT * FROM VALUES {vals} AS t({names}){tail}"
        )

    _PROC_COLS = [
        ("query_id", "STRING"), ("user", "STRING"), ("elapsed", "DOUBLE"),
        ("query", "STRING"), ("interface", "STRING"),
        ("is_cancelled", "BOOLEAN"),
    ]

    def _processes_snapshot_df(self) -> DataFrame:
        """Live registry -> DataFrame (system.processes shape).  The
        CALLING thread's own tracked query is excluded — an introspecting
        statement never lists itself, so synchronous sessions still see
        an empty list (the engine's pre-concurrency contract and the
        deterministic-oracle requirement; upstream CH does list the
        introspecting query — documented deviation)."""
        own = getattr(self._track_tls, "qid", None)
        now = _time.time()
        with self._proc_lock:
            rows = [
                (e["query_id"], e["user"],
                 round(now - e["started"], 3), e["query"],
                 e["interface"], bool(e["killed"]))
                for e in self._processes.values()
                if e["query_id"] != own
            ]
        return self._local_values_df(rows, self._PROC_COLS)

    def job_group_for(self, qid: str) -> str:
        """The per-run Spark job-group id of a live tracked query (falls
        back to the query_id itself if the query already exited) — the
        only id ``cancelJobGroup`` should ever be handed, so a stale
        cancel can never hit a successor reusing the same query_id."""
        with self._proc_lock:
            e = self._processes.get(qid)
            return e.get("jg", qid) if e else qid

    def cancel_query(self, qid: str) -> None:
        """Cancel the CURRENT run of a tracked query (wire doors call
        this when a client Cancel packet arrives mid-stream)."""
        self.spark.sparkContext.cancelJobGroup(self.job_group_for(qid))

    def _start_kill_reaper(self, qid: str, own: dict, jg: str) -> None:
        """Standing cancellation for ``KILL … ASYNC``: re-issue
        ``cancelJobGroup`` every 100 ms until the flagged entry leaves
        the process registry, so a kill that lands before the victim's
        first Spark job registers still takes effect once it does.
        Bounded as a backstop; the unique per-run group makes every
        re-cancel safe."""
        sc = self.spark.sparkContext

        def _reap():
            deadline = _time.time() + 300.0
            while _time.time() < deadline:
                with self._proc_lock:
                    if self._processes.get(qid) is not own:
                        return
                sc.cancelJobGroup(jg)
                _time.sleep(0.1)

        threading.Thread(
            target=_reap, daemon=True, name=f"tb-kill-{qid[:12]}"
        ).start()

    def _kill_query(self, c: str) -> DataFrame:
        """Upstream-CH ``KILL QUERY [WHERE …] [SYNC|ASYNC|TEST]``: the
        WHERE clause filters system.processes; each match's Spark job
        group is cancelled (``cancelJobGroup`` with interrupt-on-cancel,
        so running tasks are interrupted, not just queued ones).  ASYNC
        (the CH default) answers 'waiting'; SYNC waits for the victim to
        leave the registry and answers 'finished'; TEST lists matches
        without killing ('can_be_killed').  No match -> CH's empty
        result shape."""
        m = re.match(
            r"(?is)^kill\s+query"
            r"(?:\s+where\s+(?P<w>.*?))?"
            r"(?:\s+(?P<mode>sync|async|test))?\s*;?\s*$",
            c,
        )
        if not m:
            raise ValueError(f"cannot parse KILL QUERY: {c!r}")
        if not m.group("w"):
            # upstream CH requires the WHERE clause; a bare KILL QUERY
            # (typo / truncated script) must not mass-cancel everything
            raise ValueError(
                "KILL QUERY requires a WHERE clause "
                "(e.g. KILL QUERY WHERE query_id = '...')"
            )
        mode = (m.group("mode") or "async").lower()
        df = self._processes_snapshot_df()
        df = df.filter(F.expr(m.group("w")))
        victims = [(r.query_id, r.user) for r in df.collect()]
        out, sc = [], self.spark.sparkContext
        for qid, user in victims:
            if mode == "test":
                out.append(("can_be_killed", qid, user))
                continue
            with self._proc_lock:
                own = self._processes.get(qid)
                if own is not None:
                    own["killed"] = True
                jg = own.get("jg", qid) if own else qid
            if own is None:
                # the victim exited between the processlist snapshot and
                # now — nothing to cancel, and the SYNC wait below would
                # spin its whole deadline on `get(qid) is not None` being
                # permanently False (r12 review)
                out.append(("finished", qid, user))
                continue
            sc.cancelJobGroup(jg)
            status = "waiting"
            if mode == "sync":
                deadline = _time.time() + 10.0
                while _time.time() < deadline:
                    with self._proc_lock:
                        gone = self._processes.get(qid) is not own
                    if gone:
                        status = "finished"
                        break
                    # cancelJobGroup has no tombstone: a multi-job query
                    # between jobs at cancel time would start its next
                    # job uncancelled — re-cancel until the victim exits
                    sc.cancelJobGroup(jg)
                    _time.sleep(0.05)
            else:
                # ASYNC must be just as final: a single cancel landing
                # before the victim's first job registers (or between
                # jobs) is a silent no-op ("Cannot find active jobs"),
                # and the victim runs to completion — the VERDICT r11
                # race.  A reaper thread makes the tombstone real by
                # re-cancelling until this exact entry leaves the
                # registry; the per-run unique job group means the loop
                # can never touch a query_id-reusing successor.
                self._start_kill_reaper(qid, own, jg)
            out.append((status, qid, user))
        return self._local_values_df(
            out,
            [("kill_status", "STRING"), ("query_id", "STRING"),
             ("user", "STRING")],
        )

    def apply_setting(self, key: str, value: str) -> None:
        """One SET assignment with key and value ALREADY parsed.

        The public API for per-request settings (the HTTP front door
        passes raw URL-parameter values here, so a quote or comma inside
        the value can never be re-parsed as SQL — ADVICE r9).  ``SET``
        statements route through this too; unknown keys are
        accepted-and-ignored, matching CH leniency."""
        mapped = {
            "max_threads": "spark.sql.shuffle.partitions",
            "max_memory_usage": None,  # executor memory is launch-time
            "join_algorithm": None,  # AQE picks strategies
        }
        k, v = key.lower(), value
        if k == "optimize_target_file_bytes":
            self.storage.target_file_bytes = max(1, int(v))
        elif k == "use_query_cache":
            self._use_query_cache = v.strip().lower() in ("1", "true")
            if not self._use_query_cache:
                self._result_cache.clear()
        elif k == "max_execution_time":
            # CH: seconds, 0 disables — enforced by track_query's
            # watchdog (cancelJobGroup) + check_not_killed() in the
            # streamed-INSERT loops
            met = float(v)
            if met < 0:
                raise ValueError("max_execution_time must be >= 0")
            self._max_execution_time = met
        elif k == "uint64_storage":
            if v.lower() not in ("decimal", "reinterpret"):
                raise ValueError("uint64_storage: 'decimal' or 'reinterpret'")
            self._uint64_storage = v.lower()
        elif k.startswith("param_") and len(k) > 6:
            # CH query parameters: SET param_x = v binds {x:Type}
            self._params[k[6:]] = v
        elif k in mapped and mapped[k]:
            self.spark.conf.set(mapped[k], v)

    def sql(self, command: str) -> DataFrame:
        """Run one dialect command and log it into ``system.query_log``
        (upstream-CH's query journal; one row per top-level engine.sql call
        with kind/status/elapsed — SELECTs log dispatch+planning time, since
        Spark DataFrames execute lazily at the caller's action; documented
        difference vs CH's completion-time rows)."""
        import time as _time

        t0 = _time.perf_counter()
        km = re.match(r"\s*([A-Za-z]+)", command or "")
        kind = km.group(1).lower() if km else ""
        c_norm = (command or "").strip().rstrip(";").strip()
        cache_key = None
        if (
            self._use_query_cache
            and kind in ("select", "with")
            and not self._OUTFILE_RE.search(c_norm)
            and not re.search(r"(?is)\bsystem\.", c_norm)
            # non-deterministic queries must not be frozen at first run
            # (upstream CH default query_cache_nondeterministic_function_
            # handling='throw' refuses them; we bypass the cache instead):
            # a cached `select now()` would return the first-run timestamp
            and not self._NONDETERMINISTIC_RE.search(c_norm)
        ):
            # unqualified names resolve against the current database — it
            # is part of the result identity
            cache_key = f"{self.spark.catalog.currentDatabase()}\x1f{c_norm}"
            hit = self._result_cache.get(cache_key)
            if hit is not None and hit[0] == self._cache_version:
                _ver, pdf, schema = hit
                self._query_log.append(
                    (
                        _dt.datetime.now(), c_norm, kind, "QueryCacheHit",
                        None, round((_time.perf_counter() - t0) * 1000, 3),
                    )
                )
                return self.spark.createDataFrame(pdf, schema=schema)
        try:
            # inline processlist entry for statements that EXECUTE inside
            # the dispatch (INSERT…SELECT, OPTIMIZE, CTAS, ALTER, …) —
            # those become listable/killable.  Lazy kinds (plain SELECT:
            # dispatch only plans; the caller's action runs after this
            # scope restores the job group, so tracking them buys nothing
            # and costs six py4j property calls per statement; the front
            # doors track their own materialization instead)
            lazy = kind in (
                "select", "with", "show", "describe", "desc", "exists",
                "check", "set", "use", "explain",
            ) and not self._OUTFILE_RE.search(c_norm) and not re.match(
                r"(?is)^explain\s+analyze\b", c_norm
            )
            if lazy or getattr(self._track_tls, "depth", 0):
                out = self._dispatch(command)
            else:
                with self.track_query(c_norm or command, interface="inline"):
                    out = self._dispatch(command)
        except Exception as e:
            self._query_log.append(
                (
                    _dt.datetime.now(), command.strip(), kind,
                    "ExceptionBeforeStart", type(e).__name__,
                    round((_time.perf_counter() - t0) * 1000, 3),
                )
            )
            raise
        self._query_log.append(
            (
                _dt.datetime.now(), command.strip(), kind, "QueryFinish",
                None, round((_time.perf_counter() - t0) * 1000, 3),
            )
        )
        if cache_key is not None:
            # caching is opt-in and materializing: the result is executed
            # once here (CH's cache also stores completed result blocks).
            # Collect AT MOST max_rows+1 rows to decide cacheability — a
            # full toPandas() of an over-cap result (the 100 TB design
            # point) would OOM the driver just to decide not to cache.
            probe = out.limit(self._query_cache_max_rows + 1).toPandas()
            if len(probe) <= self._query_cache_max_rows:
                if len(self._result_cache) >= self._query_cache_max_entries:
                    self._result_cache.pop(next(iter(self._result_cache)))
                self._result_cache[cache_key] = (
                    self._cache_version, probe, out.schema
                )
                return self.spark.createDataFrame(probe, schema=out.schema)
            return out  # over the cap: skip caching, stay lazy
        if kind not in (
            # read-only verbs keep the cache epoch: exists/check/backup
            # never change table data (RESTORE does and is NOT listed);
            # system's only data-affecting verb clears the cache itself
            "select", "with", "explain", "show", "describe", "desc", "use",
            "exists", "check", "backup", "system",
        ):
            # any possibly-mutating statement starts a new cache epoch
            self._cache_version += 1
        return out

    def _dispatch(self, command: str) -> DataFrame:
        c = command.strip().rstrip(";").strip()
        if re.match(r"(?is)^(select|with)\b", c):
            # ClickHouse export surface: SELECT ... INTO OUTFILE 'p' [FORMAT x]
            # — extracted before clause preprocessing (which strips trailing
            # FORMAT as a wire directive)
            ofm = self._OUTFILE_RE.search(c)
            if ofm:
                df = self._dispatch(c[: ofm.start()])
                fmt = (ofm.group("f") or "csvwithnames").lower()
                path = ofm.group("p")
                w = df.write.mode("overwrite")
                if fmt in ("csv", "csvwithnames"):
                    w.option("header", fmt == "csvwithnames").csv(path)
                    exported = (
                        self.spark.read.schema(df.schema)
                        .option("header", fmt == "csvwithnames")
                        .csv(path)
                    )
                elif fmt in (
                    "tsv", "tabseparated", "tsvwithnames", "tabseparatedwithnames"
                ):
                    hdr = fmt.endswith("withnames")
                    w.option("header", hdr).option("sep", "\t").csv(path)
                    exported = (
                        self.spark.read.schema(df.schema)
                        .option("header", hdr).option("sep", "\t").csv(path)
                    )
                elif fmt == "parquet":
                    w.parquet(path)
                    exported = self.spark.read.parquet(path)
                elif fmt in ("jsoneachrow", "ndjson"):
                    w.json(path)
                    exported = self.spark.read.schema(df.schema).json(path)
                else:
                    raise ValueError(f"INTO OUTFILE FORMAT {fmt}: unsupported")
                # rows_exported from the files just written (a metadata-cheap
                # count over the export) — counting the source df would
                # re-execute the full query a second time
                return self.spark.createDataFrame(
                    [(exported.count(), path)], "rows_exported: long, path: string"
                )
        if re.match(r"(?is)^(select|with|explain)\b", c):
            # merge-engine FINAL must rewrite BEFORE preprocessing drops the
            # plain-append FINAL fallback (idempotent; _translate_query also
            # hooks it for inner paths like INSERT ... SELECT and MVs)
            if re.search(r"(?is)\bfinal\b", c):
                c = self._rewrite_final(c)
            c = _rewrite_array_join(_preprocess_ch_clauses(c)).strip()
            if re.search(r"(?is)\bsystem\.detached_parts\b", c):
                self._refresh_detached_parts()
                c = re.sub(
                    r"(?is)\bsystem\.detached_parts\b",
                    "global_temp.tb_system_detached_parts",
                    c,
                )
            if re.search(r"(?is)\bsystem\.parts\b", c):
                self._refresh_system_parts()
                c = re.sub(
                    r"(?is)\bsystem\.parts\b", "global_temp.tb_system_parts", c
                )
            if re.search(r"(?is)\bsystem\.(tables|columns)\b", c):
                self._refresh_system_tables()
                c = re.sub(
                    r"(?is)\bsystem\.(tables|columns)\b",
                    r"global_temp.tb_system_\1",
                    c,
                )
            if re.search(r"(?is)\bsystem\.query_log\b", c):
                self._refresh_query_log()
                c = re.sub(
                    r"(?is)\bsystem\.query_log\b",
                    "global_temp.tb_system_query_log",
                    c,
                )
            if re.search(r"(?is)\bsystem\.processes\b", c):
                # UNIQUE view per rewrite: a shared name lets a second
                # concurrent introspection swap the snapshot between this
                # rewrite and its analysis, breaking the never-lists-
                # itself contract (r10 review).  Old snapshots are GC'd
                # once a few rewrites behind (analysis binds the local
                # relation inside this dispatch, so dropping is safe).
                vname = f"tb_system_processes_{_uuid.uuid4().hex[:8]}"
                self._processes_snapshot_df().createOrReplaceGlobalTempView(
                    vname
                )
                with self._proc_lock:
                    self._proc_views.append(vname)
                    stale = (self._proc_views[:-4]
                             if len(self._proc_views) > 4 else [])
                    self._proc_views = self._proc_views[-4:]
                for old in stale:
                    try:
                        self.spark.catalog.dropGlobalTempView(old)
                    except Exception:
                        pass
                c = re.sub(
                    r"(?is)\bsystem\.processes\b",
                    f"global_temp.{vname}",
                    c,
                )
            if re.search(r"(?is)\bsystem\.settings\b", c):
                self._refresh_system_settings()
                c = re.sub(
                    r"(?is)\bsystem\.settings\b",
                    "global_temp.tb_system_settings",
                    c,
                )
            if re.search(r"(?is)\bsystem\.functions\b", c):
                self._refresh_system_functions()
                c = re.sub(
                    r"(?is)\bsystem\.functions\b",
                    "global_temp.tb_system_functions",
                    c,
                )
            if re.search(r"(?is)\bsystem\.databases\b", c):
                self.spark.createDataFrame(
                    [(d.name,) for d in self.spark.catalog.listDatabases()],
                    "name string",
                ).createOrReplaceGlobalTempView("tb_system_databases")
                c = re.sub(
                    r"(?is)\bsystem\.databases\b",
                    "global_temp.tb_system_databases",
                    c,
                )
            if re.search(r"(?is)\bsystem\.one\b", c):
                # CH's 1-row ping table (dummy UInt8 = 0): clients probe
                # liveness with `SELECT 1 FROM system.one`
                c = re.sub(
                    r"(?is)\bsystem\.one\b",
                    "(select cast(0 as smallint) as dummy)",
                    c,
                )
        low = c.lower()

        if low.startswith("create database"):
            return self._create_database(c)
        if low.startswith("create materialized view"):
            return self._create_materialized_view(c)
        if re.match(r"(?is)^create\s+(or\s+replace\s+)?view\b", low):
            return self._create_view(c)
        if low.startswith("create dictionary"):
            return self._create_dictionary(c)
        if low.startswith("drop dictionary"):
            return self._drop_dictionary(c)
        if low.strip() == "show dictionaries":
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self._dicts)] or [("",)],
                "name: string",
            ).filter("name != ''")
        if low.startswith("create table"):
            return self._create_table(c)
        if low == "show databases" or low.startswith("show tables"):
            out = self.spark.sql(c)
            if low.startswith("show tables"):
                # detached tables are parked under a reserved suffix and
                # must not surface (CH hides detached tables entirely) —
                # including the LIKE/FROM/IN variants.  endswith, not
                # LIKE: LIKE's `_` wildcard would also hide names that
                # merely end in "detached_tbl"
                out = out.filter("NOT endswith(tableName, '__detached_tbl')")
            return out
        if low.startswith(("detach table", "attach table")):
            # upstream-CH DETACH/ATTACH TABLE: the table disappears from
            # the catalog surface but its data stays on disk; ATTACH
            # restores it.  Spelled as a rename to a reserved suffix (the
            # rename machinery re-keys MVs/projections), so no data moves.
            m = re.match(
                r"(?is)^(?P<verb>detach|attach)\s+table\s+"
                r"(?P<ie>if\s+exists\s+)?(?P<name>[\w.]+)\s*$", c
            )
            if not m:
                raise ValueError(f"cannot parse: {c}")
            name = self._qualify(m.group("name"))
            parked = f"{name}__detached_tbl"
            if m.group("verb").lower() == "detach":
                if not self.spark.catalog.tableExists(name):
                    if m.group("ie"):
                        return self.spark.sql("SELECT 1 AS ok")
                    raise ValueError(f"table {name} does not exist")
                try:
                    if (
                        self.spark.catalog.getTable(name).tableType or ""
                    ).upper() == "VIEW":
                        raise ValueError(
                            f"DETACH TABLE cannot detach the view {name}"
                        )
                except ValueError:
                    raise
                except Exception:
                    pass  # temp views have no catalog entry; rename errors
                if self.spark.catalog.tableExists(parked):
                    raise ValueError(
                        f"table {name} already has a detached state"
                    )
                return self._rename_tables(f"rename table {name} to {parked}")
            if not self.spark.catalog.tableExists(parked):
                if m.group("ie"):
                    return self.spark.sql("SELECT 1 AS ok")
                raise ValueError(f"table {name} has no detached state")
            return self._rename_tables(f"rename table {parked} to {name}")
        if low.startswith("show create table"):
            return self._show_create_table(c)
        if low.startswith(("desc table", "describe table", "desc ", "describe ")):
            return self._desc_table(c)
        if low.startswith("drop"):
            return self._drop(c)
        if low.startswith("truncate table"):
            out = self.spark.sql(c)
            tm = re.match(r"(?is)^truncate\s+table\s+([\w.]+)", c)
            if tm:  # same staleness class as mutations: empty the rollups too
                self._rebuild_projections(self._qualify(tm.group(1)))
            return out
        if low.startswith("optimize table"):
            return self._optimize(c)
        if low.startswith("alter table"):
            return self._alter(c)
        if low.startswith("delete from"):
            # upstream-CH lightweight DELETE: same visible result as the
            # ALTER mutation (rows gone on the next read), executed through
            # the identical partition-selective rewrite path.  CH's
            # lightweight form differs only in WHEN the rewrite happens
            # (mask now, merge later) — a storage detail with no Spark
            # analogue worth emulating.
            dm = re.match(r"(?is)^delete\s+from\s+([\w.]+)\s+where\s+(.+)$", c)
            if not dm:
                raise ValueError(
                    "DELETE FROM requires WHERE (CH lightweight-delete contract)"
                )
            return self._alter(
                f"alter table {dm.group(1)} delete where {dm.group(2)}"
            )
        if low.startswith("kill query"):
            return self._kill_query(c)
        if low.startswith("kill mutation"):
            # ALTER mutations execute synchronously inside _alter, so a
            # pending mutation never exists — answer CH's empty result
            # shape so operational scripts run (same stance KILL QUERY
            # took before the front doors went concurrent)
            return self._local_values_df(
                [],
                [("kill_status", "STRING"), ("mutation_id", "STRING"),
                 ("database", "STRING"), ("table", "STRING")],
            )
        if low.startswith("system "):
            return self._system(c)
        if low.startswith("exists table ") or re.match(
            r"(?is)^exists\s+[\w.]+$", c
        ):
            # CH EXISTS [TABLE] t -> one UInt8 'result' row
            t = c.split()[-1]
            ok = self.spark.catalog.tableExists(self._qualify(t))
            return self.spark.createDataFrame([(1 if ok else 0,)], "result: int")
        if low.startswith("check table "):
            # CH CHECK TABLE verifies part checksums; the parquet analogue
            # is footer validation — every file's metadata must parse and
            # the footer row total must cover the files (metadata-only,
            # never a data scan)
            name = self._qualify(c.split()[-1])
            if self._catalog_table(name) is None:
                raise ValueError(f"CHECK TABLE: no table {name}")
            files = self.storage.files(name)
            return self.spark.createDataFrame(
                [(1, len(files), sum(f.rows for f in files))],
                "result: int, files: long, rows: long",
            )
        if low.startswith(("backup table ", "restore table ")):
            return self._backup_restore(c)
        if low.strip() == "show processlist":
            # live registry (concurrent front-door queries show up here;
            # the introspecting statement itself is excluded so plain
            # synchronous sessions still see an empty list); history
            # lives in system.query_log
            return self._processes_snapshot_df().select(
                "query", "elapsed", "user", "query_id", "interface"
            )
        if low.startswith(("rename table", "exchange tables")):
            return self._rename_tables(c)
        if low.startswith("use "):
            self.spark.catalog.setCurrentDatabase(c[4:].strip())
            return self.spark.sql("SELECT 1 AS ok")
        if low.startswith("set "):
            # ClickHouse session SET: map the knobs with a Spark analogue,
            # accept-and-ignore the rest (CH has ~400 settings; an engine
            # that rejects them can't run real CH scripts).  CH allows
            # multi-assignment (SET a = 1, b = 'x') — split on depth-0
            # commas so a later assignment never leaks into the prior value.
            for assign in _split_depth0(c[4:]):
                sm = re.match(r"(?is)^\s*(\w+)\s*=\s*(.+?)\s*$", assign)
                if not sm:
                    raise ValueError(f"cannot parse SET assignment: {assign!r}")
                self.apply_setting(
                    sm.group(1), sm.group(2).strip().strip("'\"")
                )
            return self.spark.sql("SELECT 1 AS ok")
        if low.startswith("explain analyze"):
            # AnalyzeExec analogue (physical_plan/analyze.rs:39): execute the
            # query, then return the final (AQE-resolved) physical plan.
            df = self.spark.sql(self._translate_query(c[len("explain analyze"):]))
            # drain the query's own execution (like AnalyzeExec consuming and
            # discarding the stream) so the AQE-final plan is observable
            from tensorbase_spark.sources.batches import result_batches

            for _ in result_batches(df):
                pass
            plan = df._jdf.queryExecution().executedPlan().toString()
            return self.spark.createDataFrame(
                [(line,) for line in plan.split("\n")], "plan: string"
            )
        if re.match(r"(?is)^explain\s+estimate\b", c):
            # CH EXPLAIN ESTIMATE: per-referenced-table part/row/byte
            # counts (not a plan) — from the parquet footers of the
            # referenced tables only, so it is metadata-only
            body = c[len("explain"):].strip()[len("estimate"):]
            refs = {
                self._qualify(t)
                for t in re.findall(r"(?is)\b(?:from|join)\s+([A-Za-z_][\w.]*)", body)
            }
            est = []
            for ref in sorted(refs):
                db, _, name = ref.rpartition(".")
                if name.endswith("__detached_tbl"):
                    continue  # CH hides detached tables from system.* too
                files = self.storage.files(ref)
                if files:
                    est.append((
                        db, name, len(files), sum(f.rows for f in files),
                        sum(f.bytes for f in files),
                    ))
            return self.spark.createDataFrame(
                est,
                "database string, table string, parts long, rows long, "
                "bytes_on_disk long",
            )
        if low.startswith("explain"):
            # CH EXPLAIN variants (PLAN/PIPELINE/SYNTAX/AST) all map to the
            # one plan surface Spark exposes
            body = re.sub(
                r"(?is)^\s*(plan|pipeline|syntax|ast)\b", "", c[len("explain"):]
            )
            return self.spark.sql("EXPLAIN " + self._translate_query(body))
        if low.startswith("insert"):
            return self._insert(c)
        # Rule::query — everything else goes to Catalyst, like the raw SQL
        # string re-parse in the reference (crates/engine/src/datafusions.rs:182).
        if re.search(r"(?is)\basof\s+(left\s+)?join\b", c):
            am = self._ASOF_RE.match(c)
            if am:
                return self._run_asof_join(am)
        if re.search(r"(?is)\bany\s+(left\s+|inner\s+)?join\b", c):
            c = self._rewrite_any_join(c)
        dom = re.match(
            r"(?is)^select\s+distinct\s+on\s*\((?P<cols>[^()]+)\)\s+(?P<rest>.+)$", c
        )
        if dom is not None:
            # ClickHouse DISTINCT ON (cols): first row per group in result
            # order — exactly LIMIT 1 BY cols, so it shares that plan (one
            # row_number window, one shuffle on the group key)
            base = f"select {dom.group('rest')}"
            om = re.search(
                r"(?is)\border\s+by\b(?P<keys>(?:[^()']|'[^']*'|\([^()]*\))*)$", base
            )
            if not om:
                raise ValueError(
                    "DISTINCT ON requires an ORDER BY for deterministic rows"
                )
            return self._run_limit_by(
                base, 1, _split_depth0(dom.group("cols")),
                _split_depth0(om.group("keys")), None,
            )
        lb = _extract_limit_by(c)
        if lb is not None:
            return self._run_limit_by(*lb)
        wf = _extract_with_fill(c)
        if wf is not None:
            return self._run_with_fill(*wf)
        return self.spark.sql(self._translate_query(c))

    def _run_limit_by(self, base_sql, n, by_cols, order_keys, final_limit):
        """ClickHouse `LIMIT n BY cols` (upstream; the fork's grammar has
        only a plain limit, bql.pest:194): keep the first n rows per group in
        result order — top-n-per-group as a clause.  Planned as ONE window
        (row_number over the BY partition in the ORDER BY order) — a single
        shuffle on the group key; the final ORDER BY + LIMIT fuses to
        TakeOrderedAndProject.  An ORDER BY is required for determinism
        (ClickHouse without it is arbitrary-order; the engine refuses)."""
        df = self.spark.sql(self._translate_query(base_sql))
        w = Window.partitionBy(*[F.expr(c) for c in by_cols]).orderBy(
            *[_order_col(k) for k in order_keys]
        )
        out = (
            df.withColumn("__lb_rn", F.row_number().over(w))
            .filter(F.col("__lb_rn") <= n)
            .drop("__lb_rn")
            .orderBy(*[_order_col(k) for k in order_keys])
        )
        return out.limit(final_limit) if final_limit is not None else out

    def _run_with_fill(self, base_sql, col, desc, frm, to, step, interp=()):
        """ClickHouse ``ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]``:
        densify the fill column over an arithmetic sequence, keeping every
        original row.  FROM is inclusive, TO exclusive (CH contract); with
        either bound omitted the observed min/max (inclusive) stand in — a
        bounded 1-row collect, like the reference's metadata lookups.

        Plan: the sequence side is a single generated literal row exploded
        (tiny by construction — a fill domain is a time axis, not data) and
        broadcast into a full outer join with the query result; non-fill
        columns take their type default (0 / '' — CH's documented fill
        behavior) in generated rows.  No data-sized shuffle is introduced:
        at 100 TB the aggregate under the fill has already reduced to the
        group cardinality before this join runs."""
        df = self.spark.sql(self._translate_query(base_sql))
        if col not in df.columns:
            raise ValueError(f"WITH FILL column {col!r} not in result")
        dt = dict(df.dtypes)[col]
        temporal = dt == "date" or dt.startswith("timestamp")
        if temporal:
            # date/timestamp axis: STEP INTERVAL n unit (default 1 day) —
            # the time-series densification WITH FILL exists for.  FROM
            # inclusive, TO exclusive (CH contract); observed max stands in
            # INCLUSIVELY when TO is omitted.
            n, unit = step if isinstance(step, tuple) else (int(step), "day")
            lo = hi = None
            if frm is None or to is None:
                lo, hi = df.agg(F.min(col), F.max(col)).first()
                if lo is None:
                    return df.orderBy(F.col(col).desc() if desc else F.col(col))
            start = F.lit(frm).cast(dt) if frm is not None else F.lit(lo)
            stop = F.lit(to).cast(dt) if to is not None else F.lit(hi)
            # bind the bounds as typed columns, then explode the sequence
            one = self.spark.range(1).select(
                start.cast(dt).alias("__fill_start"),
                stop.cast(dt).alias("__fill_stop"),
            )
            seq = one.select(
                F.explode(
                    F.expr(
                        f"sequence(__fill_start, __fill_stop, interval {n} {unit})"
                    )
                ).alias(col)
            ).select(F.col(col).cast(dt))
            if to is not None:  # exclusive upper bound
                seq = seq.filter(
                    F.col(col) < F.lit(to).cast(dt)
                    if n > 0
                    else F.col(col) > F.lit(to).cast(dt)
                )
        else:
            if frm is None or to is None:
                lo, hi = df.agg(F.min(col), F.max(col)).first()
                if lo is None:  # empty result: nothing to densify
                    return df.orderBy(F.col(col).desc() if desc else F.col(col))
                frm = int(lo) if frm is None else frm
                to = int(hi) + 1 if to is None else to
            if isinstance(step, tuple):
                raise ValueError(
                    "WITH FILL STEP INTERVAL needs a date/timestamp column"
                )
            seq = (
                self.spark.range(1)
                .select(
                    F.explode(
                        F.sequence(F.lit(frm), F.lit(to - (1 if step > 0 else -1)), F.lit(step))
                    ).alias(col)
                )
                .select(F.col(col).cast(dt))
            )
        # rows to generate = fill domain minus observed values; original rows
        # (in or out of the fill range) always survive.  Anti join broadcasts
        # the observed-value side (group-cardinality sized); full-outer is
        # avoided on purpose — Spark cannot broadcast any side of one.
        missing = seq.join(F.broadcast(df.select(col).distinct()), [col], "left_anti")
        gen_cols = []
        for name, typ in df.dtypes:
            if name == col:
                gen_cols.append(F.col(col))
                continue
            base = typ.split("(")[0]
            if name in interp:
                # INTERPOLATE: generated rows start NULL, then carry the
                # previous row's value forward below
                gen_cols.append(F.lit(None).cast(typ).alias(name))
            elif base in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"):
                gen_cols.append(F.lit(0).cast(typ).alias(name))
            elif base == "string":
                gen_cols.append(F.lit("").alias(name))
            else:
                gen_cols.append(F.lit(None).cast(typ).alias(name))
        out = df.unionByName(missing.select(*gen_cols))
        order = F.col(col).desc() if desc else F.col(col).asc()
        if interp:
            # carry-forward along the fill axis.  The single-partition window
            # is safe by construction: the frame is the (bounded) fill domain
            # plus the aggregate's group rows, not corpus data.
            w = (
                Window.orderBy(order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            for name in interp:
                if name not in df.columns:
                    raise ValueError(f"INTERPOLATE column {name!r} not in result")
                out = out.withColumn(name, F.last(name, ignorenulls=True).over(w))
        return out.orderBy(order)

    # -- DDL ----------------------------------------------------------------

    def _create_database(self, c: str) -> DataFrame:
        m = _CREATE_DB_RE.match(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        ine = "IF NOT EXISTS " if m.group(1) else ""
        return self.spark.sql(f"CREATE DATABASE {ine}{m.group(2)}")

    _CTAS_RE = re.compile(
        r"(?is)^create\s+table\s+(?P<ine>if\s+not\s+exists\s+)?"
        r"(?P<name>[\w.]+)\s+as\s+(?P<q>(select|with)\b.*)$"
    )

    _CLONE_RE = re.compile(
        r"(?is)^create\s+table\s+(?P<ine>if\s+not\s+exists\s+)?"
        r"(?P<name>[\w.]+)\s+as\s+(?P<src>[\w.]+)\s*$"
    )

    def _create_table(self, c: str) -> DataFrame:
        # CH schema clone: CREATE TABLE b AS a (no SELECT) copies the
        # structure — columns, partition expr, settings — with NO data
        # (upstream-CH; distinct from CTAS below, which matches only when
        # the AS body is a query).  Realized by re-running the source's
        # stored create script under the new name.
        km = self._CLONE_RE.match(c)
        if km and not re.match(r"(?is)^(select|with)$", km.group("src")):
            name = self._qualify(km.group("name"))
            if km.group("ine") and self.spark.catalog.tableExists(name):
                return self.spark.sql("SELECT 1 AS ok")
            src = self._qualify(km.group("src"))
            script = self._create_scripts.get(src) or self._table_props(src).get(
                "tb.create_script"
            )
            if not script:
                raise ValueError(
                    f"{src}: CREATE TABLE ... AS <table> requires an "
                    "engine-created source (no stored create script)"
                )
            new_script = re.sub(
                r"(?is)^(create\s+table\s+)(?:if\s+not\s+exists\s+)?[\w.]+",
                rf"\g<1>{name}",
                script,
            )
            return self._create_table(new_script)
        # CTAS (beyond the reference: bql.pest:31-54 only has column-list
        # CREATE; standard-SQL convenience, schema inferred from the query)
        cm = self._CTAS_RE.match(c)
        if cm:
            name = self._qualify(cm.group("name"))
            if cm.group("ine") and self.spark.catalog.tableExists(name):
                return self.spark.sql("SELECT 1 AS ok")
            df = self.sql(cm.group("q"))
            df.write.saveAsTable(name)
            self._bql_cols_cache.pop(name, None)
            return self.spark.sql("SELECT 1 AS ok")
        m = _match_create_table(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        is_ine, raw_name, cols_text, tail = m
        name = self._qualify(raw_name)
        ine = "IF NOT EXISTS " if is_ine else ""

        cols: list[tuple[str, str]] = []  # (name, bql type)
        bloom_cols: list[str] = []
        for part in _split_top_level_args(cols_text):
            # ClickHouse skip-index entry: INDEX name col TYPE bloom_filter
            # [GRANULARITY n] (upstream-CH; the reference has no skip
            # indexes).  Maps to parquet-native bloom filters written per
            # row group on that column — the same point-lookup skipping a
            # CH bloom_filter index provides, at the storage layer Spark
            # already prunes with.
            im = re.match(
                r"(?is)^\s*index\s+\w+\s+(?P<col>\w+)\s+type\s+"
                r"(?P<it>\w+)(?:\s*\(.*?\))?(?:\s+granularity\s+\d+)?\s*$",
                part,
            )
            if im:
                if im.group("it").lower() in ("bloom_filter", "tokenbf_v1", "ngrambf_v1"):
                    bloom_cols.append(im.group("col"))
                # minmax/set indexes: parquet column statistics already
                # give min/max row-group skipping — accepted, no-op
                continue
            toks = part.strip().split(None, 1)
            if len(toks) != 2:
                raise ValueError(f"cannot parse column def: {part!r}")
            ctype = toks[1]
            if self._uint64_storage == "reinterpret":
                # stamp the session choice into the stored spelling so the
                # table's physical type is decided ONCE at CREATE (SURVEY
                # §1.2 'decide-early') and every later reader/writer —
                # including a fresh engine — sees it (types.ParsedType.
                # reinterp has the semantics ledger).  Top-level UInt64 /
                # Nullable(UInt64) ONLY: parse_bql_type carries no reinterp
                # flag for Array/Map/Tuple elements, so stamping a composite
                # would lose the two's-complement wrap on insert (values >=
                # 2^63 -> NULL) — composites keep the lossless Decimal(20,0)
                # default instead (ADVICE r7 #2).
                ctype = re.sub(
                    r"(?i)^(\s*)(uint64)\b(?!reinterp)",
                    r"\1UInt64Reinterp",
                    ctype,
                )
                ctype = re.sub(
                    r"(?i)^(\s*nullable\s*\(\s*)(uint64)(?!reinterp)(\s*\))",
                    r"\1UInt64Reinterp\3",
                    ctype,
                )
            cols.append((toks[0], ctype))

        pm = _PARTITION_BY_RE.search(tail)
        spec = parse_partition_expr(pm.group("expr")) if pm else None

        # SETTINGS k=v, ... (grammar bql.pest:31-54).  The reference treats
        # settings as opaque storage hints; here bucket_by/buckets map to
        # Spark bucketing — the co-located-join lever: two tables bucketed on
        # the same key with the same bucket count join with ZERO Exchange.
        settings: dict[str, str] = {}
        sm = _SETTINGS_RE.search(tail)
        if sm:
            for kv in sm.group("kv").split(","):
                k, _, v = kv.partition("=")
                if k.strip():
                    settings[k.strip().lower()] = v.strip().strip("'\"")
        bucket_sql = ""
        if "bucket_by" in settings:
            bcol = settings["bucket_by"]
            nb = int(settings.get("buckets", "8"))
            bucket_sql = f" CLUSTERED BY ({bcol}) SORTED BY ({bcol}) INTO {nb} BUCKETS"
        sample_by = settings.get("sample_by")

        # CODEC(...) annotations: CH picks a per-COLUMN compression; parquet
        # compression is per-FILE, so the first general-purpose codec named
        # anywhere in the table becomes the table's parquet codec (encoding
        # codecs like Delta/DoubleDelta/Gorilla are already covered by
        # parquet's native encodings and stay no-ops).
        _CODEC_MAP = {
            "zstd": "zstd", "lz4": "lz4", "lz4hc": "lz4",
            "gzip": "gzip", "snappy": "snappy", "none": "uncompressed",
        }
        compression = settings.get("codec")
        for _cn, ctype in cols:
            if compression:
                break
            cm_ = re.search(r"(?is)\bcodec\s*\(\s*(\w+)", ctype)
            if cm_ and cm_.group(1).lower() in _CODEC_MAP:
                compression = cm_.group(1).lower()
        opt_sql = (
            f" OPTIONS ('compression' = '{_CODEC_MAP[compression]}')"
            if compression and compression in _CODEC_MAP
            else ""
        )

        col_sql = []
        for cname, ctype in cols:
            p = parse_bql_type(ctype)
            null_sql = "" if p.nullable else " NOT NULL"
            col_sql.append(f"{cname} {p.spark_type.simpleString()}{null_sql}")
        part_sql = ""
        cols_txt = ", ".join(f"{cn} {ct}" for cn, ct in cols)
        props = [
            f"'tb.create_script' = '{c.replace(chr(39), chr(39)*2)}'",
            f"'tb.columns' = '{cols_txt.replace(chr(39), chr(39)*2)}'",
        ]
        if spec is not None:
            ptk_type = "bigint" if spec.fn else dict(cols).get(spec.source_col)
            if spec.fn is None:
                ptk_type = parse_bql_type(ptk_type).spark_type.simpleString()
            col_sql.append(f"{PTK_COL} {ptk_type}")
            part_sql = f" PARTITIONED BY ({PTK_COL})"
            expr_txt = pm.group("expr")
            props.append(f"'tb.partition_expr' = '{expr_txt}'")
        if sample_by:
            props.append(f"'tb.sample_by' = '{sample_by}'")
        if bloom_cols:
            props.append(f"'tb.bloom_cols' = '{','.join(bloom_cols)}'")
        om = _ORDER_BY_DDL_RE.search(tail)
        if om:
            ob = _strip_outer_parens(om.group("e")).replace("'", "''")
            props.append(f"'tb.order_by' = '{ob}'")
        # ENGINE = ReplacingMergeTree([ver]) / SummingMergeTree([cols]):
        # merge-semantics table engines (upstream-CH; the reference's only
        # engine is BaseStorage, mgmt.rs).  Storage stays plain parquet
        # appends; the MERGE RESULT is served by the FROM ... FINAL rewrite
        # (_rewrite_final) and materialized by OPTIMIZE ... FINAL.
        em = re.search(
            r"(?is)\bengine\s*=\s*(?P<eng>\w+)"
            # args may contain one nesting level: currentDatabase(), rand()
            r"(?:\s*\(\s*(?P<args>[^()]*(?:\([^()]*\)[^()]*)*?)\s*\))?", tail
        )
        if em:
            eng_name = em.group("eng")
            props.append(f"'tb.engine' = '{eng_name}'")
            args = (em.group("args") or "").strip()
            if eng_name.lower() in ("distributed", "buffer"):
                # Alias engines (upstream-CH): both are placement/buffering
                # layers over a TARGET table.  On one Spark cluster the
                # "remote shards" / "flush target" IS the local target, so
                # the faithful single-process semantics are: reads see the
                # target (a VIEW), writes land in the target immediately
                # (Buffer's flush thresholds are a durability-neutral
                # optimization; Distributed's sharding_key is a placement
                # hint — both accepted and recorded, neither changes
                # results).  At real cluster scale the Spark analogue of
                # Distributed is simply the shared-metastore table itself.
                a = [x.strip().strip("'\"") for x in _split_depth0(args)]
                if eng_name.lower() == "distributed":
                    if len(a) < 3:
                        raise ValueError(
                            "Distributed needs (cluster, db, table[, sharding_key])"
                        )
                    tdb, ttbl = a[1], a[2]
                else:
                    if len(a) < 2:
                        raise ValueError("Buffer needs (db, table, ...)")
                    tdb, ttbl = a[0], a[1]
                if re.fullmatch(r"(?is)currentdatabase\s*\(\s*\)", tdb):
                    tdb = self.spark.catalog.currentDatabase()
                target = f"{tdb}.{ttbl}"
                if not self.spark.catalog.tableExists(target):
                    raise ValueError(
                        f"{eng_name} target table does not exist: {target}"
                    )
                tcols = [
                    col
                    for col in self.spark.table(target).columns
                    if col != PTK_COL
                ]
                # the target is persisted as a view property so a FRESH
                # engine over the same warehouse can rebuild the redirect
                # (insert_df / DROP would otherwise hit the bare view —
                # ADVICE r6 #3)
                esc = c.replace("'", "\\'")
                kind = eng_name.lower()
                layers = ""
                if kind == "buffer" and len(a) > 2 and a[2].strip().isdigit():
                    # num_layers doubles as the pending-block flush budget
                    # (_buffer_flush_blocks) — CH's layer count is likewise
                    # its write-buffer parallelism knob
                    layers = f", 'tb.buffer_layers' = '{a[2].strip()}'"
                self.spark.sql(
                    f"CREATE VIEW {name} "
                    f"TBLPROPERTIES ('tb.alias_target' = '{target}', "
                    f"'tb.alias_kind' = '{kind}'{layers}, "
                    f"'tb.create_script' = '{esc}') "
                    f"AS SELECT {', '.join(tcols)} FROM {target}"
                )
                self._alias_targets[name] = target  # name is qualified here
                self._alias_kinds[name] = kind
                self._create_scripts[name] = c
                return self.spark.sql("SELECT 1 AS ok")
            if eng_name.lower() == "replacingmergetree" and args:
                props.append(f"'tb.ver_col' = '{args}'")
            elif eng_name.lower() == "summingmergetree" and args:
                props.append(f"'tb.sum_cols' = '{args}'")
            elif eng_name.lower() == "versionedcollapsingmergetree":
                if len([a for a in args.split(",") if a.strip()]) != 2:
                    raise ValueError(
                        "VersionedCollapsingMergeTree needs (sign, version)"
                    )
                props.append(f"'tb.collapse_cols' = '{args}'")
            elif eng_name.lower() == "collapsingmergetree":
                # plain Collapsing FINAL depends on INSERTION order ("the
                # last written +1 survives"), which parquet appends do not
                # preserve; the versioned variant is the deterministic
                # spelling this engine supports
                raise ValueError(
                    "CollapsingMergeTree: use "
                    "VersionedCollapsingMergeTree(sign, version) — plain "
                    "collapsing's 'last written row wins' depends on "
                    "insertion order, which this storage does not preserve"
                )
            if eng_name.lower() == "aggregatingmergetree":
                agg_pairs = [
                    f"{cn}:{parse_bql_type(ct).agg_fn}"
                    for cn, ct in cols
                    if parse_bql_type(ct).agg_fn
                ]
                if agg_pairs:
                    props.append(f"'tb.agg_fns' = '{','.join(agg_pairs)}'")
        tm = _TTL_DDL_RE.search(tail)
        if tm:
            ttl = tm.group("e").strip().replace("'", "''")
            props.append(f"'tb.ttl' = '{ttl}'")

        ddl = (
            f"CREATE TABLE {ine}{name} ({', '.join(col_sql)}) USING parquet"
            f"{opt_sql}{part_sql}{bucket_sql} TBLPROPERTIES ({', '.join(props)})"
        )
        self._reconcile_orphan_location(name)
        out = self.spark.sql(ddl)
        self._bql_cols_cache.pop(name, None)
        if spec is not None:
            self._partition_specs[name] = spec
        self._create_scripts[name] = c
        return out

    def _reconcile_orphan_location(self, name: str) -> None:
        """Remove a crash-orphaned managed-table location before CREATE.
        A query KILLed (or a process dying) mid-write can leave the
        table's warehouse directory on disk after the catalog entry is
        gone; Spark then refuses the next CREATE with
        LOCATION_ALREADY_EXISTS.  Upstream CH reconciles disk state on
        CREATE after a crash — match that, but ONLY when the catalog
        confirms no table owns the path (never touch a live table's
        data)."""
        import shutil

        if self.spark.catalog.tableExists(name):
            return  # IF NOT EXISTS path / genuine conflict: let Spark act
        db, _, tab = name.rpartition(".")
        db = db or self.spark.catalog.currentDatabase()
        try:
            loc = self.spark.catalog.getDatabase(db).locationUri
        except Exception:
            return  # unknown database: CREATE will raise the right error
        if not loc.startswith("file:"):
            return  # only local managed warehouses are reconciled
        path = _os.path.join(loc[len("file:"):], tab.lower())
        if not _os.path.isdir(path):
            return
        # NAME absence is not PATH absence: an external table registered
        # under a different name — in ANY database, not just the target
        # one (r13 advice) — may own this exact location; never touch a
        # directory any live table points at
        try:
            for d in self.spark.catalog.listDatabases():
                for t in self.spark.catalog.listTables(d.name):
                    # listTables(db) also returns TEMP VIEWS, which have
                    # no database: a temp view cannot own a warehouse path
                    if t.isTemporary:
                        continue
                    meta = self._catalog_table(f"{d.name}.{t.name}")
                    uri = None if meta is None else meta.storage().locationUri()
                    if (
                        uri is not None
                        and uri.isDefined()
                        and uri.get().getPath().rstrip("/").endswith(path.rstrip("/"))
                    ):
                        return
        except Exception:
            return  # cannot prove the path is orphaned: leave it alone
        # Move the orphan ASIDE rather than deleting it: the proof above
        # covers the catalog, but nothing can prove a path isn't shared
        # out-of-catalog — a rename unblocks CREATE while keeping the
        # bytes recoverable (r13 advice)
        for i in range(1000):
            aside = f"{path.rstrip('/')}.orphan-{i}"
            if not _os.path.exists(aside):
                try:
                    _os.rename(path, aside)
                    return
                except OSError:
                    # a transient EACCES/EBUSY (or a racing creator of the
                    # aside name) must not destroy the bytes the rename set
                    # out to keep recoverable — try the next aside name
                    # (r13 ADVICE)
                    continue
        raise RuntimeError(
            f"cannot move orphan directory {path} aside: all "
            ".orphan-N names are taken or renames failed; clear them "
            "manually before re-creating a table at this location"
        )

    def _show_create_table(self, c: str) -> DataFrame:
        name = self._qualify(c.split()[-1])
        script = self._create_scripts.get(name)
        if script is None:
            script = self._table_props(name).get("tb.create_script")
        if script is None:
            return self.spark.sql(f"SHOW CREATE TABLE {name}")
        return self.spark.createDataFrame([(script,)], "statement: string")

    def _desc_table(self, c: str) -> DataFrame:
        """Name/type/nullable rows from stored metadata (the reference's DESC
        also reads the metastore, mgmt.rs:532 — parquet file-source schemas
        come back force-nullable, so the catalog props are authoritative).
        ``DESCRIBE (SELECT ...)`` (upstream-CH) describes the QUERY's
        output schema instead — analysis only, nothing executes."""
        body = re.sub(r"(?is)^\s*desc(?:ribe)?\s+(?:table\s+)?", "", c).strip()
        if body.startswith("("):
            # dispatch the inner query through the full SELECT path so
            # system.* rewrites and every clause pass apply (a DESCRIBE
            # must accept exactly what a SELECT accepts)
            df = self._dispatch(body[1:-1].strip())
            return self.spark.createDataFrame(
                [
                    (f.name, f.dataType.simpleString(), f.nullable)
                    for f in df.schema.fields
                ],
                "col_name: string, data_type: string, nullable: boolean",
            )
        name = self._qualify(c.split()[-1])
        cols_txt = self._table_props(name).get("tb.columns")
        if cols_txt:
            fields = []
            for part in _split_top_level_args(cols_txt):
                cname, ctype = part.strip().split(None, 1)
                p = parse_bql_type(ctype)
                fields.append((cname, p.spark_type.simpleString(), p.nullable))
        else:
            fields = [
                (f.name, f.dataType.simpleString(), f.nullable)
                for f in self.spark.table(name).schema.fields
                if f.name != PTK_COL
            ]
        return self.spark.createDataFrame(
            fields, "col_name: string, data_type: string, nullable: boolean"
        )

    def _drop(self, c: str) -> DataFrame:
        m = _DROP_RE.match(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        ie = "IF EXISTS " if m.group("ie") else ""
        kind = m.group("kind").upper()
        name = m.group("name")
        if kind in ("TABLE", "VIEW") and self._param_views.pop(
            self._qualify(name), None
        ) is not None:
            # parameterized views live in the engine dict, not the catalog
            return self.spark.sql("SELECT 1 AS ok")
        if kind == "TABLE":
            q = self._qualify(name)
            if self._resolve_alias(q) != q:  # Distributed/Buffer are views
                if self._alias_kind(q) == "buffer":
                    self.flush_buffer(q)  # CH flushes Buffer on drop
                self._alias_targets.pop(q, None)
                self._alias_kinds.pop(q, None)
                self._buffer_pending.pop(q, None)
                return self.spark.sql(f"DROP VIEW {ie}{name}")
            try:  # DROP TABLE on any other persistent view: CH accepts it
                if (
                    self.spark.catalog.tableExists(q)
                    and (self.spark.catalog.getTable(q).tableType or "").upper()
                    == "VIEW"
                ):
                    return self.spark.sql(f"DROP VIEW {ie}{name}")
            except Exception:
                pass
            self._partition_specs.pop(q, None)
            self._bql_cols_cache.pop(q, None)
            for spec in self._projections.pop(q, []):  # projections die too
                self.spark.sql(f"DROP TABLE IF EXISTS {spec.table}")
            self._mvs.pop(q, None)
            return self.spark.sql(f"DROP TABLE {ie}{name}")
        if kind == "VIEW":
            return self.spark.sql(f"DROP VIEW {ie}{name}")
        return self.spark.sql(f"DROP DATABASE {ie}{name} CASCADE")

    _CREATE_VIEW_RE = re.compile(
        r"(?is)^create\s+(?P<orr>or\s+replace\s+)?view\s+"
        r"(?P<ine>if\s+not\s+exists\s+)?(?P<name>[\w.]+)\s+as\s+(?P<q>.+)$"
    )

    def _create_view(self, c: str) -> DataFrame:
        """Plain (non-materialized) CREATE VIEW — upstream-CH's stored-query
        view: the body is translated through the dialect layer ONCE at
        definition time and stored as Spark view text, so reads expand it
        like CH substitutes the view's SELECT.  (Materialized views are the
        separate _create_materialized_view trigger machinery.)"""
        m = self._CREATE_VIEW_RE.match(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        if self._PARAM_RE.search(m.group("q")):
            # upstream-CH PARAMETERIZED view: the body keeps its
            # {name:Type} placeholders and binds them per call site
            # (SELECT * FROM v(p = 3)); stored as raw text, translated at
            # read time after substitution.  The name must be free in
            # BOTH homes (engine dict + catalog); OR REPLACE evicts both.
            if m.group("ine") and (
                name in self._param_views
                or self.spark.catalog.tableExists(name)
            ):
                return self.spark.sql("SELECT 1 AS ok")
            if not m.group("orr") and (
                name in self._param_views
                or self.spark.catalog.tableExists(name)
            ):
                raise ValueError(f"view {name} already exists")
            if m.group("orr"):
                self.spark.sql(f"DROP VIEW IF EXISTS {name}")
            self._param_views[name] = m.group("q").strip()
            return self.spark.sql("SELECT 1 AS ok")
        if m.group("ine") and (
            self.spark.catalog.tableExists(name)
            or name in self._param_views
        ):
            return self.spark.sql("SELECT 1 AS ok")
        if name in self._param_views:
            if not m.group("orr"):
                raise ValueError(f"view {name} already exists")
            self._param_views.pop(name, None)  # OR REPLACE evicts it
        orr = "OR REPLACE " if m.group("orr") else ""
        body = self._translate_query(m.group("q"))
        return self.spark.sql(f"CREATE {orr}VIEW {name} AS {body}")

    def _optimize(self, c: str) -> DataFrame:
        """Parquet compaction: one file per (partition, shuffle task) — real
        work, unlike the reference's flush-only OPTIMIZE (mgmt.rs:938).

        ``OPTIMIZE TABLE t SORT BY col[, col]`` additionally sorts rows
        within each rewritten file, so parquet row-group min/max statistics
        become selective on the sort columns — subsequent range predicates
        prune row groups inside partitions (the engine's answer to the
        reference's implicit append-order locality, and the standard
        compaction-time accelerator at 100 TB).

        A declared DDL ``ORDER BY`` becomes the default sort when no SORT
        BY/ZORDER BY is given, and a declared ``TTL expr`` deletes expired
        rows during the rewrite — CH's merge-time TTL semantics exactly
        (rows past expiry linger until a merge; OPTIMIZE [FINAL] forces
        one)."""
        m = re.match(
            r"(?is)^optimize\s+table\s+(?P<name>[A-Za-z_][A-Za-z0-9_.]*)"
            r"(?:\s+final)?"
            r"(?:\s+sort\s+by\s+(?P<sort>.+?)|\s+zorder\s+by\s+(?P<z>.+?))?"
            r"(?:\s+deduplicate(?:\s+by\s+(?P<dedup>.+?))?)?\s*$",
            c,
        )
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        if self._alias_kind(name) == "buffer":
            # CH: OPTIMIZE on a Buffer table flushes it to the target
            self.flush_buffer(name)
            return self.spark.sql("SELECT 1 AS ok")
        if self._merges_stopped_for(name):
            # CH: OPTIMIZE cannot proceed while merges are stopped for the
            # table (SYSTEM STOP MERGES); fail loudly rather than queue
            raise ValueError(
                f"merges are stopped for {name} (SYSTEM START MERGES to resume)"
            )
        df = self.spark.table(name)
        props0 = self._table_props(name)
        eng0 = (props0.get("tb.engine") or "").lower()
        if re.search(r"(?is)\bfinal\b", c) and eng0 in (
            "replacingmergetree", "summingmergetree",
            "aggregatingmergetree", "versionedcollapsingmergetree",
        ):
            # OPTIMIZE ... FINAL on a merge-semantics engine MATERIALIZES
            # the merge (CH forces an unscheduled merge): after this, plain
            # reads equal FINAL reads.  Per-partition, like CH merges.
            df = self._merged_result_df(name, df, props0, eng0)
        if m.group("dedup") is not None or re.search(r"(?is)\bdeduplicate\b", c):
            # CH OPTIMIZE ... DEDUPLICATE [BY cols]: drop exact-duplicate
            # rows during the merge rewrite (all columns, or the BY list)
            if m.group("dedup"):
                keys = [k.strip() for k in _split_depth0(m.group("dedup"))]
                df = df.dropDuplicates(keys)
            else:
                df = df.dropDuplicates(
                    [col for col in df.columns if col != PTK_COL]
                )
        spec = self._spec_for(name)
        props = self._table_props(name)
        ttl = props.get("tb.ttl")
        if ttl:
            # keep rows whose expiry lies in the future; NULL expiry keeps
            # the row (CH contract for NULL TTL values)
            expiry = translate_sql(ttl)
            df = df.filter(
                F.expr(f"({expiry}) > current_timestamp()")
                | F.expr(f"({expiry}) is null")
            )
        if m.group("z"):
            self._optimize_zorder(name, df, spec, m.group("z"))
        else:
            if spec:
                tmp = df.repartition(F.col(PTK_COL))
            else:
                # size-based compaction: one shuffle task per
                # target-file-size slice.  coalesce(1) here would be a
                # single-task full-table rewrite — a scale-killer at 100 TB
                # for any unpartitioned table; a byte-budgeted repartition
                # keeps the rewrite wide and the output files merge-sized.
                tmp = df.repartition(self._rewrite_file_count(name))
            sort_txt = m.group("sort") or props.get("tb.order_by")
            if sort_txt:
                keys = [_order_col(k) for k in _split_depth0(sort_txt)]
                tmp = tmp.sortWithinPartitions(*keys)
            self.storage.rewrite(name, tmp)
        if ttl:  # the rewrite dropped expired rows — refresh hidden rollups
            self._rebuild_projections(name)
        return self.spark.sql("SELECT 1 AS ok")

    def _rewrite_file_count(self, name: str) -> int:
        """Output files of a size-budgeted rewrite: the table's bytes on
        disk (file metadata only; a real metastore supplies them from
        stats) over ``optimize_target_file_bytes``."""
        nbytes = sum(f.bytes for f in self.storage.files(name))
        return max(1, -(-nbytes // self.storage.target_file_bytes))

    _MV_RE = re.compile(
        r"(?is)^create\s+materialized\s+view\s+(?P<mv>[\w.]+)\s+to\s+"
        r"(?P<tgt>[\w.]+)\s+(?P<pop>populate\s+)?as\s+(?P<sel>select\b.+)$"
    )

    def _create_materialized_view(self, c: str) -> DataFrame:
        """ClickHouse ``CREATE MATERIALIZED VIEW mv TO tgt AS SELECT ...
        FROM src`` (upstream-CH; beyond the reference's append-only storage).
        CH semantics preserved exactly: the view is an INSERT TRIGGER — the
        SELECT runs over each inserted BLOCK only, never over existing data,
        and the (partial) result appends to ``tgt``.  Readers re-aggregate
        the target (sum of partial sums), which is why MV selects use
        re-aggregatable functions.  This is the continuous-aggregation lever
        at ingest scale: each block's aggregation is map-side-sized, and the
        target grows with group cardinality, not row count."""
        m = self._MV_RE.match(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        mv = self._qualify(m.group("mv"))
        tgt = self._qualify(m.group("tgt"))
        sel = m.group("sel").strip()
        fm = re.search(r"(?is)\bfrom\s+([A-Za-z_][\w.]*)", sel)
        if not fm:
            raise ValueError("materialized view SELECT needs a FROM table")
        src = self._qualify(fm.group(1))
        if not self.spark.catalog.tableExists(tgt):
            raise ValueError(f"TO table {tgt} must exist (CH contract)")
        self._mvs.setdefault(src, []).append((mv, tgt, sel, fm.group(1)))
        if m.group("pop"):
            # POPULATE: backfill the target from the source's EXISTING rows
            # once at creation (upstream-CH; rows inserted DURING the
            # backfill can be missed there — here creation is synchronous,
            # so the documented CH caveat does not arise)
            self.insert_df(tgt, self.spark.sql(self._translate_query(sel)))
        return self.spark.sql("SELECT 1 AS ok")

    def _create_dictionary(self, c: str) -> DataFrame:
        """Upstream-CH ``CREATE DICTIONARY d (key T, attr T [DEFAULT lit],
        ...) PRIMARY KEY key SOURCE(CLICKHOUSE(TABLE 't' [DB 'db']))
        LAYOUT(...) LIFETIME(...)``.

        LAYOUT and LIFETIME are accepted and ignored: layout picks CH's
        in-RAM hash structure and lifetime its refresh cadence — here every
        lookup's scalar subquery reads the live source table, so the
        dictionary is always "fresh" and the layout is Catalyst's broadcast
        map.  Attribute types are validated as BQL types; declared DEFAULTs
        feed the dictGet missing-key result (CH contract)."""
        m = _CREATE_DICT_RE.match(c.strip())
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        if name in self._dicts:
            if m.group("ine"):
                return self.spark.sql("SELECT 1 AS ok")
            raise ValueError(f"dictionary {name} already exists")
        key = m.group("key").strip()
        if "," in key:
            raise ValueError(
                "composite PRIMARY KEY dictionaries are not supported "
                "(use a join for multi-column lookups)"
            )
        src_body = m.group("src")
        tm = re.search(r"(?is)\btable\s+'([^']+)'", src_body)
        if not tm:
            raise ValueError("SOURCE(CLICKHOUSE(...)) needs TABLE '...'")
        dbm = re.search(r"(?is)\bdb\s+'([^']+)'", src_body)
        # a bare table name resolves at lookup time like any Spark reference
        # (temp views included) — only an explicit DB pins the database
        source = f"{dbm.group(1)}.{tm.group(1)}" if dbm else tm.group(1)
        attrs: dict[str, tuple[str, str | None]] = {}
        for part in _split_top_level_args(m.group("cols")):
            cm = re.match(
                r"(?is)^\s*(?P<col>\w+)\s+(?P<typ>[\w()0-9, ]+?)"
                r"(?:\s+default\s+(?P<dflt>.+?))?\s*$",
                part,
            )
            if not cm:
                raise ValueError(f"cannot parse dictionary column: {part!r}")
            parse_bql_type(cm.group("typ").strip())  # validate
            attrs[cm.group("col")] = (
                cm.group("typ").strip(),
                cm.group("dflt").strip() if cm.group("dflt") else None,
            )
        if key not in attrs:
            raise ValueError(f"PRIMARY KEY {key} is not a declared column")
        self._dicts[name] = DictionarySpec(name, key, source, attrs)
        return self.spark.sql("SELECT 1 AS ok")

    def _drop_dictionary(self, c: str) -> DataFrame:
        m = re.match(
            r"(?is)^drop\s+dictionary\s+(?P<ie>if\s+exists\s+)?(?P<name>[\w.]+)\s*$",
            c.strip(),
        )
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        if name not in self._dicts and not m.group("ie"):
            raise ValueError(f"no such dictionary: {name}")
        self._dicts.pop(name, None)
        return self.spark.sql("SELECT 1 AS ok")

    def _dict_spec(self, name_lit: str) -> DictionarySpec:
        name = name_lit.strip().strip("'\"")
        spec = self._dicts.get(self._qualify(name)) or self._dicts.get(name)
        if spec is None:
            raise ValueError(f"no such dictionary: {name}")
        return spec

    _DICT_TYPED_CASTS = {
        "string": "string", "int8": "tinyint", "int16": "smallint",
        "int32": "int", "int64": "bigint", "uint8": "smallint",
        "uint16": "int", "uint32": "bigint", "uint64": "bigint",
        "float32": "float", "float64": "double",
        "date": "date", "datetime": "timestamp",
    }

    def _rewrite_dict_funcs(self, q: str) -> str:
        """Rewrite dictGet/dictGet<Type>[OrDefault|OrNull]/dictHas calls to
        scalar-subquery map lookups (see DictionarySpec).  The lookup map is
        built from a ``GROUP BY key`` subquery, so duplicate source keys
        cannot trip Spark's duplicate-map-key check (CH leaves duplicates
        undefined; ``max`` makes it deterministic here)."""
        while True:
            m = _DICT_CALL_RE.search(q)
            if m is None:
                return q
            # matching close paren, quote-aware
            depth, j, n = 1, m.end(), len(q)
            while j < n and depth:
                if q[j] in "'\"":
                    quote = q[j]
                    j += 1
                    while j < n and q[j] != quote:
                        j += 1
                elif q[j] == "(":
                    depth += 1
                elif q[j] == ")":
                    depth -= 1
                j += 1
            fname = q[m.start() : m.end() - 1].strip().lower()
            args = [
                self._rewrite_dict_funcs(a)
                for a in _split_top_level_args(q[m.end() : j - 1])
            ]
            spec = self._dict_spec(args[0])
            if fname == "dicthas":
                repl = (
                    f"array_contains((select collect_set({spec.key}) "
                    f"from {spec.source}), {args[1]})"
                )
            else:
                fm = re.match(
                    r"^dictget(?P<typ>[a-z0-9]*?)(?P<suffix>ordefault|ornull)?$",
                    fname,
                )
                if not fm:
                    raise ValueError(f"unsupported dictionary function: {fname}")
                typ, suffix = fm.group("typ"), fm.group("suffix")
                attr = args[1].strip().strip("'\"")
                if attr not in spec.attrs:
                    raise ValueError(
                        f"dictionary {spec.name} has no attribute {attr}"
                    )
                lookup = (
                    f"element_at((select map_from_entries(collect_list("
                    f"struct(k, v))) from (select {spec.key} as k, "
                    f"max({attr}) as v from {spec.source} "
                    f"group by {spec.key})), {args[2]})"
                )
                if suffix == "ornull":
                    repl = lookup
                elif suffix == "ordefault":
                    if len(args) < 4:
                        raise ValueError(f"{fname} needs a default argument")
                    repl = f"coalesce({lookup}, {args[3]})"
                else:
                    declared = spec.attrs[attr][1]
                    dflt = declared or _dict_type_default(spec.attrs[attr][0])
                    repl = (
                        lookup if dflt == "null"
                        else f"coalesce({lookup}, {dflt})"
                    )
                if typ:
                    cast_to = self._DICT_TYPED_CASTS.get(typ)
                    if cast_to is None:
                        raise ValueError(f"unsupported dictGet type: {typ}")
                    repl = f"cast({repl} as {cast_to})"
            q = q[: m.start()] + repl + q[j:]

    def _propagate_mvs(self, name: str, block: DataFrame) -> None:
        """Run every materialized view registered on ``name`` over the
        just-inserted block and append the partial result to its target."""
        for mv, tgt, sel, src_txt in self._mvs.get(name, []):
            view = f"__mv_block_{abs(hash(mv)) % 10**8}"
            block.createOrReplaceTempView(view)
            # swap the source table reference for the block view (depth-0
            # word-boundary replace keeps subquery/internal idents intact)
            sel_block = re.sub(
                rf"(?is)\b(from|join)\s+{re.escape(src_txt)}\b",
                rf"\1 {view}",
                sel,
            )
            # the block's OWN session, not self.spark: under foreachBatch the
            # batch DataFrame lives in a micro-batch-scoped session clone,
            # and its temp view is invisible from the parent session
            self.insert_df(
                tgt, block.sparkSession.sql(self._translate_query(sel_block))
            )

    _PROJ_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}

    def _alter_partition(self, name: str, verb: str, rest: str) -> DataFrame:
        """ClickHouse partition management (upstream-CH `ALTER TABLE ...
        {DROP|DETACH|ATTACH|MOVE} PARTITION 'v'`; the reference's storage
        has no partition ops at all — parts.rs only tracks sizes):

        - DROP PARTITION 'v'        — metadata-only directory drop;
        - DETACH PARTITION 'v'      — partition rows parked under
          `<warehouse>/<table>__detached/<v>` then dropped (CH's detached/
          dir), I/O ∝ one partition;
        - ATTACH PARTITION 'v'      — parked rows re-appended, parking dir
          removed;
        - MOVE PARTITION 'v' TO TABLE t2 — rows appended to t2 (schemas
          aligned by name), then dropped from the source.

        Every verb touches exactly one partition directory — never a table
        scan — and refreshes registered projections afterward."""
        import shutil

        # a quoted value may hold spaces ('2021-03-14 02:30:00'); a bare
        # one is a single token
        pm = re.match(
            r"(?is)^(?:'(?P<q>[^']*)'|(?P<v>[^'\s]+))"
            r"(?:\s+to\s+table\s+(?P<tgt>[\w.]+))?\s*$",
            (rest or "").strip(),
        )
        if not pm:
            raise ValueError(f"cannot parse: {verb.upper()} PARTITION {rest!r}")
        if self._spec_for(name) is None:
            raise ValueError(f"{name} is not partitioned")
        v = pm.group("v") if pm.group("q") is None else pm.group("q")
        wh = self.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        parked = f"{wh}/{name}__detached/{v}"  # name keeps its db.table dot
        part_rows = self.spark.table(name).filter(
            F.col(PTK_COL).cast("string") == v
        )

        if verb == "move":
            tgt = self._qualify(pm.group("tgt") or "")
            if not pm.group("tgt"):
                raise ValueError("MOVE PARTITION needs TO TABLE target")
            # CH requires identical structure for MOVE PARTITION: a target
            # with a DIFFERENT partition expression would inherit a wrong
            # __ptk from the source rows
            src_expr = self._table_props(name).get("tb.partition_expr")
            tgt_expr = self._table_props(tgt).get("tb.partition_expr")
            if tgt_expr != src_expr:
                # CH requires identical structure — an unpartitioned target
                # (tgt_expr None) has a different layout too, and appending
                # one partition's rows into it would be a silent mismatch
                raise ValueError(
                    f"MOVE PARTITION: {name} and {tgt} have different "
                    f"partition expressions ({src_expr!r} vs {tgt_expr!r})"
                )
            cols = self.spark.table(tgt).columns
            part_rows.select(*cols).write.insertInto(tgt)
            self._rebuild_projections(tgt)
        elif verb == "detach":
            # append, never overwrite: CH accumulates detached parts under
            # unique names — detach v, re-insert v, detach v again must
            # keep BOTH parked batches (overwrite silently destroyed the
            # first); ATTACH reads the whole parked directory back
            part_rows.drop(PTK_COL).write.mode("append").parquet(parked)
        elif verb == "attach":
            import os

            if not os.path.isdir(parked):
                raise ValueError(f"{name}: no detached partition {v!r}")
            order = [c for c in self.spark.table(name).columns if c != PTK_COL]
            self.insert_df(name, self.spark.read.parquet(parked).select(*order))
            shutil.rmtree(parked, ignore_errors=True)
            self._rebuild_projections(name)
            return self.spark.sql("SELECT 1 AS ok")

        self.storage.drop_partition(name, v)
        self._rebuild_projections(name)
        return self.spark.sql("SELECT 1 AS ok")

    def _rebuild_projections(self, name: str) -> None:
        """Re-derive every registered projection's hidden table from the
        post-mutation base table.  ClickHouse rewrites projection parts as
        part of every mutation; here the mutation paths (ALTER DELETE/
        UPDATE, TTL expiry at OPTIMIZE/MATERIALIZE TTL, MODIFY/DROP/RENAME
        COLUMN) call this so _try_projection_rewrite can never route a
        GROUP BY to stale pre-mutation aggregates.  A projection whose
        SELECT no longer analyzes (e.g. its dim or agg column was dropped
        or renamed) is unregistered — queries fall back to the base table,
        CH's behavior for broken projections being to refuse the mutation;
        dropping the acceleration instead keeps results correct without
        blocking schema evolution."""
        specs = self._projections.get(name)
        if not specs:
            return
        mv_name_of = {s.name: f"{name}__proj_{s.name}" for s in specs}
        # unregister during the rebuild so each SELECT reads the BASE table
        self._projections[name] = []
        kept: list[ProjectionSpec] = []
        try:
            for spec in specs:
                sel = next(
                    (t[2] for t in self._mvs.get(name, [])
                     if t[0] == mv_name_of[spec.name]),
                    None,
                )
                if sel is None:
                    continue
                try:
                    self.spark.sql(self._translate_query(sel)).write.mode(
                        "overwrite"
                    ).saveAsTable(spec.table)
                    kept.append(spec)
                except Exception:
                    # select no longer valid against the mutated base —
                    # drop the projection and its insert trigger
                    self._mvs[name] = [
                        t for t in self._mvs.get(name, [])
                        if t[0] != mv_name_of[spec.name]
                    ]
                    self.spark.sql(f"DROP TABLE IF EXISTS {spec.table}")
        finally:
            self._projections[name] = kept

    def _alter_projection(self, name: str, verb: str, rest: str) -> DataFrame:
        """``ALTER TABLE t ADD PROJECTION p (SELECT dims..., aggs... GROUP
        BY dims)`` / ``DROP PROJECTION p`` / ``MATERIALIZE PROJECTION p``
        (see ProjectionSpec).  ADD builds the hidden table from existing
        data immediately (CH defers to MATERIALIZE; eager is the simpler
        contract) and registers maintenance through the MV trigger path —
        every subsequent insert appends one partial row-group."""
        pm = re.match(
            r"(?is)^(?P<p>\w+)\s*(?:\(\s*(?P<body>select\s+.+)\)\s*)?$",
            rest or "",
        )
        if not pm:
            raise ValueError(f"cannot parse: {verb.upper()} PROJECTION {rest!r}")
        p = pm.group("p")
        mv_name = f"{name}__proj_{p}"
        existing = [s for s in self._projections.get(name, []) if s.name == p]

        if verb == "drop":
            if not existing:
                raise ValueError(f"{name}: no such projection {p}")
            spec = existing[0]
            self._projections[name] = [
                s for s in self._projections[name] if s.name != p
            ]
            self._mvs[name] = [
                t for t in self._mvs.get(name, []) if t[0] != mv_name
            ]
            self.spark.sql(f"DROP TABLE IF EXISTS {spec.table}")
            return self.spark.sql("SELECT 1 AS ok")

        if verb == "materialize":
            if not existing:
                raise ValueError(f"{name}: no such projection {p}")
            spec = existing[0]
            sel = next(t[2] for t in self._mvs[name] if t[0] == mv_name)
            # unregister during the rebuild so the SELECT reads the BASE
            # table (the projection rewrite would otherwise route it to the
            # very table being overwritten)
            all_specs = self._projections[name]
            self._projections[name] = [s for s in all_specs if s.name != p]
            try:
                self.spark.sql(self._translate_query(sel)).write.mode(
                    "overwrite"
                ).saveAsTable(spec.table)
            finally:
                self._projections[name] = all_specs
            return self.spark.sql("SELECT 1 AS ok")

        # ADD
        if existing:
            raise ValueError(f"{name}: projection {p} already exists")
        bm = re.match(
            r"(?is)^select\s+(?P<items>.+?)\s+group\s+by\s+(?P<dims>.+)$",
            (pm.group("body") or "").strip(),
        )
        if not bm:
            raise ValueError(
                "ADD PROJECTION needs (SELECT dims..., aggs... GROUP BY dims)"
            )
        dims = []
        for d in _split_depth0(bm.group("dims")):
            if not re.match(r"^[A-Za-z_]\w*$", d.strip()):
                raise ValueError(
                    f"projection dims must be plain columns: {d!r}"
                )
            dims.append(d.strip().lower())
        aggs: dict = {}
        sel_items = []
        for it in _split_top_level_args(bm.group("items")):
            s = it.strip()
            if s.lower() in dims:
                sel_items.append(s)
                continue
            am = re.match(
                r"(?is)^(?P<fn>sum|count|min|max)\s*\((?P<arg>[^()]*|\*)\)"
                r"(?:\s+as\s+(?P<alias>\w+))?$",
                s,
            )
            if not am:
                raise ValueError(
                    f"projection aggregates support sum/count/min/max: {s!r}"
                )
            fn = am.group("fn").lower()
            key = _norm_agg(f"{fn}({am.group('arg')})")
            arg_id = re.sub(r"\W+", "_", am.group("arg").strip()) or "all"
            alias = am.group("alias") or (
                "cnt_all" if key == "count(*)" else f"{fn}_{arg_id}"
            )
            aggs[key] = (alias, self._PROJ_MERGE[fn])
            sel_items.append(f"{key} as {alias}")
        proj_table = f"{name}__proj_{p}"
        sel = (
            f"select {', '.join(sel_items)} from {name} "
            f"group by {', '.join(dims)}"
        )
        # no projection named p is registered on THIS engine, so any
        # same-named hidden table is stale debris from a previous engine
        # instance (projection registries are per-engine, like _mvs)
        self.spark.sql(f"DROP TABLE IF EXISTS {proj_table}")
        self.spark.sql(self._translate_query(sel)).write.saveAsTable(proj_table)
        self._projections.setdefault(name, []).append(
            ProjectionSpec(p, proj_table, tuple(dims), aggs)
        )
        # maintenance rides the MV trigger: per-block partial append
        self._mvs.setdefault(name, []).append((mv_name, proj_table, sel, name))
        return self.spark.sql("SELECT 1 AS ok")

    _PROJ_Q_RE = re.compile(
        r"(?is)^\s*select\s+(?P<items>.+?)\s+from\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+where\s+(?P<w>.+?))?"
        r"\s+group\s+by\s+(?P<g>.+?)"
        r"(?P<rest>\s+(?:having|order\s+by|limit)\b.*)?$"
    )
    _PROJ_COND_WORDS = frozenset(
        "and or not in between like is null true false".split()
    )

    def _try_projection_rewrite(self, q: str) -> str:
        """Automatic projection use (see ProjectionSpec): rewrite a simple
        single-table GROUP BY over a projection's dims to re-aggregate the
        hidden partial table.  Conservative by construction — any shape it
        cannot prove falls back to the base table."""
        if re.search(r"(?is)\b(join|union|intersect|except|distinct)\b", q):
            return q
        if re.search(r"(?is)\(\s*select\b", q):
            return q
        m = self._PROJ_Q_RE.match(q)
        if not m:
            return q
        specs = self._projections.get(self._qualify(m.group("tbl")))
        if not specs:
            return q
        gcols = [c.strip().lower() for c in _split_depth0(m.group("g"))]
        items = _split_top_level_args(m.group("items"))
        rest = m.group("rest") or ""
        w = m.group("w")
        for spec in specs:
            if not set(gcols) <= set(spec.dims):
                continue
            if w is not None:
                idents = {
                    t.lower()
                    for t in re.findall(
                        r"[A-Za-z_]\w*", re.sub(r"'[^']*'", "", w)
                    )
                } - self._PROJ_COND_WORDS
                if not idents <= set(spec.dims):
                    continue  # non-dim filter: partials would double-count
            new_items, ok = [], True
            for it in items:
                s = it.strip()
                dm = re.match(r"(?is)^([A-Za-z_]\w*)(\s+as\s+\w+)?$", s)
                if dm and dm.group(1).lower() in spec.dims:
                    new_items.append(s)
                    continue
                am = re.match(r"(?is)^(?P<e>.+?)\s+as\s+(?P<a>\w+)$", s)
                if not am:
                    ok = False
                    break
                e = am.group("e").strip()
                # round(agg, n) distributes over the merge — unwrap it
                rm_ = re.match(
                    r"(?is)^round\s*\(\s*(?P<inner>.+)\s*,\s*(?P<n>\d+)\s*\)$", e
                )
                inner = rm_.group("inner") if rm_ else e
                hit = spec.aggs.get(_norm_agg(inner))
                if not hit:
                    ok = False
                    break
                pcol, mfn = hit
                expr = f"{mfn}({pcol})"
                if _norm_agg(inner).startswith("count("):
                    expr = f"cast({expr} as bigint)"
                if rm_:
                    expr = f"round({expr}, {rm_.group('n')})"
                new_items.append(f"{expr} as {am.group('a')}")
            if not ok:
                continue
            new_rest = rest
            if "(" in rest:
                # HAVING/ORDER BY tails with raw agg calls: each call must
                # itself be a registered projection aggregate, rewritten to
                # its merged form; anything unprovable falls back to base
                sel_aliases = {
                    a.lower()
                    for a in re.findall(r"(?is)\s+as\s+(\w+)", m.group("items"))
                }
                new_rest = self._merge_agg_tail(rest, spec, sel_aliases)
                if new_rest is None:
                    continue
            where_sql = f" where {w}" if w else ""
            return (
                f"select {', '.join(new_items)} from {spec.table}"
                f"{where_sql} group by {m.group('g')}{new_rest}"
            )
        return q

    def _merge_agg_tail(
        self, tail: str, spec: "ProjectionSpec", aliases: set
    ) -> str | None:
        """Rewrite raw aggregate calls in a HAVING/ORDER BY/LIMIT tail to
        their merged forms over the hidden partial table (``sum(x)`` ->
        ``sum(sum_x)``); return None unless EVERY call is a registered
        projection aggregate (or round() over one) and every bare
        identifier is a dim, a select alias, or a keyword — the
        conservative contract of the rewriter.  A select alias that
        SHADOWS the partial column (``sum(x) as sum_x``) no longer bails:
        the merged call table-qualifies the column
        (``sum(<hidden>.sum_x)``), which pins resolution to the input."""
        out, i, n = [], 0, len(tail)
        while i < n:
            ch = tail[i]
            if ch in "'\"":
                j = i + 1
                while j < n and tail[j] != ch:
                    j += 1
                out.append(tail[i : j + 1])
                i = j + 1
                continue
            cm = re.compile(r"[A-Za-z_]\w*\s*\(").match(tail, i)
            if cm:
                depth, j = 1, cm.end()
                while j < n and depth:
                    if tail[j] in "'\"":
                        qch = tail[j]
                        j += 1
                        while j < n and tail[j] != qch:
                            j += 1
                    elif tail[j] == "(":
                        depth += 1
                    elif tail[j] == ")":
                        depth -= 1
                    j += 1
                call = tail[i:j]
                fname = call[: call.index("(")].strip().lower()
                if fname == "round":
                    parts = _split_top_level_args(call[call.index("(") + 1 : -1])
                    if len(parts) != 2:
                        return None
                    sub = self._merge_agg_tail(parts[0], spec, aliases)
                    if sub is None:
                        return None
                    out.append(f"round({sub}, {parts[1]})")
                else:
                    hit = spec.aggs.get(_norm_agg(call))
                    if not hit:
                        return None
                    pcol, mfn = hit
                    if pcol.lower() in aliases:
                        # a select alias shadows the hidden partial column —
                        # Spark resolves a bare mfn(pcol) in an ORDER BY
                        # tail against the OUTPUT aggregate (MISSING_
                        # ATTRIBUTES); TABLE-qualifying the column forces
                        # resolution to the hidden table's input column
                        pcol = f"{spec.table}.{pcol}"
                    expr = f"{mfn}({pcol})"
                    if _norm_agg(call).startswith("count("):
                        expr = f"cast({expr} as bigint)"
                    out.append(expr)
                i = j
                continue
            im = re.compile(r"[A-Za-z_]\w*").match(tail, i)
            if im:
                tok = im.group(0).lower()
                if (
                    tok not in self._PROJ_COND_WORDS
                    and tok
                    not in ("having", "order", "by", "limit", "asc", "desc",
                            "nulls", "first", "last")
                    and tok not in spec.dims
                    and tok not in aliases
                ):
                    return None
                out.append(im.group(0))
                i = im.end()
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    _QUERY_LOG_SCHEMA = (
        "event_time timestamp, query string, query_kind string, "
        "type string, exception string, query_duration_ms double"
    )

    def _refresh_query_log(self) -> None:
        """Materialize ``system.query_log`` from this engine's in-memory
        journal (bounded: one tuple per top-level sql() call; the current
        query is appended after dispatch, so it never sees itself)."""
        self.spark.createDataFrame(
            self._query_log, self._QUERY_LOG_SCHEMA
        ).createOrReplaceGlobalTempView("tb_system_query_log")

    def _backup_restore(self, c: str) -> DataFrame:
        """Upstream-CH ``BACKUP TABLE t TO Disk('name', 'path')`` /
        ``RESTORE TABLE t FROM Disk('name', 'path')`` (plain ``TO 'path'``
        accepted too).  A backup is the table's live parquet files
        byte-for-byte plus its create script (the same pair CH snapshots: parts +
        metadata SQL); RESTORE re-runs the stored DDL and copies the files
        back, then MSCK-repairs so copied partition directories register.
        File copy, never a data job — the CH contract (backups are IO,
        not queries)."""
        import os
        import shutil

        m = re.match(
            r"(?is)^(?P<verb>backup|restore)\s+table\s+(?P<name>[\w.]+)\s+"
            r"(?:to|from)\s+(?:disk\s*\(\s*'[^']*'\s*,\s*'(?P<p2>[^']+)'\s*\)"
            r"|'(?P<p1>[^']+)')\s*$",
            c,
        )
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        path = m.group("p2") or m.group("p1")
        if m.group("verb").lower() == "backup":
            meta = self._catalog_table(name)
            if meta is None:
                raise ValueError(f"BACKUP: no table {name}")
            if os.path.exists(path):
                raise ValueError(
                    f"backup target exists: {path} (CH refuses to overwrite)"
                )
            # the live files only, each partition's under its canonical
            # directory, wherever the catalog locates it: RESTORE's MSCK
            # REPAIR registers those directories
            for f in self.storage.files(name):
                d = os.path.join(path, "data", "" if f.partition is None
                                 else self.storage.partition_dir(f.partition))
                os.makedirs(d, exist_ok=True)
                shutil.copy2(f.path, d)
            os.makedirs(os.path.join(path, "data"), exist_ok=True)
            script = self._create_scripts.get(name) or self._table_props(
                name
            ).get("tb.create_script")
            if not script:
                raise ValueError(f"no create script recorded for {name}")
            with open(os.path.join(path, "create.sql"), "w") as f:
                f.write(script)
            nfiles = len(live_files(os.path.join(path, "data")))
            return self.spark.createDataFrame(
                [(1, nfiles, path)], "result: int, files: long, path: string"
            )
        # RESTORE: target table must not exist (CH contract)
        if self.spark.catalog.tableExists(name):
            raise ValueError(f"restore target exists: {name}")
        with open(os.path.join(path, "create.sql")) as f:
            script = f.read()
        # re-point the stored DDL at the restore target name
        script = re.sub(
            r"(?is)^(create\s+table\s+(?:if\s+not\s+exists\s+)?)[\w.]+",
            rf"\g<1>{name}",
            script.strip(),
        )
        self.sql(script)
        loc = self._catalog_table(name).location().getPath()
        shutil.rmtree(loc, ignore_errors=True)
        shutil.copytree(os.path.join(path, "data"), loc)
        if self._spec_for(name) is not None:
            self.spark.sql(f"MSCK REPAIR TABLE {name}")
        self.spark.catalog.refreshTable(name)
        n = self.spark.table(name).count()
        return self.spark.createDataFrame(
            [(1, n)], "result: int, rows: long"
        )

    def _system(self, c: str) -> DataFrame:
        """Upstream-CH ``SYSTEM`` maintenance verbs (the reference has no
        SYSTEM surface; its mgmt.rs commands stop at DDL).  Only verbs with
        a real engine-side effect do work; the rest are accepted no-ops with
        the reason documented, mirroring how CH scripts treat them as
        fire-and-forget:

        - ``SYSTEM DROP QUERY CACHE`` — clears the result cache (real).
        - ``SYSTEM STOP/START MERGES [t]`` — gates OPTIMIZE (the engine's
          only merge analogue); CH likewise makes OPTIMIZE wait/fail while
          merges are stopped.
        - ``SYSTEM FLUSH LOGS`` — no-op: system.query_log here is
          synchronous (appended at call time), there is no buffer to flush.
        - ``SYSTEM RELOAD DICTIONARY name | DICTIONARIES`` — validation-only:
          dictGet rewrites to a scalar subquery over the CURRENT source rows
          at each query, so every lookup is already a fresh read; CH needs
          the reload because it snapshots sources into RAM.
        """
        m = re.match(
            r"(?is)^system\s+(?P<verb>drop\s+query\s+cache|flush\s+logs"
            r"|reload\s+dictionaries|reload\s+dictionary|stop\s+merges"
            r"|start\s+merges)(?:\s+(?P<arg>[\w.]+))?\s*$",
            c,
        )
        if not m:
            raise ValueError(f"cannot parse SYSTEM command: {c}")
        verb = re.sub(r"\s+", " ", m.group("verb").lower())
        arg = m.group("arg")
        if verb == "drop query cache":
            self._result_cache.clear()
            self._cache_version += 1
        elif verb == "stop merges":
            self._merges_stopped.add(self._qualify(arg) if arg else "*")
        elif verb == "start merges":
            self._merges_stopped.discard(self._qualify(arg) if arg else "*")
        elif verb == "reload dictionary":
            if not arg or arg not in self._dicts:
                raise ValueError(f"unknown dictionary: {arg}")
        # flush logs / reload dictionaries: accepted no-ops (see docstring)
        return self.spark.sql("SELECT 1 AS ok")

    def _alter(self, c: str) -> DataFrame:
        """ClickHouse mutations + light schema evolution (upstream-CH
        surface; the reference's storage is strictly append-only — beyond
        reference, kept because production CH corpora rely on them):

        - ``ALTER TABLE t DELETE WHERE cond``
        - ``ALTER TABLE t UPDATE col = expr[, ...] WHERE cond``
        - ``ALTER TABLE t ADD COLUMN name BqlType``

        Mutations rewrite data PARTITION-SELECTIVELY: the WHERE derives a
        ``__ptk`` predicate exactly like reads do, so only affected partition
        directories are read and rewritten (dynamic partition overwrite);
        partitions the mutation fully empties are dropped via
        DROP PARTITION.  I/O ∝ affected partitions — the same contract CH
        mutations have (rewrite touched parts, not the table)."""
        m = re.match(
            r"(?is)^alter\s+table\s+(?P<name>[\w.]+)\s+"
            r"(?P<kind>delete|update|add\s+column|drop\s+column|rename\s+column"
            r"|modify\s+column|modify\s+ttl|materialize\s+ttl"
            r"|add\s+projection|drop\s+projection|materialize\s+projection"
            r"|drop\s+partition|detach\s+partition|attach\s+partition"
            r"|move\s+partition|modify\s+setting|reset\s+setting"
            r"|comment\s+column|modify\s+comment)"
            r"(?:\s+(?P<rest>.+))?$",
            c,
        )
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        kind = re.sub(r"\s+", " ", m.group("kind").lower())
        rest = (m.group("rest") or "").strip()

        if kind in ("drop column", "rename column", "modify column"):
            return self._alter_columns(name, kind, rest)

        if kind.endswith("projection"):
            return self._alter_projection(name, kind.split()[0], rest)

        if kind.endswith("partition"):
            return self._alter_partition(name, kind.split()[0], rest)

        if kind in ("modify setting", "reset setting"):
            # CH per-table SETTINGS mutation: stored as tb.setting.<k>
            # TBLPROPERTIES (the same place CREATE ... SETTINGS lands);
            # RESET clears.  Accept-and-record like session SET — settings
            # with a Spark analogue act where they are read (bucket_by,
            # optimize_target_file_bytes), the rest are CH storage knobs
            # with no parquet meaning.
            if kind == "modify setting":
                for assign in _split_depth0(rest):
                    sm2 = re.match(r"(?is)^\s*(\w+)\s*=\s*(.+?)\s*$", assign)
                    if not sm2:
                        raise ValueError(f"cannot parse SETTING: {assign!r}")
                    k2, v2 = sm2.group(1).lower(), sm2.group(2).strip("'\"")
                    self.spark.sql(
                        f"ALTER TABLE {name} SET TBLPROPERTIES "
                        f"('tb.setting.{k2}' = '{v2}')"
                    )
            else:
                for k2 in [x.strip().lower() for x in rest.split(",") if x.strip()]:
                    self.spark.sql(
                        f"ALTER TABLE {name} UNSET TBLPROPERTIES IF EXISTS "
                        f"('tb.setting.{k2}')"
                    )
            return self.spark.sql("SELECT 1 AS ok")

        if kind in ("comment column", "modify comment"):
            # CH comments: table comment / per-column comment — stored as
            # TBLPROPERTIES so SHOW CREATE/DESC surfaces survive sessions
            if kind == "modify comment":
                txt = rest.strip().strip("'\"").replace("'", "''")
                self.spark.sql(
                    f"ALTER TABLE {name} SET TBLPROPERTIES ('comment' = '{txt}')"
                )
            else:
                cm2 = re.match(r"(?is)^(\w+)\s+'((?:[^']|'')*)'\s*$", rest)
                if not cm2:
                    raise ValueError(f"cannot parse COMMENT COLUMN: {rest!r}")
                self.spark.sql(
                    f"ALTER TABLE {name} SET TBLPROPERTIES "
                    f"('tb.comment.{cm2.group(1)}' = '{cm2.group(2)}')"
                )
            return self.spark.sql("SELECT 1 AS ok")

        if kind == "modify ttl":
            if not rest:
                raise ValueError("ALTER ... MODIFY TTL needs an expression")
            ttl = rest.replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE {name} SET TBLPROPERTIES ('tb.ttl' = '{ttl}')"
            )
            script = self._create_scripts.get(name)
            if script:  # SHOW CREATE TABLE stays authoritative
                if _TTL_DDL_RE.search(script):
                    script = _TTL_DDL_RE.sub(f"ttl {rest} ", script).rstrip()
                else:
                    sm0 = _SETTINGS_RE.search(script)
                    if sm0:
                        script = (
                            script[: sm0.start()].rstrip()
                            + f" ttl {rest} "
                            + script[sm0.start():]
                        )
                    else:
                        script = script.rstrip() + f" ttl {rest}"
                self._create_scripts[name] = script
            return self.spark.sql("SELECT 1 AS ok")

        if kind == "materialize ttl":
            # apply the expiry now: the same rewrite OPTIMIZE performs (CH
            # MATERIALIZE TTL also rewrites affected parts)
            return self._optimize(f"optimize table {name}")

        if kind == "add column":
            toks = rest.split(None, 1)
            if len(toks) != 2:
                raise ValueError(f"cannot parse column def: {rest!r}")
            cname, ctype = toks
            p = parse_bql_type(ctype)
            self.spark.sql(
                f"ALTER TABLE {name} ADD COLUMNS ({cname} {p.spark_type.simpleString()})"
            )
            cols_txt = self._table_props(name).get("tb.columns")
            if cols_txt:  # keep DESC TABLE authoritative
                new_txt = f"{cols_txt}, {cname} {ctype}".replace("'", "''")
                self.spark.sql(
                    f"ALTER TABLE {name} SET TBLPROPERTIES ('tb.columns' = '{new_txt}')"
                )
            return self.spark.sql("SELECT 1 AS ok")

        if kind == "delete":
            wm = re.match(r"(?is)^where\s+(?P<cond>.+)$", rest)
            if not wm:
                raise ValueError("ALTER ... DELETE requires WHERE")
            cond = translate_sql(wm.group("cond"))
            assigns: list[tuple[str, str]] = []
        else:
            wm = re.search(r"(?is)\bwhere\s+(?P<cond>.+)$", rest)
            if not wm:
                raise ValueError("ALTER ... UPDATE requires WHERE (CH contract)")
            cond = translate_sql(wm.group("cond"))
            assigns = []
            for part in _split_depth0(rest[: wm.start()]):
                col, _, expr = part.partition("=")
                if not col.strip() or not expr.strip():
                    raise ValueError(f"cannot parse assignment: {part!r}")
                assigns.append((col.strip(), translate_sql(expr.strip())))

        df = self.spark.table(name)
        spec = self._spec_for(name)
        ptk_pred = _derive_ptk_predicate(spec, cond) if spec else None
        affected = df.filter(ptk_pred) if ptk_pred else df
        hit = F.coalesce(F.expr(cond), F.lit(False))
        if kind == "delete":
            new = affected.filter(~hit)
        else:
            amap = dict(assigns)
            out_cols = []
            for col in df.columns:
                if col in amap:
                    out_cols.append(
                        F.when(hit, F.expr(amap[col]))
                        .otherwise(F.col(col))
                        .cast(df.schema[col].dataType)
                        .alias(col)
                    )
                else:
                    out_cols.append(F.col(col))
            new = affected.select(*out_cols)

        self.storage.rewrite(name, new, where=ptk_pred)
        # CH rewrites projection parts with every mutation — keep the
        # hidden rollups consistent with the post-mutation base
        self._rebuild_projections(name)
        return self.spark.sql("SELECT 1 AS ok")

    def _rename_tables(self, c: str) -> DataFrame:
        """``RENAME TABLE a TO b[, c TO d]`` and ``EXCHANGE TABLES a AND b``
        (upstream-CH catalog ops; the reference's meta layer has only
        create/drop, mgmt.rs:802-814).  Pure metadata: Spark's catalog
        rename moves no data for the rename itself; EXCHANGE is the
        atomic-swap spelling, realized as rename through a temp name."""
        low = re.sub(r"\s+", " ", c.strip().lower())
        if low.startswith("exchange tables"):
            m = re.match(
                r"(?is)^exchange\s+tables\s+(?P<a>[\w.]+)\s+and\s+(?P<b>[\w.]+)\s*$",
                c,
            )
            if not m:
                raise ValueError(f"cannot parse: {c}")
            a, b = self._qualify(m.group("a")), self._qualify(m.group("b"))
            tmp = f"{a}__xchg_tmp"
            pairs = [(a, tmp), (b, a), (tmp, b)]
        else:
            pairs = []
            for part in c.strip()[len("rename table"):].split(","):
                pm = re.match(r"(?is)^\s*(?P<a>[\w.]+)\s+to\s+(?P<b>[\w.]+)\s*$", part)
                if not pm:
                    raise ValueError(f"cannot parse rename pair: {part!r}")
                pairs.append(
                    (self._qualify(pm.group("a")), self._qualify(pm.group("b")))
                )
        for src, dst in pairs:
            self.spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
            for reg in (
                self._partition_specs, self._bql_cols_cache, self._create_scripts
            ):
                reg.pop(dst, None)
                if src in reg:
                    reg[dst] = reg.pop(src)
            # materialized views follow the rename: re-key views whose
            # SOURCE is the renamed table (the stored SELECT/src_as_written
            # keep the old spelling — _propagate_mvs swaps that exact text
            # for the block view, so they keep firing on inserts into the
            # new name), and re-point views whose TARGET is the renamed
            # table so rollups keep landing in the moved table.
            if src in self._mvs:
                self._mvs[dst] = self._mvs.pop(src)
            if src in self._projections:
                # hidden projection tables keep their (derived) names; the
                # registry key follows so rewrite + maintenance keep working
                self._projections[dst] = self._projections.pop(src)
            for key, views in self._mvs.items():
                self._mvs[key] = [
                    (mv, dst if tgt == src else tgt, sel, src_txt)
                    for mv, tgt, sel, src_txt in views
                ]
            script = self._create_scripts.get(dst)
            if script:  # keep SHOW CREATE TABLE authoritative
                self._create_scripts[dst] = re.sub(
                    r"(?is)^(create\s+table\s+(?:if\s+not\s+exists\s+)?)[\w.]+",
                    rf"\g<1>{dst}",
                    script,
                )
        return self.spark.sql("SELECT 1 AS ok")

    def _alter_columns(self, name: str, kind: str, rest: str) -> DataFrame:
        """CH light-weight schema changes beyond ADD COLUMN:
        ``DROP COLUMN col`` / ``RENAME COLUMN old TO new`` /
        ``MODIFY COLUMN col NewType`` (upstream-CH; the reference's meta
        layer is create/drop-table only, mgmt.rs).

        Key columns are refused like CH refuses mutating its partition /
        sorting keys: the partition-expr source column and any bucket_by
        column cannot be dropped or renamed.  The rewrite is one eager pass
        (CH rewrites affected parts lazily; same I/O bound — every part
        holds the column), re-created under the SAME partition/bucket
        layout from a regenerated create script, so DESC TABLE /
        SHOW CREATE TABLE stay authoritative."""
        script = self._create_scripts.get(name) or self._table_props(name).get(
            "tb.create_script"
        )
        if not script:
            raise ValueError(
                f"{name}: ALTER {kind.upper()} requires an engine-created "
                "table (no stored create script)"
            )
        new_type = None
        if kind == "drop column":
            old, new = rest.split()[0].strip(), None
        elif kind == "modify column":
            mm = re.match(r"(?is)^(?P<col>\w+)\s+(?P<typ>.+?)\s*$", rest)
            if not mm:
                raise ValueError(f"cannot parse: MODIFY COLUMN {rest!r}")
            old, new = mm.group("col"), None
            new_type = mm.group("typ")
            parse_bql_type(new_type)  # validate before any rewrite
        else:
            rm = re.match(r"(?is)^(?P<old>\w+)\s+to\s+(?P<new>\w+)\s*$", rest)
            if not rm:
                raise ValueError(f"cannot parse: RENAME COLUMN {rest!r}")
            old, new = rm.group("old"), rm.group("new")

        spec = self._spec_for(name)
        if spec is not None and spec.source_col.lower() == old.lower():
            raise ValueError(f"{old} is the partition key source column")
        sm = _SETTINGS_RE.search(script)
        if sm and re.search(
            rf"(?i)bucket_by\s*=\s*['\"]?{re.escape(old)}\b", sm.group("kv")
        ):
            raise ValueError(f"{old} is the bucket key column")

        parsed = _match_create_table(script)
        if not parsed:
            raise ValueError(f"{name}: cannot re-parse stored create script")
        _ine, _raw, cols_text, tail = parsed
        script_parts = [p.strip() for p in _split_top_level_args(cols_text)]
        index_parts = [
            p for p in script_parts if p.lower().startswith("index ")
        ]
        # column defs come from tb.columns (authoritative: ADD COLUMN updates
        # it but not the original script), index entries from the script
        cols_txt = self._table_props(name).get("tb.columns")
        col_parts = (
            [p.strip() for p in _split_top_level_args(cols_txt)]
            if cols_txt
            else [p for p in script_parts if not p.lower().startswith("index ")]
        )
        new_parts, hit = [], False
        for part in col_parts:
            toks = part.split(None, 1)
            if len(toks) == 2 and toks[0].lower() == old.lower():
                hit = True
                if kind == "rename column":
                    new_parts.append(f"{new} {toks[1]}")
                elif kind == "modify column":
                    new_parts.append(f"{toks[0]} {new_type}")
            else:
                new_parts.append(part)
        if not hit:
            raise ValueError(f"{name}: no such column {old}")
        if kind == "drop column" and len(new_parts) == 0:
            raise ValueError(f"{name}: cannot drop the last column")
        # keep skip-index entries consistent: an INDEX on the dropped column
        # goes away with it; on a renamed column it follows the new name
        fixed_idx = []
        for p in index_parts:
            im = re.match(r"(?is)^(index\s+\w+\s+)(\w+)(\s+.*)$", p)
            if im and im.group(2).lower() == old.lower():
                if kind == "drop column":
                    continue
                p = f"{im.group(1)}{new}{im.group(3)}"
            fixed_idx.append(p)
        new_parts += fixed_idx
        new_script = f"create table {name} ({', '.join(new_parts)})"
        if tail:
            new_script += f" {tail}"

        df = self.spark.table(name)
        actual = next(c2 for c2 in df.columns if c2.lower() == old.lower())
        if kind == "drop column":
            new_df = df.drop(actual)
        elif kind == "modify column":
            # ANSI off: an unconvertible value becomes NULL, the documented
            # lenient-cast contract of the toT-OrNull family
            new_df = df.withColumn(
                actual,
                F.col(actual).cast(parse_bql_type(new_type).spark_type),
            )
        else:
            new_df = df.withColumnRenamed(actual, new)

        def recreate() -> None:
            self.spark.sql(f"DROP TABLE {name}")
            self._partition_specs.pop(name, None)
            self._bql_cols_cache.pop(name, None)
            self._create_scripts.pop(name, None)
            self._create_table(new_script)

        self.storage.rewrite(name, new_df, recreate=recreate)
        # a projection over a dropped/renamed/retyped column is rebuilt
        # against the new schema or unregistered if its SELECT broke
        self._rebuild_projections(name)
        return self.spark.sql("SELECT 1 AS ok")

    _ZORDER_BITS = 8  # 256 quantile buckets per column

    def _zorder_key(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """Append ``__zkey``: the Morton (Z-order) interleave of each
        column's quantile-bucket id.

        Buckets come from approxQuantile boundaries (one sketch pass per
        column, driver cost = 255 doubles) applied through an ML Bucketizer
        (JVM, vectorized) — rank-based, so skewed distributions still fill
        all 256 buckets where linear min/max bucketing would collapse.
        NULL/NaN land in the top bucket (clamped)."""
        from pyspark.ml.feature import Bucketizer

        n_buckets = 1 << self._ZORDER_BITS
        probs = [i / n_buckets for i in range(1, n_buckets)]
        work, tmp_cols = df, []
        for i, col in enumerate(cols):
            zin, zb = f"__zin{i}", f"__zb{i}"
            work = work.withColumn(zin, F.col(col).cast("double"))
            qs = work.stat.approxQuantile(zin, probs, 0.001)
            splits = sorted({q for q in qs if q == q})  # dedupe, drop NaN
            splits = [float("-inf")] + splits + [float("inf")]
            work = Bucketizer(
                splits=splits, inputCol=zin, outputCol=zb, handleInvalid="keep"
            ).transform(work)
            tmp_cols += [zin, zb]
        k = len(cols)
        terms = [
            f"shiftleft((cast(least(__zb{i}, {n_buckets - 1}) as bigint) "
            f">> {j}) & 1, {j * k + i})"
            for j in range(self._ZORDER_BITS)
            for i in range(k)
        ]
        return work.withColumn("__zkey", F.expr(" | ".join(terms))).drop(*tmp_cols)

    def _optimize_zorder(self, name: str, df: DataFrame, spec, zexpr: str) -> None:
        """``OPTIMIZE TABLE t ZORDER BY (c1, c2[, ...])`` — multi-dimensional
        clustering (beyond the reference, whose OPTIMIZE only flushes,
        mgmt.rs:938): rows are laid out along the Morton curve of the named
        columns, so parquet row-group/file min-max stats become selective on
        EVERY zorder column at once — selective scans prune on c2 even when
        c1 is absent from the predicate, where a plain SORT BY only serves
        its leading column.  Files are sized as plain OPTIMIZE sizes them
        (``_rewrite_file_count``); partitioned tables cluster within each
        partition."""
        cols = [x.strip() for x in _split_depth0(_strip_outer_parens(zexpr))]
        if not cols:
            raise ValueError("ZORDER BY: empty column list")
        for col in cols:
            t = dict(df.dtypes).get(col)
            if t is None:
                raise ValueError(f"ZORDER BY: unknown column {col!r}")
            if t in ("string", "binary") or t.startswith(("array", "map", "struct")):
                raise ValueError(
                    f"ZORDER BY: column {col!r} of type {t} is not orderable "
                    "numerically; zorder supports numeric/date/timestamp"
                )
        n_files = self._rewrite_file_count(name)
        work = self._zorder_key(df, cols)
        parts = [F.col(PTK_COL)] if spec else []
        tmp = (
            work.repartitionByRange(n_files, *parts, F.col("__zkey"))
            .sortWithinPartitions(*parts, F.col("__zkey"))
            .drop("__zkey")
        )
        # one output file per range partition: the rewrite keeps them
        self.storage.rewrite(name, tmp)

    # -- INSERT paths -------------------------------------------------------

    _INSERT_FILE_RE = re.compile(
        r"(?is)^insert\s+into\s+(?:table\s+)?function\s+(?P<fn>file|url)"
        r"\s*\(\s*(?P<args>[^()]*)\)\s+(?P<rest>.+)$"
    )

    def _insert(self, c: str) -> DataFrame:
        fm = self._INSERT_FILE_RE.match(c)
        if fm:
            # INSERT INTO FUNCTION file('path', 'Format') — upstream-CH
            # file export (the reference has INTO OUTFILE only); url() with
            # a file:// scheme serves the same path (no network in this
            # environment — http targets fail loudly).
            args = [a.strip().strip("'\"") for a in _split_depth0(fm.group("args"))]
            if not args:
                raise ValueError("file()/url() needs a path")
            path = args[0]
            fmt = (args[1] if len(args) > 1 else "parquet").lower()
            rest = fm.group("rest")
            if re.match(r"(?i)^https?://", path):
                # INSERT INTO FUNCTION url('http://...', 'Format') — POST
                # the formatted rows to the endpoint (upstream-CH url()
                # write half; against the engine's own HTTP front door
                # this is wire-level self-federation)
                if rest.lower().startswith("values"):
                    src = self.spark.sql(f"SELECT * FROM {rest}")
                else:
                    src = self.spark.sql(self._translate_query(rest))
                from tensorbase_spark.sources.chnative import (
                    spark_field_to_ch,
                )
                from tensorbase_spark.sources.batches import result_batches
                from tensorbase_spark.sources.external import post_url
                from tensorbase_spark.sources.httpwire import (
                    canonical_format,
                    encode_batches,
                )

                canon = canonical_format(
                    args[1] if len(args) > 1 else "JSONEachRow"
                )
                names = [f.name for f in src.schema.fields]
                ch_types = []
                for f in src.schema.fields:
                    try:
                        ch_types.append(spark_field_to_ch(f))
                    except ValueError:
                        ch_types.append("String")
                body = b"".join(
                    encode_batches(
                        canon, names, ch_types, src.schema.fields,
                        result_batches(src),
                    )
                )
                post_url(path, body)
                return self.spark.sql("SELECT 1 AS ok")
            if path.startswith("file://"):
                path = path[len("file://"):]
            elif re.match(r"(?i)^[a-z][a-z0-9+.-]*://", path):
                raise ValueError(
                    f"url({path!r}): only file:// and http(s):// are "
                    "reachable here"
                )
            if rest.lower().startswith("values"):
                src = self.spark.sql(f"SELECT * FROM {rest}")
            else:
                src = self.spark.sql(self._translate_query(rest))
            w = src.write.mode("overwrite")
            if fmt == "parquet":
                w.parquet(path)
            elif fmt in ("csv", "csvwithnames"):
                w.option("header", fmt == "csvwithnames").csv(path)
            elif fmt in ("tsv", "tabseparated", "tsvwithnames",
                         "tabseparatedwithnames"):
                w.option("header", fmt.endswith("withnames")).option(
                    "sep", "\t"
                ).csv(path)
            elif fmt in ("jsoneachrow", "ndjson"):
                w.json(path)
            else:
                raise ValueError(f"file() FORMAT {fmt}: unsupported")
            return self.spark.sql("SELECT 1 AS ok")
        rm = _INSERT_REMOTE_RE.match(c)
        if rm:
            # INSERT INTO FUNCTION remote(...) — push rows to a remote table
            # (grammar bql.pest:81 select_remote target; exec mgmt.rs:744-770).
            # local: loopback resolves to the session catalog; jdbc: pushes
            # over a genuine JDBC connection (embedded Derby works out of the
            # box — its driver ships in Spark's classpath; other engines once
            # their jar is on spark.jars).
            addr = rm.group("addr").strip("'\"")
            if addr.startswith("jdbc:"):
                rest = rm.group("rest")
                low0 = rest.lower()
                if low0.startswith("values"):
                    src = self.spark.sql(f"SELECT * FROM {rest}")
                else:
                    src = self.spark.sql(self._translate_query(rest))
                writer = (
                    src.write.format("jdbc")
                    .option("url", addr)
                    .option("dbtable", rm.group("name"))
                    .mode("append")
                )
                if addr.startswith("jdbc:derby:"):
                    writer = writer.option(
                        "driver", "org.apache.derby.jdbc.EmbeddedDriver"
                    )
                try:
                    writer.save()
                except Exception as e:  # driver jar missing / remote down
                    raise RuntimeError(
                        f"insert into function remote({addr!r}) failed — the "
                        f"JDBC driver jar must be on spark.jars: {e}"
                    ) from e
                return self.spark.sql("SELECT 1 AS ok")
            if addr.startswith(("ch://", "clickhouse://", "tb://")):
                # push over the CH NATIVE wire as typed columnar blocks —
                # the reference remote-insert's primary transport
                # (mgmt.rs:744-770 + engine/src/remote.rs:8)
                from tensorbase_spark.sources.external import (
                    remote_insert_native,
                )

                rest = rm.group("rest")
                if rest.lower().startswith("values"):
                    src = self.spark.sql(f"SELECT * FROM {rest}")
                else:
                    src = self.spark.sql(self._translate_query(rest))
                remote_insert_native(addr, rm.group("name"), src)
                return self.spark.sql("SELECT 1 AS ok")
            if addr.startswith("mysql://"):
                # push over the MySQL wire via the in-repo client — the
                # reference's remote-insert speaks MySQL natively
                # (mgmt.rs:744-770 + engine/src/remote.rs:49)
                from tensorbase_spark.sources.external import (
                    remote_insert_mysql,
                )

                rest = rm.group("rest")
                if rest.lower().startswith("values"):
                    src = self.spark.sql(f"SELECT * FROM {rest}")
                else:
                    src = self.spark.sql(self._translate_query(rest))
                remote_insert_mysql(addr, rm.group("name"), src)
                return self.spark.sql("SELECT 1 AS ok")
            if not addr.startswith("local:"):
                raise ValueError(
                    f"insert into function remote({addr!r}): unsupported "
                    "address scheme (local:, jdbc: or mysql://)"
                )
            c = f"insert into {rm.group('name')} {rm.group('rest')}"
        m = _INSERT_RE.match(c)
        if not m:
            raise ValueError(f"cannot parse: {c}")
        name = self._qualify(m.group("name"))
        subset = [s.strip() for s in (m.group("cols") or "").split(",") if s.strip()]
        rest = m.group("rest")
        low = rest.lower()
        if low.startswith("values"):
            src = self.spark.sql(f"SELECT * FROM {rest}")
        elif low.startswith("select"):
            src = self.spark.sql(self._translate_query(rest))
        else:  # FORMAT <Name> 'path'
            toks = rest.split(None, 2)
            fmt = toks[1].lower()
            path = toks[2].strip().strip("'\"")
            if fmt == "csv":
                src = self.spark.read.csv(path, header=False, inferSchema=False)
            elif fmt in ("tsv", "tabseparated", "tsvwithnames", "tabseparatedwithnames"):
                # upstream-CH TabSeparated family: CSV reader with a tab
                # separator; *WithNames carries a header row
                src = self.spark.read.csv(
                    path,
                    sep="\t",
                    header=fmt.endswith("withnames"),
                    inferSchema=False,
                )
            elif fmt in ("jsoneachrow", "ndjson"):
                # JSONEachRow carries field NAMES (upstream-ClickHouse
                # format; the fork's grammar stops at CSV — dialect
                # superset): read with the TARGET schema so field order in
                # the file is irrelevant, then project positionally for
                # insert_df.
                from pyspark.sql import types as T

                schema = [
                    f for f in self.spark.table(name).schema.fields
                    if f.name != PTK_COL
                ]
                tgt = subset or [f.name for f in schema]
                by_name = {f.name: f for f in schema}
                missing = [n for n in tgt if n not in by_name]
                if missing:
                    raise ValueError(f"unknown insert columns: {missing}")
                st = T.StructType([by_name[n] for n in tgt])
                src = self.spark.read.schema(st).json(path).select(*tgt)
            elif fmt == "parquet":
                # upstream-CH file-format breadth (the fork's grammar stops
                # at CSV, bql.pest:91); schema comes from the file
                src = self.spark.read.parquet(path)
            else:
                raise ValueError(
                    f"INSERT FORMAT {toks[1]}: supported formats are CSV, "
                    "TSV/TabSeparated[WithNames], JSONEachRow and Parquet"
                )
        return self.insert_df(name, src, subset or None)

    def _bql_cols_for(self, name: str) -> dict:
        """BQL-declared column types from table properties (cached):
        carries information Spark's schema loses, e.g. FixedString(n)."""
        if name in self._bql_cols_cache:
            return self._bql_cols_cache[name]
        out: dict = {}
        try:
            cols_txt = self._table_props(name).get("tb.columns")
            if cols_txt:
                for part in _split_top_level_args(cols_txt):
                    toks = part.strip().split(None, 1)
                    if len(toks) == 2:
                        out[toks[0]] = parse_bql_type(toks[1])
        except Exception:
            pass
        self._bql_cols_cache[name] = out
        return out

    def insert_df(
        self, name: str, src: DataFrame, subset: list[str] | None = None
    ) -> DataFrame:
        """Append a DataFrame: positional cast to the table schema, DateTime
        second-truncation (reference Timestamp32 is unix seconds,
        crates/arrow/src/datatypes/datatype.rs:95), partition-key computation,
        and the >=1000-parts-per-block guard (write.rs:52-56).  A
        driver-local ``src`` (a door's Arrow block, VALUES) is written from
        the driver with no Spark job; any other goes through Spark's
        ``insertInto`` (``_write_block``)."""
        name = self._qualify(name)
        if self._alias_kind(name) == "buffer":
            # ENGINE = Buffer: the block parks in the in-memory pending list
            # (cast to the target schema NOW, so bad rows fail at insert
            # like CH); reads of the alias see target + pending
            # (_rewrite_buffer_reads); the flush threshold amortizes many
            # block-grain arrivals into ONE partitioned write (CH's whole
            # point for this engine; PLANS.md §10 block-grain tax).
            alias = name
            target = self._resolve_alias(name)
            block = self._cast_block(target, src, subset)
            with self._buffer_lock:
                pend = self._buffer_pending.setdefault(alias, [])
                pend.append(block)
                do_flush = len(pend) >= self._buffer_flush_blocks(alias)
            if do_flush:
                self.flush_buffer(alias)
            return self.spark.sql("SELECT 1 AS ok")
        # Distributed alias: writes land in the local target table
        name = self._resolve_alias(name)
        out = self._cast_block(name, src, subset)
        # held over the materialized views' writes too, which re-enter it
        with self.storage.lock(name):
            return self._write_block(name, out)

    def _cast_block(
        self, name: str, src: DataFrame, subset: list[str] | None = None
    ) -> DataFrame:
        """Positional cast of a source block to table ``name``'s schema:
        Nested zip, type casts (incl. the UInt64Reinterp wrap), DateTime
        second-truncation, FixedString/Enum write guards.  Shared by the
        direct write path and Buffer pending blocks (which cast at insert
        time, like CH, but write at flush time)."""
        schema = [f for f in self.spark.table(name).schema.fields if f.name != PTK_COL]
        bql_cols = self._bql_cols_for(name)
        targets = subset or [f.name for f in schema]
        nested = {
            n: p.nested_fields for n, p in bql_cols.items() if p.nested_fields
        }
        if (
            not subset
            and nested
            and len(src.columns)
            == len(targets) + sum(len(v) - 1 for v in nested.values())
        ):
            # CH flattened-insert shape for Nested columns: one ARRAY per
            # subcolumn, in declaration order.  Zip each group into the
            # array<struct> storage column, enforcing CH's equal-lengths
            # rule in-plan (same guard style as FixedString/Enum).
            from functools import reduce as _reduce

            tmp = src.toDF(*[f"__c{i}" for i in range(len(src.columns))])
            sel0, i0 = [], 0
            for f in schema:
                nf = nested.get(f.name)
                if not nf:
                    sel0.append(F.col(f"__c{i0}").alias(f.name))
                    i0 += 1
                    continue
                subs = [F.col(f"__c{i0 + j}") for j in range(len(nf))]
                i0 += len(nf)
                same_len = _reduce(
                    lambda a, b: a & b,
                    [F.size(s2) == F.size(subs[0]) for s2 in subs[1:]],
                    F.lit(True),
                )
                z = F.arrays_zip(*[s2.alias(fn) for s2, fn in zip(subs, nf)])
                sel0.append(
                    F.when(same_len, z)
                    .otherwise(
                        F.raise_error(
                            F.lit(
                                f"Nested column {f.name}: subcolumn arrays "
                                "must have equal lengths (CH contract)"
                            )
                        )
                    )
                    .alias(f.name)
                )
            src = tmp.select(*sel0)
        if len(src.columns) != len(targets):
            raise ValueError(
                f"INSERT column count {len(src.columns)} != target {len(targets)}"
            )
        by_name = {f.name: f for f in schema}
        sel = []
        renamed = src.toDF(*targets)
        for f in schema:
            if f.name in targets:
                col = F.col(f.name).cast(f.dataType)
                p0 = bql_cols.get(f.name)
                if p0 is not None and p0.reinterp:
                    # UInt64Reinterp write boundary: inputs above 2^63-1
                    # (decimal/double/string sources) wrap two's-complement
                    # instead of overflowing to null; integral inputs can't
                    # exceed the range and keep the plain (free) cast
                    in_t = renamed.schema[f.name].dataType.simpleString()
                    if in_t not in ("bigint", "int", "smallint", "tinyint"):
                        big = F.col(f.name).cast(T.DecimalType(21, 0))
                        two64 = F.lit("18446744073709551616").cast(
                            T.DecimalType(21, 0)
                        )  # 2^64 exceeds a Python-long lit slot
                        col = F.when(
                            big > F.lit(2**63 - 1).cast(T.DecimalType(21, 0)),
                            (big - two64).cast("long"),
                        ).otherwise(big.cast("long"))
                if f.dataType.simpleString() == "timestamp":
                    col = F.date_trunc("second", col)
                p = bql_cols.get(f.name)
                if p is not None and p.fixed_len is not None:
                    # FixedString(n): the reference stores exactly-n bytes and
                    # rejects longer values at write time; enforce in-plan
                    # (codegen'd conditional, no extra pass over the data)
                    col = F.when(F.length(col) <= p.fixed_len, col).otherwise(
                        F.raise_error(
                            F.lit(
                                f"value too long for FixedString({p.fixed_len}) "
                                f"column {f.name}"
                            )
                        )
                    )
                if p is not None and getattr(p, "enum_values", None):
                    # Enum8/16: CH rejects values outside the declared set at
                    # write time; same in-plan guard shape as FixedString
                    col = F.when(
                        col.isNull() | col.isin(*p.enum_values), col
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(f"invalid Enum value for column {f.name}: "),
                                col,
                            )
                        )
                    )
                sel.append(col.alias(f.name))
            else:
                if not f.nullable:
                    raise ValueError(f"column {f.name} has no default and is NOT NULL")
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
        return renamed.select(*sel)

    def _rewrite_buffer_reads(self, q: str) -> str:
        """Reads of a Buffer alias see the target PLUS the unflushed
        pending blocks (the CH Buffer read contract): each referenced
        alias with pending rows swaps for a target-UNION-pending subquery
        bound under the alias name.  Plain ``FROM/JOIN name`` references
        only — a user-supplied extra alias on the buffer table is not
        rewritten (use the flushed target for exotic shapes)."""
        for alias, pend in self._buffer_pending.items():
            if not pend:
                continue
            short = alias.split(".")[-1]
            if not re.search(rf"(?i)\b{re.escape(short)}\b", q):
                continue
            out = pend[0]
            for b in pend[1:]:
                out = out.unionByName(b)
            vname = f"__tb_bufpend_{short}"
            out.createOrReplaceTempView(vname)
            target = self._resolve_alias(alias)
            cols = ", ".join(out.columns)
            union = (
                f"(select {cols} from {target} union all "
                f"select {cols} from {vname})"
            )

            def _swap(m: re.Match) -> str:
                al = m.group("al")
                if al and al.lower() in _NON_ALIAS_KEYWORDS:
                    # not an alias — the next clause keyword: re-emit it
                    return f"{m.group(1)} {union} {short} {al}"
                return f"{m.group(1)} {union} {al or short}"

            # the bare short name resolves to the CURRENT database — only
            # rewrite it when that is the buffer's own database, else a
            # session sitting in db2 reading its own `buf` would silently
            # get db1.buf's pending blocks (ADVICE r7 #3)
            buf_db = alias.rsplit(".", 1)[0] if "." in alias else None
            names = (
                (alias, short)
                if buf_db is None
                or buf_db == self.spark.catalog.currentDatabase()
                else (alias,)
            )
            for nm in names:
                q = re.sub(
                    rf"(?is)\b(from|join)\s+{re.escape(nm)}"
                    rf"(?:\s+(?:as\s+)?(?P<al>[A-Za-z_]\w*))?(?![\w.])",
                    _swap,
                    q,
                )
        return q

    def _merges_stopped_for(self, name: str) -> bool:
        """Whether SYSTEM STOP MERGES holds for table ``name``: OPTIMIZE
        refuses it and an append merges none of its files."""
        return "*" in self._merges_stopped or name in self._merges_stopped

    def _write_block(self, name: str, out: DataFrame) -> DataFrame:
        """Write tail of the insert path: the append (``storage``), then the
        materialized views' insert triggers.  ENGINE = Null discards the
        write, reads stay empty — but its MV insert triggers still fire over
        the cast block (CH's standard ingest-through-Null fan-out idiom),
        and the discard pays no job."""
        meta = self._catalog_table(name)
        props = {} if meta is None else jprops(meta.properties())
        if (props.get("tb.engine") or "").lower() != "null":
            self.storage.append(name, meta, props, out, self._spec_for(name),
                                merge=not self._merges_stopped_for(name))
        if self._mvs.get(name):
            # CH materialized views are insert triggers: each view's SELECT
            # runs over the inserted block only (cast, target-named), and
            # chains are allowed with a cycle guard
            if self._mv_depth >= 8:
                raise ValueError("materialized-view chain deeper than 8 (cycle?)")
            self._mv_depth += 1
            try:
                self._propagate_mvs(name, out)
            finally:
                self._mv_depth -= 1
        return self.spark.sql("SELECT 1 AS ok")

    # -- SELECT translation + partition pruning ------------------------------

    _ANY_JOIN_RE = re.compile(
        r"(?is)\bany\s+(?P<jt>left\s+|inner\s+)?join\s+(?P<tbl>[\w.]+)"
        r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?\s+"
        r"(?:using\s*\((?P<using>[^()]+)\)|on\s+(?P<on>[^()]+?))"
        r"(?=\s+(?:where|group|order|having|limit|union|left|right|inner|"
        r"cross|join|any|asof)\b|\s*$)"
    )

    def _rewrite_any_join(self, q: str) -> str:
        """ClickHouse ``ANY [LEFT|INNER] JOIN``: at most one right row per
        key.  CH picks an arbitrary matching row; here the right side
        dedupes DETERMINISTICALLY (row_number over the key, all columns as
        the tiebreak order) before the join — a strict refinement of the CH
        contract.  The dedup is one window on the join key the join was
        going to shuffle on anyway."""

        def repl(m):
            tbl = m.group("tbl")
            alias = m.group("alias") or tbl.split(".")[-1]
            cols = [c for c in self.spark.table(tbl).columns if c != PTK_COL]
            if m.group("using"):
                keys = [k.strip() for k in m.group("using").split(",")]
                cond = f"using ({m.group('using')})"
            else:
                on = m.group("on")
                keys = [
                    mm.group(1)
                    for mm in re.finditer(
                        rf"(?is)\b(?:{re.escape(alias)}|{re.escape(tbl)})\.(\w+)", on
                    )
                ]
                if not keys:
                    raise ValueError(
                        f"ANY JOIN: cannot find {alias}.<col> keys in ON {on!r}"
                    )
                cond = f"on {on}"
            order = ", ".join(cols)
            dedup = (
                f"(select {', '.join(cols)} from (select *, row_number() over "
                f"(partition by {', '.join(keys)} order by {order}) as __any_rn "
                f"from {tbl}) where __any_rn = 1)"
            )
            return f"{(m.group('jt') or '').strip()} join {dedup} {alias} {cond}".strip()

        return self._ANY_JOIN_RE.sub(repl, q)

    _ASOF_RE = re.compile(
        r"(?is)^select\s+(?P<sel>.+?)\s+from\s+(?P<lt>[\w.]+)"
        r"(?:\s+(?!asof\b)(?:as\s+)?(?P<la>[A-Za-z_]\w*))?\s+"
        r"asof\s+(?:left\s+)?join\s+(?P<rt>[\w.]+)"
        r"(?:\s+(?:as\s+)?(?P<ra>[A-Za-z_]\w*))?\s+on\s+(?P<cond>.+?)"
        r"(?P<tail>\s+(?:where|group|order|limit)\b.*)?$"
    )

    def _run_asof_join(self, m) -> DataFrame:
        """ClickHouse ``ASOF JOIN`` clause: one equality key + one ``>=``
        inequality; lowers to the union+window as-of operator
        (operators/asof.py — ONE shuffle on the key, linear scan per
        partition; never a range join).  Matched right columns surface under
        their own names when free, ``asof_<name>`` on collision."""
        from tensorbase_spark.operators.asof import asof_join

        la = m.group("la") or m.group("lt").split(".")[-1]
        ra = m.group("ra") or m.group("rt").split(".")[-1]
        eq = ineq = None
        for part in re.split(r"(?is)\s+and\s+", m.group("cond").strip()):
            pm = re.match(
                r"(?is)^\s*(\w+)\.(\w+)\s*(>=|=|==)\s*(\w+)\.(\w+)\s*$", part
            )
            if not pm:
                raise ValueError(f"ASOF JOIN: cannot parse conjunct {part!r}")
            a_ref, a_col, op, b_ref, b_col = pm.groups()
            if a_ref == ra or (op == ">=" and a_ref == ra):
                # normalize to left-side first
                a_ref, a_col, b_ref, b_col = b_ref, b_col, a_ref, a_col
                op = "<=" if op == ">=" else op
            if op in ("=", "=="):
                eq = (a_col, b_col)
            elif op == ">=":
                ineq = (a_col, b_col)
            else:
                raise ValueError(f"ASOF JOIN: unsupported operator in {part!r}")
        if not eq or not ineq:
            raise ValueError("ASOF JOIN needs one equality and one >= conjunct")
        lt = self.spark.table(m.group("lt"))
        rt = self.spark.table(m.group("rt"))
        lk, rk = eq
        lts, rts = ineq
        if rk != lk:
            rt = rt.withColumnRenamed(rk, lk)
        joined = asof_join(lt, rt, on=lk, ts=lts, right_ts=rts)
        for c in joined.columns:
            if c.startswith("asof_") and c[5:] not in lt.columns:
                joined = joined.withColumnRenamed(c, c[5:])
        view = "__asof_q"
        joined.createOrReplaceTempView(view)
        sel = m.group("sel")
        tail = m.group("tail") or ""
        # matched-right columns live unqualified on the view
        strip = rf"(?is)\b(?:{re.escape(la)}|{re.escape(ra)})\."
        sel = re.sub(strip, "", sel)
        tail = re.sub(strip, "", tail)
        return self.spark.sql(
            self._translate_query(f"select {sel} from {view}{tail}")
        )

    _PARAM_RE = re.compile(r"\{(?P<n>\w+)\s*:\s*(?P<t>[^{}]+)\}")
    _PVIEW_CALL_RE = re.compile(r"(?is)\b(from|join)\s+([\w.]+)\s*\(")

    def _rewrite_param_views(self, q: str, depth: int = 0) -> str:
        """Upstream-CH parameterized views at their call sites:
        ``FROM v(p = 3, s = 'x')`` inlines the stored SELECT with each
        ``{p:Type}`` placeholder bound to the call's typed literal
        (CAST('v' AS t) — injection-safe, constant-folded).  Unbound
        placeholders fall through to the session ``SET param_*`` binding.
        Views may reference other parameterized views.  ``depth`` counts
        TOTAL substitutions, so the cap is a runaway guard (cyclic view
        definitions), not a flat-reference limit."""
        if depth > 100:
            raise ValueError(
                "parameterized-view expansion did not converge "
                "(cyclic view definitions?)"
            )
        for m in list(self._PVIEW_CALL_RE.finditer(q)):
            name = self._qualify(m.group(2))
            if name not in self._param_views:
                continue
            # paren-match the argument list from the opening '('
            d, j, n = 1, m.end(), len(q)
            while j < n and d:
                if q[j] in "'\"":
                    quote = q[j]
                    j += 1
                    while j < n and q[j] != quote:
                        j += 1
                elif q[j] == "(":
                    d += 1
                elif q[j] == ")":
                    d -= 1
                j += 1
            args = {}
            inner = q[m.end() : j - 1].strip()
            for part in _split_depth0(inner) if inner else []:
                am = re.match(r"(?s)^\s*(\w+)\s*=\s*(.+?)\s*$", part)
                if not am:
                    raise ValueError(
                        f"parameterized view {name}: cannot parse "
                        f"argument {part!r}"
                    )
                args[am.group(1)] = am.group(2).strip()
            body = self._param_views[name]

            def bind(pm: re.Match) -> str:
                pname = pm.group("n")
                if pname not in args:
                    return pm.group(0)  # session SET param_* binds later
                t = parse_bql_type(
                    pm.group("t").strip()
                ).spark_type.simpleString()
                raw = args[pname]
                if re.fullmatch(r"-?\d+(\.\d+)?", raw) or (
                    len(raw) >= 2 and raw[0] in "'\"" and raw[-1] == raw[0]
                ):
                    # bare literal -> typed, injection-safe constant
                    v = raw.strip("'\"").replace("'", "''")
                    return f"CAST('{v}' AS {t})"
                # expression argument (nested view call passing its own
                # {p:Type}, arithmetic, a column of the outer query):
                # inline it raw — later passes bind/translate it
                return f"CAST(({raw}) AS {t})"

            body = self._PARAM_RE.sub(bind, body)
            # honor a caller-supplied alias (``FROM v(p=1) AS b`` or the
            # bare ``FROM v(p=1) b``) — adding ours would double-alias
            tail = q[j:]
            has_alias = bool(
                re.match(r"(?is)^\s+as\s+[A-Za-z_]\w*", tail)
            ) or bool(
                re.match(r"(?is)^\s+(?!(?:join|left|right|inner|cross|"
                         r"full|on|where|group|order|having|limit|union|"
                         r"intersect|except|settings|qualify|window|"
                         r"sample|asof|any|global|prewhere|format|using|"
                         r"semi|anti|natural|paste)\b)[A-Za-z_]\w*", tail)
            )
            if has_alias:
                alias = ""
            else:
                # auto-alias with the view's bare name, but suffix a
                # counter when that alias already exists in the query —
                # two unaliased call sites of the same view (self-join,
                # twice in one UNION branch) would otherwise expand to
                # identical aliases and fail analysis (ADVICE r9)
                bare = name.split(".")[-1]
                taken = len(re.findall(
                    rf"(?i)\bAS\s+{re.escape(bare)}(?:__\d+)?(?![\w])", q
                ))
                alias = (f" AS {bare}" if taken == 0
                         else f" AS {bare}__{taken + 1}")
            q = f"{q[: m.start()]}{m.group(1)} ({body}){alias}{tail}"
            return self._rewrite_param_views(q, depth + 1)
        return q

    def _bind_query_params(self, q: str) -> str:
        """ClickHouse query parameters: ``{name:Type}`` placeholders bound
        from ``SET param_name = value`` (CH's prepared-statement surface).
        Each placeholder becomes CAST('value' AS <spark type>) — typed,
        injection-safe, constant-folded by Catalyst.  String literals in
        the query text are left untouched."""

        def repl(m: re.Match) -> str:
            name = m.group("n")
            if name not in self._params:
                raise ValueError(
                    f"query parameter {{{name}}} is not set "
                    f"(SET param_{name} = ...)"
                )
            t = parse_bql_type(m.group("t").strip()).spark_type.simpleString()
            v = self._params[name].replace("'", "''")
            return f"CAST('{v}' AS {t})"

        out, i, n = [], 0, len(q)
        while i < n:
            ch = q[i]
            if ch in "'\"":
                j = i + 1
                while j < n and q[j] != ch:
                    j += 1
                out.append(q[i : j + 1])
                i = j + 1
                continue
            m = self._PARAM_RE.match(q, i)
            if m:
                out.append(repl(m))
                i = m.end()
                continue
            out.append(ch)
            i += 1
        return "".join(out)

    def _rewrite_sample(self, q: str) -> str:
        """ClickHouse ``FROM t SAMPLE k`` (upstream-CH; requires the table's
        declared sampling key — here ``SETTINGS sample_by=col``).  CH samples
        by a range over intHash32(key); the same contract re-expressed with
        an engine-portable hash: 256 md5-prefix buckets over the sampling
        key, keep the first round(k*256).  Deterministic (same rows every
        run, a superset of CH's consistent-sampling guarantee), granularity
        1/256, and the predicate is a pure scan filter — sampling never
        shuffles and composes with partition pruning."""

        def repl(m):
            tbl = m.group("tbl")
            alias = m.group("alias") or tbl.split(".")[-1]
            k = m.group("k").replace(" ", "")
            frac = (
                int(k.split("/")[0]) / int(k.split("/")[1]) if "/" in k else float(k)
            )
            if frac > 1.0:
                # CH's SAMPLE n row-count form: approximate target rows ->
                # fraction of the current table size (footer-count read;
                # parquet aggregate pushdown makes it metadata-only)
                total = self.spark.table(self._qualify(tbl)).count()
                frac = min(1.0, frac / max(total, 1))
            if not 0.0 < frac <= 1.0:
                raise ValueError(f"SAMPLE fraction out of (0, 1]: {k}")
            scol = self._table_props(self._qualify(tbl)).get("tb.sample_by")
            if not scol:
                raise ValueError(
                    f"SAMPLE requires SETTINGS sample_by=<col> on table {tbl}"
                )
            n = max(1, round(frac * 256))
            if n >= 256:
                return f"from {tbl} {alias}"
            h = f"md5(cast({scol} as string))"
            bucket = (
                f"(instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
                f" + instr('0123456789abcdef', substr({h}, 2, 1)) - 1"
            )
            return f"from (select * from {tbl} where {bucket} < {n}) {alias}"

        return _SAMPLE_RE.sub(repl, q)

    _NUMERIC_SPARK_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )

    @staticmethod
    def _collapsing_cols(name: str, props: dict) -> tuple[str, str]:
        """(sign, version) columns of a VersionedCollapsingMergeTree —
        stored from the ENGINE args at CREATE."""
        args = [
            s.strip()
            for s in (props.get("tb.collapse_cols") or "").split(",")
            if s.strip()
        ]
        if len(args) != 2:
            raise ValueError(
                f"{name}: VersionedCollapsingMergeTree needs (sign, version) "
                "engine arguments"
            )
        return args[0], args[1]

    def _merged_result_df(self, name: str, df: DataFrame, props: dict, eng: str) -> DataFrame:
        """DataFrame form of the merge result (used by OPTIMIZE ... FINAL
        to MATERIALIZE it): per-partition like CH merges — __ptk joins the
        merge keys, so rows never merge across partitions."""
        keys = [
            k.strip()
            for k in (props.get("tb.order_by") or "").split(",")
            if k.strip()
        ]
        if not keys:
            raise ValueError(f"{name}: {eng} requires a declared ORDER BY key")
        pkeys = keys + ([PTK_COL] if PTK_COL in df.columns else [])
        if eng == "replacingmergetree":
            ver = props.get("tb.ver_col")
            if not ver:
                raise ValueError(
                    f"{name}: ReplacingMergeTree merge needs a version column"
                )
            others = [c for c in df.columns if c not in pkeys and c != ver]
            w = Window.partitionBy(*pkeys).orderBy(
                F.col(ver).desc(), *[F.col(o).desc() for o in others]
            )
            return (
                df.withColumn("__rmt_rn", F.row_number().over(w))
                .filter(F.col("__rmt_rn") == 1)
                .drop("__rmt_rn")
            )
        if eng == "versionedcollapsingmergetree":
            sign, ver = self._collapsing_cols(name, props)
            others = [c for c in df.columns if c not in pkeys and c not in (sign, ver)]
            slice_keys = [*pkeys, ver]
            w_net = Window.partitionBy(*slice_keys)
            w_rn = Window.partitionBy(*slice_keys, sign).orderBy(
                *[F.col(o) for o in others] or [F.lit(1)]
            )
            # CH collapses +1/-1 PAIRS within a (key, version) slice; the
            # surplus of the dominant sign stays visible.  net>0 -> net
            # surviving +1 rows; net<0 -> |net| surviving -1 rows (unmatched
            # cancel rows are NOT dropped — ADVICE r6 #5).
            return (
                df.withColumn("__vc_net", F.sum(sign).over(w_net))
                .withColumn("__vc_rn", F.row_number().over(w_rn))
                .filter(
                    (F.col(sign) * F.col("__vc_net") > 0)
                    & (F.col("__vc_rn") <= F.abs(F.col("__vc_net")))
                )
                .drop("__vc_net", "__vc_rn")
            )
        if eng == "aggregatingmergetree":
            fns = dict(
                p.split(":")
                for p in (props.get("tb.agg_fns") or "").split(",")
                if ":" in p
            )
            aggs = []
            for f in df.schema.fields:
                if f.name in pkeys:
                    continue
                fn = fns.get(f.name)
                if fn in ("count", "sum"):
                    aggs.append(F.sum(f.name).cast(f.dataType).alias(f.name))
                elif fn == "min":
                    aggs.append(F.min(f.name).alias(f.name))
                elif fn == "max":
                    aggs.append(F.max(f.name).alias(f.name))
                elif fn == "any":
                    aggs.append(F.any_value(f.name).alias(f.name))
                elif fn == "avg":
                    aggs.append(
                        F.struct(
                            F.sum(F.col(f.name)["s"]).alias("s"),
                            F.sum(F.col(f.name)["c"]).alias("c"),
                        ).alias(f.name)
                    )
                elif fn in ("uniq", "uniqexact"):
                    aggs.append(
                        F.array_distinct(
                            F.flatten(F.collect_list(f.name))
                        ).alias(f.name)
                    )
                elif fn == "grouparray":
                    aggs.append(
                        F.flatten(F.collect_list(f.name)).alias(f.name)
                    )
                else:  # non-state column: deterministic stand-in
                    aggs.append(F.min(f.name).alias(f.name))
            return df.groupBy(*pkeys).agg(*aggs).select(*df.columns)
        listed = {
            s.strip()
            for s in (props.get("tb.sum_cols") or "").split(",")
            if s.strip()
        }
        aggs = []
        for f in df.schema.fields:
            if f.name in pkeys:
                continue
            is_num = isinstance(f.dataType, self._NUMERIC_SPARK_TYPES)
            if (f.name in listed) if listed else is_num:
                aggs.append(F.sum(f.name).cast(f.dataType).alias(f.name))
            else:
                aggs.append(F.min(f.name).alias(f.name))
        return df.groupBy(*pkeys).agg(*aggs).select(*df.columns)

    _FINAL_REF_RE = re.compile(
        r"(?is)\b(?P<kw>from|join)\s+(?P<t>[A-Za-z_][\w.]*)"
        r"(?P<al>\s+(?:as\s+)?(?!final\b)[A-Za-z_]\w*)?\s+final\b"
    )

    def _rewrite_final(self, q: str) -> str:
        """``FROM t [AS a] FINAL`` over a merge-semantics table engine:
        serve the MERGE RESULT without waiting for a physical merge —
        exactly CH's FINAL contract.

        - ``ReplacingMergeTree(ver)``: one row per ORDER BY key, max
          ``ver`` wins (row_number window; remaining columns break ver
          ties deterministically — CH leaves same-version ties
          part-order-defined, a documented difference).
        - ``SummingMergeTree[(cols)]``: one row per ORDER BY key, listed
          (default: all numeric non-key) columns summed, other non-key
          columns take ``min`` (CH takes an arbitrary first value —
          min is the deterministic stand-in, documented).

        Tables with any other engine keep the historical behavior: FINAL
        drops (plain appends are always fully visible) via
        _preprocess_ch_clauses."""
        def _sub(m: re.Match) -> str:
            name = self._qualify(m.group("t"))
            try:
                props = self._table_props(name)
            except Exception:
                return m.group(0)
            eng = (props.get("tb.engine") or "").lower()
            key_txt = props.get("tb.order_by")
            cols_txt = props.get("tb.columns")
            if eng not in (
                "replacingmergetree", "summingmergetree",
                "aggregatingmergetree", "versionedcollapsingmergetree",
            ) or (not key_txt or not cols_txt):
                return m.group(0)  # fallback: generic FINAL drop downstream
            keys = [k.strip() for k in key_txt.split(",")]
            cols = []
            for part in _split_top_level_args(cols_txt):
                cn, ct = part.strip().split(None, 1)
                cols.append((cn, ct))
            alias = (m.group("al") or "").strip()
            alias = re.sub(r"(?is)^as\s+", "", alias) or m.group("t").split(".")[-1]
            # per-partition merge, like CH: __ptk joins the merge keys
            pkeys = list(keys)
            if props.get("tb.partition_expr") is not None:
                pkeys.append(PTK_COL)
            if eng == "replacingmergetree":
                ver = props.get("tb.ver_col")
                if not ver:
                    return m.group(0)
                tie = [
                    f"{cn} desc"
                    for cn, _ in cols
                    if cn not in pkeys and cn != ver
                ]
                order = ", ".join([f"{ver} desc"] + tie)
                sel = ", ".join(cn for cn, _ in cols)
                inner_sel = sel if PTK_COL not in pkeys else f"{sel}, {PTK_COL}"
                inner = (
                    f"(select {sel} from (select {inner_sel}, row_number() over "
                    f"(partition by {', '.join(pkeys)} order by {order}) "
                    f"as __rmt_rn from {name}) where __rmt_rn = 1) {alias}"
                )
            elif eng == "versionedcollapsingmergetree":
                sign, ver = self._collapsing_cols(name, props)
                others = [
                    cn for cn, _ in cols
                    if cn not in pkeys and cn not in (sign, ver)
                ]
                slice_keys = ", ".join([*pkeys, ver])
                rn_order = ", ".join(others) if others else "1"
                sel = ", ".join(cn for cn, _ in cols)
                inner_sel = sel if PTK_COL not in pkeys else f"{sel}, {PTK_COL}"
                inner = (
                    f"(select {sel} from (select {inner_sel}, "
                    f"sum({sign}) over (partition by {slice_keys}) as __vc_net, "
                    f"row_number() over (partition by {slice_keys}, {sign} "
                    f"order by {rn_order}) as __vc_rn from {name}) "
                    # net>0 -> net +1 rows; net<0 -> |net| surplus -1 rows
                    # stay visible (CH leaves unmatched cancel rows,
                    # ADVICE r6 #5)
                    f"where {sign} * __vc_net > 0 "
                    f"and __vc_rn <= abs(__vc_net)) {alias}"
                )
            elif eng == "aggregatingmergetree":
                fns = dict(
                    p.split(":")
                    for p in (props.get("tb.agg_fns") or "").split(",")
                    if ":" in p
                )
                combine = {
                    "count": "cast(sum({c}) as bigint)",
                    "sum": "sum({c})",
                    "min": "min({c})",
                    "max": "max({c})",
                    "any": "any_value({c})",
                    "avg": "named_struct('s', sum({c}.s), 'c', sum({c}.c))",
                    "uniq": "array_distinct(flatten(collect_list({c})))",
                    "uniqexact": "array_distinct(flatten(collect_list({c})))",
                    "grouparray": "flatten(collect_list({c}))",
                }
                items = list(keys)
                for cn, ct in cols:
                    if cn in keys:
                        continue
                    tmpl = combine.get(fns.get(cn, ""), "min({c})")
                    items.append(f"{tmpl.format(c=cn)} as {cn}")
                inner = (
                    f"(select {', '.join(items)} from {name} "
                    f"group by {', '.join(pkeys)}) {alias}"
                )
            else:
                listed = {
                    s.strip()
                    for s in (props.get("tb.sum_cols") or "").split(",")
                    if s.strip()
                }
                items = list(keys)
                for cn, ct in cols:
                    if cn in keys:
                        continue
                    is_num = isinstance(
                        parse_bql_type(ct).spark_type,
                        self._NUMERIC_SPARK_TYPES,
                    )
                    summed = cn in listed if listed else is_num
                    items.append(
                        f"sum({cn}) as {cn}" if summed else f"min({cn}) as {cn}"
                    )
                inner = (
                    f"(select {', '.join(items)} from {name} "
                    f"group by {', '.join(pkeys)}) {alias}"
                )
            return f"{m.group('kw')} {inner}"

        return self._FINAL_REF_RE.sub(_sub, q)

    def _rewrite_star_apply(self, q: str) -> str:
        """CH column-matcher modifier ``* [EXCEPT (cols)] APPLY(f)``:
        expand to ``f(col) AS `f(col)``` per column of the (single) FROM
        table — CH's output naming exactly.  Spark has native `* EXCEPT`
        but no APPLY; the expansion needs the catalog, hence engine-level.
        Multi-table FROMs are rejected loudly (CH's matcher scopes per
        table; one table covers the idiom's real use)."""
        m = re.search(
            r"(?is)\*\s+(?:except\s*\(\s*(?P<exc>[^()]*)\)\s*)?"
            r"apply\s*\(\s*(?P<fn>\w+)\s*\)",
            q,
        )
        if not m:
            return q
        refs = re.findall(r"(?is)\b(?:from|join)\s+([A-Za-z_][\w.]*)", q)
        if len(refs) != 1:
            raise ValueError("* APPLY(f) needs exactly one FROM table")
        exc = {
            c.strip().lower()
            for c in (m.group("exc") or "").split(",")
            if c.strip()
        }
        fn = m.group("fn")
        try:  # temp views resolve unqualified; engine tables via _qualify
            tcols = self.spark.table(refs[0]).columns
        except Exception:
            tcols = self.spark.table(self._qualify(refs[0])).columns
        cols = [
            c for c in tcols if c != PTK_COL and c.lower() not in exc
        ]
        expanded = ", ".join(f"{fn}({c}) AS `{fn}({c})`" for c in cols)
        return q[: m.start()] + expanded + q[m.end() :]

    def _rewrite_table_tf(self, q: str) -> str:
        """Upstream-CH table functions in FROM/JOIN position beyond
        numbers()/remote() (the reference's grammar stops at those,
        bql.pest:133-139,349-353):

        - ``view(subquery)`` -> an inline derived table (CH evaluates the
          stored text as a subquery; so does this — pure textual unwrap,
          the inner SELECT then flows through the same translation).
        - ``merge(['db',] 'tables_regexp')`` -> unionByName over the
          catalog tables whose name matches (re.search, like CH's
          unanchored re2), each side column-pruned by Catalyst
          independently — the scan unions AFTER pushdown, so a filtered
          read over merge() still prunes files per member table.  The
          virtual ``_table`` column is attached only when the query text
          references it (CH's SELECT * likewise omits it); ``__ptk`` is
          dropped per member (partition exprs may differ across members).
        """
        pat = re.compile(
            r"(?is)\b(from|join)\s+(merge|view|file|url|generaterandom)\s*\("
        )
        while True:
            m = pat.search(q)
            if not m:
                return q
            # paren-match from the opening '(' (last char of the match)
            depth, j, n = 1, m.end(), len(q)
            while j < n and depth:
                if q[j] in "'\"":
                    quote = q[j]
                    j += 1
                    while j < n and q[j] != quote:
                        j += 1
                elif q[j] == "(":
                    depth += 1
                elif q[j] == ")":
                    depth -= 1
                j += 1
            inner = q[m.end() : j - 1]
            if m.group(2).lower() == "view":
                q = f"{q[: m.start()]}{m.group(1)} ({inner}){q[j:]}"
                continue
            if m.group(2).lower() == "generaterandom":
                # generateRandom('schema'[, seed[, rows]]) — CH's synthetic
                # data source.  DETERMINISTIC given the seed (values derive
                # from xxhash64(row_id, seed) — CH's own is seeded-PRNG
                # reproducible too), so tests and oracles can replay it.
                # rows defaults to 1000 when no LIMIT reaches the range.
                gargs = [a.strip() for a in _split_depth0(inner)]
                if not gargs:
                    raise ValueError("generateRandom needs a 'schema' string")
                gschema = gargs[0].strip().strip("'\"")
                gseed = int(gargs[1]) if len(gargs) > 1 else 0
                grows = int(gargs[2]) if len(gargs) > 2 else 1000
                gdf = self.spark.range(grows)
                for part in _split_depth0(gschema):
                    cn, _, ct = part.strip().partition(" ")
                    p = parse_bql_type(ct.strip())
                    h = F.xxhash64(F.col("id"), F.lit(gseed), F.lit(cn))
                    st = p.spark_type.simpleString()
                    if st in ("tinyint", "smallint", "int", "bigint"):
                        col = F.pmod(h, F.lit(10_000)).cast(p.spark_type)
                    elif st in ("float", "double"):
                        col = (
                            F.pmod(h, F.lit(1_000_000)).cast("double") / 1e4
                        ).cast(p.spark_type)
                    elif st == "date":
                        col = F.date_add(
                            F.lit("2020-01-01").cast("date"),
                            F.pmod(h, F.lit(3650)).cast("int"),
                        )
                    elif st == "timestamp":
                        col = F.timestamp_seconds(
                            F.lit(1577836800) + F.pmod(h, F.lit(86400 * 365))
                        )
                    elif st == "string":
                        col = F.concat(
                            F.lit("s"), F.pmod(h, F.lit(100_000)).cast("string")
                        )
                    elif st == "boolean":
                        col = F.pmod(h, F.lit(2)) == 1
                    else:
                        raise ValueError(
                            f"generateRandom: unsupported type {ct!r}"
                        )
                    gdf = gdf.withColumn(cn, col)
                gdf = gdf.drop("id")
                self._merge_tf_n += 1
                vname = f"tb_genrand_tf_{self._merge_tf_n}"
                gdf.createOrReplaceTempView(vname)
                q = f"{q[: m.start()]}{m.group(1)} {vname}{q[j:]}"
                continue
            if m.group(2).lower() in ("file", "url"):
                # file('path'[, 'Format'[, 'col Type, ...']]) — upstream-CH
                # file source; url() additionally fetches http(s) targets
                # (single-stream download to a driver temp file, CH's own
                # url() shape — the engine's HTTP front door makes this a
                # self-federation path).  Declared structure beats
                # inference (the reference's fixed-schema model); CSV
                # without one falls back to header/inference.
                fargs = [
                    a.strip().strip("'\"") for a in _split_depth0(inner)
                ]
                if not fargs:
                    raise ValueError("file()/url() needs a path")
                fpath = fargs[0]
                if fpath.startswith("file://"):
                    fpath = fpath[len("file://"):]
                elif re.match(r"(?i)^https?://", fpath):
                    from tensorbase_spark.sources.external import (
                        fetch_url_to_temp,
                    )

                    fpath = fetch_url_to_temp(fpath)
                elif re.match(r"(?i)^[a-z][a-z0-9+.-]*://", fpath):
                    raise ValueError(
                        f"url({fpath!r}): only file:// and http(s):// are "
                        "reachable here"
                    )
                ffmt = (fargs[1] if len(fargs) > 1 else "parquet").lower()
                schema = None
                if len(fargs) > 2:
                    from tensorbase_spark.sources.external import bql_schema

                    schema = bql_schema(
                        [
                            tuple(p.strip().split(None, 1))
                            for p in _split_depth0(fargs[2])
                        ]
                    )
                r = self.spark.read
                if schema is not None:
                    r = r.schema(schema)
                if ffmt == "parquet":
                    fdf = r.parquet(fpath)
                elif ffmt in ("csv", "csvwithnames"):
                    hdr = ffmt == "csvwithnames"
                    if schema is None:
                        r = r.option("inferSchema", "true")
                    fdf = r.option("header", hdr).csv(fpath)
                elif ffmt in ("tsv", "tabseparated", "tsvwithnames",
                              "tabseparatedwithnames"):
                    hdr = ffmt.endswith("withnames")
                    if schema is None:
                        r = r.option("inferSchema", "true")
                    fdf = r.option("header", hdr).option("sep", "\t").csv(fpath)
                elif ffmt in ("jsoneachrow", "ndjson"):
                    fdf = r.json(fpath)
                else:
                    raise ValueError(f"file() FORMAT {ffmt}: unsupported")
                self._merge_tf_n += 1
                vname = f"tb_file_tf_{self._merge_tf_n}"
                fdf.createOrReplaceTempView(vname)
                q = f"{q[: m.start()]}{m.group(1)} {vname}{q[j:]}"
                continue
            args = [a.strip() for a in _split_depth0(inner)]
            if len(args) == 1:
                db, rex_txt = self.spark.catalog.currentDatabase(), args[0]
            elif len(args) == 2:
                db_arg = args[0].strip()
                if re.fullmatch(r"(?is)currentdatabase\s*\(\s*\)", db_arg):
                    db = self.spark.catalog.currentDatabase()
                else:
                    db = db_arg.strip("'\"")
                rex_txt = args[1]
            else:
                raise ValueError(f"merge() takes 1-2 arguments, got {len(args)}")
            rex = re.compile(rex_txt.strip("'\""))
            names = sorted(
                t.name
                for t in self.spark.catalog.listTables(db)
                if (t.tableType or "").upper() in ("MANAGED", "EXTERNAL")
                and not t.name.endswith("__detached_tbl")  # CH hides them
                and rex.search(t.name)
            )
            if not names:
                raise ValueError(
                    f"merge({db!r}, {rex_txt}): no tables match"
                )
            want_table = re.search(r"\b_table\b", q) is not None
            merged = None
            for t in names:
                df = self.spark.table(f"{db}.{t}")
                if PTK_COL in df.columns:
                    df = df.drop(PTK_COL)
                if want_table:
                    df = df.withColumn("_table", F.lit(t))
                merged = (
                    df
                    if merged is None
                    else merged.unionByName(df, allowMissingColumns=True)
                )
            self._merge_tf_n += 1
            vname = f"tb_merge_tf_{self._merge_tf_n}"
            merged.createOrReplaceTempView(vname)
            q = f"{q[: m.start()]}{m.group(1)} {vname}{q[j:]}"

    def _translate_query(self, q: str) -> str:
        # clause rewrites apply on every query path (plain SELECT, EXPLAIN,
        # INSERT ... SELECT, remote push): idempotent on already-clean text
        if re.search(r"(?is)\bfinal\b", q):
            q = self._rewrite_final(q)
        q = _rewrite_array_join(_preprocess_ch_clauses(q.strip()))
        if self._param_views:
            q = self._rewrite_param_views(q)
        if any(self._buffer_pending.values()):
            q = self._rewrite_buffer_reads(q)
        if re.search(
            r"(?is)\b(?:from|join)\s+(?:merge|view|file|url|generaterandom)\s*\(",
            q,
        ):
            q = self._rewrite_table_tf(q)
        if re.search(r"(?is)\*\s+(?:except\s*\([^()]*\)\s*)?apply\s*\(", q):
            q = self._rewrite_star_apply(q)
        if re.search(r"(?is)\border\s+by\s+all\b", q):
            q = _rewrite_order_by_all(q)
        if "{" in q:
            q = self._bind_query_params(q)
        if re.match(r"(?is)^\s*with\b", q):
            q = _rewrite_scalar_with(q)
        if _DICT_CALL_RE.search(q):
            q = self._rewrite_dict_funcs(q)
        if self._projections:
            q = self._try_projection_rewrite(q)
        if _QUALIFY_RE.search(q):
            q = _rewrite_qualify(q)
        if re.search(r"(?is)\bwith\s+ties\b", q):
            q = _rewrite_limit_with_ties(q)
        if re.search(r"(?is)\bsample\s", q):
            q = self._rewrite_sample(q)
        if _DIST_AGG_RE.search(q):
            q = _rewrite_dist_aggs(q)
        q = translate_sql(q.strip())
        # WHERE-rewrite: for each known partitioned table referenced, derive
        # __ptk predicates from source-column comparisons and AND them in.
        wm = re.search(
            r"\bwhere\b(?P<cond>.*?)(?=\bgroup\s+by\b|\border\s+by\b|\bhaving\b|\blimit\b|$)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if not wm:
            return q
        cond = wm.group("cond")
        derived = []
        # tables enter via FROM or any JOIN variant; capture the optional
        # alias so multi-table predicates stay unambiguous (__ptk exists on
        # every partitioned table, so the derived predicate must qualify it)
        refs = re.findall(
            r"\b(?:from|join)\s+([A-Za-z_][A-Za-z0-9_.]*)"
            r"(?:\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*))?",
            q,
            re.IGNORECASE,
        )
        multi = len(refs) > 1
        for tbl, alias in refs:
            if alias.lower() in _NON_ALIAS_KEYWORDS:
                alias = ""
            spec = self._spec_for(tbl)
            if spec is None:
                continue
            qualifier = alias or tbl.split(".")[-1]
            p = _derive_ptk_predicate(
                spec, cond, qualifier=qualifier if multi else None
            )
            if p:
                derived.append(p)
        if not derived:
            return q
        new_cond = f" ({cond.strip()}) AND {' AND '.join(derived)} "
        return q[: wm.start("cond")] + new_cond + q[wm.end("cond") :]
