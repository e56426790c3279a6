"""ES|QL subset → DataFrame compiler (round 13).

ES|QL (ES 8.11+'s piped query language, the successor surface to the
search DSL for analytics) compiles here to plain Catalyst plans: each
pipe stage maps 1:1 onto a DataFrame transformation, so predicate
pushdown / column pruning / partial aggregation all come from the
optimizer — the compiler never materializes between stages.

Supported commands (everything else rejects loudly, the repo's
anti-silent policy):

- ``FROM index[, index…] [METADATA _index|_score]``
                                  union of the named tables (by name);
                                  METADATA _index adds the source
                                  table name as a per-branch literal
                                  (a WHERE on it prunes whole branches
                                  at plan time); METADATA _score (9.1)
                                  starts _score at 0.0 and each
                                  WHERE's full-text functions ADD
                                  their clause scores (the DSL
                                  scorer's build of the clause:
                                  row-local BM25 over a 1-row
                                  corpus-stats subquery — see
                                  _P._ft);
                                  _id/_version
                                  reject — no flat-frame meaning
- ``ROW name = <expr>, …``        one-row constant source (full scalar
                                  grammar over range(1); the session
                                  comes from the catalog)
- ``TS index``                    time-series source (ES 9.x): the
                                  first STATS becomes the two-stage
                                  ``OUTER(INNER(col))`` nest — inner
                                  over-time functions RATE
                                  (counter-reset-compensated, observed
                                  span) AVG/SUM/MIN/MAX/COUNT/LAST/
                                  FIRST_OVER_TIME per series per
                                  bucket, outer SUM/AVG/MIN/MAX/COUNT
                                  across series.  Dimensions and the
                                  timestamp column come from the
                                  ``ts_specs`` kwarg (the flat-frame
                                  stand-in for the TSDB mapping);
                                  single index only
- ``WHERE <expr>``                codegen filter (pushdown-eligible)
- ``EVAL name = <expr>, …``       sequential projections (later exprs
                                  may read earlier names, like ES|QL)
- ``STATS name = AGG(…) [WHERE cond][, …] [BY [name =] <expr>, …]``
                                  ONE groupBy; aggregate names are
                                  REQUIRED (ES|QL's default
                                  expression-text column names are not
                                  stable frame columns — documented
                                  deviation, loud reject).  The ES 8.16
                                  per-aggregate WHERE gates that
                                  aggregate's rows only — compiled as
                                  when(cond, arg) inside the aggregate
                                  (the FILTER(WHERE) rewrite, no extra
                                  pass).  Aggregates: COUNT COUNT(*)
                                  COUNT_DISTINCT SUM AVG MIN MAX MEDIAN
                                  PERCENTILE VALUES (distinct set,
                                  SORTED — live leaves order
                                  unspecified) TOP(f, n, "asc"|"desc")
                                  WEIGHTED_AVG STD_DEV (population,
                                  decimal-routed sum-of-squares)
- ``SORT expr [ASC|DESC] [NULLS FIRST|NULLS LAST], …``
                                  default null ordering is ES|QL's
                                  (null sorts as the largest value:
                                  ASC → nulls last, DESC → nulls
                                  first)
- ``LIMIT n``                     with a preceding SORT this plans as
                                  TakeOrderedAndProject (top-k heaps,
                                  no global sort)
- ``KEEP cols…`` / ``DROP cols…`` projection; ``*`` wildcards expand
                                  in declaration order like ES|QL
- ``RENAME old AS new, …``
- ``MV_EXPAND col``               explode_outer (NULL/empty keeps the
                                  row with a NULL value, ES|QL's
                                  multivalue-null behavior)
- ``LOOKUP JOIN idx ON key…``     left BROADCAST join (ES 8.18's
                                  lookup-index join; smallness is the
                                  contract, encoded as map-side hash —
                                  column collisions reject loudly)
- ``ENRICH policy ON key [WITH [new =] field, …]``
                                  enrich-policy join: the catalog holds
                                  the policy's enrich index, match-type
                                  'match' (equality) only — the same
                                  broadcast-left-join scale shape as
                                  LOOKUP JOIN
- ``INLINESTATS name = AGG(…) [BY keys]``
                                  window aggregates over the unreduced
                                  frame: one hash-partitioned window
                                  with BY keys; the ungrouped form uses
                                  the broadcast scalar crossJoin shape
                                  (never an empty global window)
- ``SAMPLE p id_col``             probability row sample (ES|QL 9.1);
                                  the id column is a documented
                                  extension — live ES|QL's RNG sample
                                  is not retry-deterministic, this
                                  engine gates on the random_sampler
                                  LCG prime-field hash (codegen filter
                                  riding the scan, oracle-replayable)
- ``CHANGE_POINT v [ON k] [AS t, pv]``
                                  annotate the series break row via the
                                  change_point detector
                                  (query_dsl.change_point_scalar); the
                                  second column carries the
                                  variance-explained score, not a
                                  p-value (documented divergence)
- ``FORK (branch) (branch) …``    2–8 parenthesized sub-pipelines over
                                  the same input, unioned by name with
                                  a ``_fork`` discriminator (fork1…);
                                  no-shuffle concatenation, per-branch
                                  pushdown; nested FORK rejects
- ``FUSE [rrf|linear] [SCORE BY col] [KEY BY col, …]``
                                  merge FORK branches: rrf scores
                                  1/(60+rank) per branch, linear sums
                                  raw scores; output = key columns +
                                  the fused score (other columns drop
                                  — documented divergence; live ES
                                  carries first-wins doc metadata)
- ``RERANK "q" ON field WITH "inference-id"``
                                  (ES|QL 9.x) rescore current rows →
                                  ``_score`` with the deterministic
                                  linear model behind the id in
                                  ``esql(rerank_models=)`` — the SAME
                                  registry + sigmoid contract as the
                                  text_similarity_reranker retriever;
                                  unknown ids reject loudly (COMPLETION
                                  rejects with a pointer: LLM-backed,
                                  no deterministic subset exists)
- ``DISSECT col "%{a} %{b}"``     delimiter extraction → one anchored
                                  regex, codegen; non-matching rows
                                  keep NULL fields like ES|QL
- ``GROK col "%{WORD:w} …"``      built-in pattern subset (WORD
                                  NOTSPACE DATA GREEDYDATA NUMBER INT
                                  IP LOGLEVEL TIMESTAMP_ISO8601) with
                                  :int/:long/:float/:double casts;
                                  unknown patterns reject loudly

Expression subset: arithmetic (+ - * / %), comparisons (== != < <= >
>=), AND/OR/NOT, IN (…), LIKE (ES|QL wildcard * ? — compiled to an
anchored regex), RLIKE, IS [NOT] NULL, CASE(cond, val, …, default),
and a scalar-function whitelist (ABS CEIL FLOOR ROUND SQRT POW CONCAT
LENGTH SUBSTRING TO_UPPER TO_LOWER TRIM LTRIM RTRIM STARTS_WITH
ENDS_WITH COALESCE GREATEST LEAST TO_STRING TO_LONG TO_INT TO_DOUBLE
TO_BOOLEAN TO_DATETIME REPLACE REVERSE LEFT RIGHT SPLIT LOCATE
CIDR_MATCH DATE_TRUNC DATE_FORMAT DATE_DIFF DATE_EXTRACT BUCKET
CATEGORIZE MV_COUNT MV_MIN MV_MAX MV_SUM MV_AVG MV_DEDUPE MV_SORT
MV_FIRST MV_LAST MV_APPEND MV_SLICE MV_MEDIAN MV_ZIP MV_CONCAT), the spatial functions (ST_DISTANCE = the DSL's
haversine on Lucene's earth radius; ST_INTERSECTS / ST_CONTAINS /
ST_WITHIN = point-vs-WKT-shape through the geo_shape relation
compiler; ST_X / ST_Y; ST_GEOHASH / ST_GEOTILE / ST_GEOHEX = the
grid aggs' cell builders as scalar key functions (string keys;
ST_GEOHEX is the documented non-H3 axial extension, like the
hex_grid agg); TO_GEOPOINT / TO_GEOSHAPE for literal WKT —
point COLUMNS are struct{lat,lon}, the engine's geo_point
representation), ``TO_IP`` (dotted-quad → uint32 ordering key, so
ip compares/sorts are numeric; malformed non-NULL raises — see
``_to_ip_sql``), ``IP_PREFIX`` (mask + render through the same guarded
parse), ``DATE_PARSE`` (literal pattern; malformed throws under ANSI),
the hash digests (MD5 SHA1 SHA256 + generalized HASH(alg, v)), the
math tail (LOG LOG10 EXP SIN COS TAN ASIN ACOS ATAN ATAN2 SINH COSH
TANH SIGNUM CBRT HYPOT TO_DEGREES TO_RADIANS PI E TAU ROUND_TO SCALB
COPY_SIGN), the string tail (SPACE REPEAT BIT_LENGTH BYTE_LENGTH
TO_BASE64 FROM_BASE64), DAY_NAME/MONTH_NAME, TO_VERSION (semver
ordering key), the MV percentile family (MV_PERCENTILE
MV_MEDIAN_ABSOLUTE_DEVIATION MV_PSERIES_WEIGHTED_SUM), plus the
WHERE-only full-text functions
``MATCH(field, "query")`` (the DSL analyzed-match clause),
``MATCH_PHRASE(field, "query")`` (the positional phrase clause, 8.18),
``TERM(field, value)`` (exact un-analyzed equality, 8.16),
``MULTI_MATCH("query", f1, f2, …)`` (per-field match OR, 8.18),
``QSTR("field:query …")`` (the Lucene query-string grammar),
``KQL("field:value and …")`` (the Kibana Query Language grammar,
plans/kql.py, 8.17; for QSTR/KQL bare terms reject loudly — a flat
frame has no index mapping to supply default fields) and
``KNN(field, [v…], k)`` (9.1 — pre-filtered exact knn: rounded
cosine vs a literal vector, tie-inclusive k-th boundary from one
bounded plan-build job; scores the cosine under METADATA _score).
``CATEGORIZE(msg)`` is the
STATS-BY log-categorization key — the deterministic exact-signature
contract of the categorize_text agg (number-bearing tokens removed,
pure codegen; live ES runs the drain-style ML categorizer — documented
divergence).  ``BUCKET(ts, 1 hour)`` /
``BUCKET(v, 50)`` is the STATS-BY date/numeric histogram idiom
(calendar spans via date_trunc, N-unit fixed spans via epoch
flooring, numeric spans via floor-div).  ``NOW()`` rejects (a lazily-re-evaluated now() would
break retry determinism — pass timestamps as literals).  Aggregates:
COUNT(*) COUNT SUM AVG MIN MAX COUNT_DISTINCT MEDIAN PERCENTILE —
SUM/AVG are decimal-routed like every additive float agg in this
engine (order-exact, oracle-hashable); MEDIAN/PERCENTILE are exact
(live ES|QL uses TDigest — the documented oracle-favoring divergence
class of the `percentiles` agg).

Rendering: each stage is Spark-SQL text parsed once.  The full-text
functions read the query-DSL clause renderer's text
(``query_dsl.query_sql``; the DSL score compiler's SQL build of the
clause is its ``METADATA _score`` contribution) and the spatial ones the
geo renderers' text.  Only two Columns enter as bridges
(``operators.util.bridge``): the KNN similarity and the CATEGORIZE key.

Reference parity: the reference engine has no ES|QL; this surface
covers the consumer who queries the LOADED index through ES|QL instead
of the search DSL (public ES|QL docs are the semantic source).
"""

from __future__ import annotations

import re
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.util import (
    bridge, drop_bridges, sql_literal, sql_path, sql_string, with_bridges,
)

__all__ = ["esql"]


# --------------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r'''\s*(?:
        (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<number>\d+\.\d+|\d+)
      | (?P<quoted_id>`[^`]+`)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
      | (?P<op>==|!=|<=|>=|[|(),=<>+\-*/%\[\]])
    )''',
    re.X,
)


class _Tok(tuple):
    """A (kind, text) token that also remembers whether it was GLUED to
    the previous token (no whitespace between them) and its 1-based
    column POSITION in the query text.  Equality stays plain tuple
    equality, so every ``t == ("op", "*")`` comparison in the parser
    keeps working; only KEEP/DROP read ``.glued``, and only error
    messages read ``.pos`` — a reject like "unknown column at col 23"
    stays debuggable as the grammar grows (VERDICT r13 #10)."""

    glued: bool
    pos: int

    def __new__(cls, kind: str, text: str, glued: bool, pos: int = 0):
        self = super().__new__(cls, (kind, text))
        self.glued = glued
        self.pos = pos
        return self


#: ES|QL string escapes.  \" and \\ plus the control escapes; anything
#: else after a backslash rejects loudly — passing "\d" through as a
#: literal backslash-d would silently change an RLIKE/GROK pattern,
#: and decoding it as "d" would too (ADVICE r13 #3).
_ESCAPES = {'"': '"', "\\": "\\", "n": "\n", "t": "\t", "r": "\r"}


def _decode_string(raw: str, pos: int) -> str:
    def sub(m: re.Match) -> str:
        ch = m.group(1)
        if ch not in _ESCAPES:
            raise ValueError(
                f"ES|QL: unknown string escape \\{ch} at col {pos} "
                "(supported: \\\" \\\\ \\n \\t \\r)")
        return _ESCAPES[ch]

    return re.sub(r"\\(.)", sub, raw)


def _tokenize(text: str) -> list[_Tok]:
    out: list[_Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            rest = text[pos:].strip()
            if not rest:
                break
            raise ValueError(
                f"ES|QL: cannot tokenize at col "
                f"{pos + len(text[pos:]) - len(text[pos:].lstrip()) + 1}: "
                f"{rest[:30]!r}")
        glued = bool(out) and m.start(m.lastgroup) == pos
        col = m.start(m.lastgroup) + 1
        pos = m.end()
        if m.lastgroup == "string":
            raw = m.group("string")[1:-1]
            out.append(_Tok("str", _decode_string(raw, col), glued, col))
        elif m.lastgroup == "number":
            out.append(_Tok("num", m.group("number"), glued, col))
        elif m.lastgroup == "quoted_id":
            out.append(_Tok("id", m.group("quoted_id")[1:-1], glued, col))
        elif m.lastgroup == "ident":
            out.append(_Tok("id", m.group("ident"), glued, col))
        else:
            out.append(_Tok("op", m.group("op"), glued, col))
    return out


def _at(t) -> str:
    """' at col N' suffix for error messages, when the token carries a
    position (hand-built tuples in tests may not)."""
    p = getattr(t, "pos", 0)
    return f" at col {p}" if p else ""


def _split_pipes(toks: list[tuple[str, str]]) -> list[list[tuple[str, str]]]:
    # paren-depth-aware: FORK branches carry their own '|' pipelines
    # inside parentheses, which are NOT top-level stage breaks
    stages: list[list[tuple[str, str]]] = [[]]
    depth = 0
    for t in toks:
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        if t == ("op", "|") and depth == 0:
            stages.append([])
        else:
            stages[-1].append(t)
    return [s for s in stages if s]


def _parse_wkt(s: str) -> dict:
    """Literal WKT → the GeoJSON-shaped dict query_dsl._shape_intersects
    compiles (coordinates in [lon, lat] order, exactly WKT's x-y).
    Supported: POINT, POLYGON (outer ring + holes), MULTIPOLYGON —
    the same shape grammar as the DSL geo_shape clause; anything else
    rejects loudly."""
    import re as _re

    txt = s.strip()

    def coord(tok: str) -> float:
        # one number grammar for POINT and ring coordinates (whatever
        # finite float() takes, incl. exponents), one loud error
        # otherwise — float() also accepts nan/inf, which are not
        # coordinates
        import math as _math

        try:
            v = float(tok)
        except ValueError:
            v = _math.nan
        if not _math.isfinite(v):
            raise ValueError(
                f"ES|QL: malformed WKT number {tok!r} in {s!r}")
        return v

    def pair(text: str) -> list[float]:
        xy = text.split()
        if len(xy) != 2:
            raise ValueError(
                f"ES|QL: malformed WKT coordinate {text.strip()!r} "
                f"in {s!r}")
        return [coord(xy[0]), coord(xy[1])]

    m = _re.match(r"(?is)^POINT\s*\(([^()]*)\)$", txt)
    if m:
        return {"type": "point", "coordinates": pair(m.group(1))}

    def rings(body: str) -> list[list[list[float]]]:
        out = []
        for ring in _re.findall(r"\(([^()]*)\)", body):
            out.append([pair(p) for p in ring.split(",")])
        if not out:
            raise ValueError(f"ES|QL: WKT has no coordinate rings: {s!r}")
        return out

    m = _re.match(r"(?is)^POLYGON\s*\((.*)\)$", txt)
    if m:
        return {"type": "polygon", "coordinates": rings(m.group(1))}
    m = _re.match(r"(?is)^MULTIPOLYGON\s*\((.*)\)$", txt)
    if m:
        body = m.group(1)
        polys, depth, start = [], 0, None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append(rings(body[start:i + 1]))
        if not polys:
            raise ValueError(f"ES|QL: empty WKT MULTIPOLYGON: {s!r}")
        return {"type": "multipolygon", "coordinates": polys}
    raise ValueError(
        f"ES|QL: unsupported WKT {s!r} (POINT | POLYGON | MULTIPOLYGON)")


# ---------------------------------------------------------- expression parse
#
# Every expression renders as Spark-SQL text in plain Python and is
# parsed ONCE per stage (``df.where(str)`` / one ``F.expr``): a py4j
# round trip costs ~0.5 ms on a PySpark driver, so building each node
# through the Column API made one ES|QL compile cost 0.3-1 s of pure
# driver latency (es_esql_ip measured ~1 830 calls).  The two calls that
# reuse a Column builder (KNN, CATEGORIZE) are BRIDGES (``_P._bridge``):
# the stage that parsed the expression projects its bridges just before
# its own operator (``with_bridges``) and drops them after it
# (``drop_bridges``), so a bridge composes under any operator and no
# hidden column reaches the output frame.


def _num_sql(text: str) -> str:
    """Numeric token text → SQL literal matching ``F.lit``'s types: a
    bare SQL decimal like ``2.5`` parses as DECIMAL(2,1), but
    ``F.lit(2.5)`` is a DOUBLE — the D suffix keeps the tiers
    identical.  Integers parse to int/bigint on both paths."""
    return text + "D" if "." in text else text


class _P:
    """Recursive-descent parser over the token list of one stage slice.

    Expression methods return Spark-SQL text.  ``bridges`` collects the
    (hidden name, Column) pairs of bridge calls; the sub-parsers of one
    stage share the stage parser's list so the names stay unique."""

    def __init__(self, toks: list[tuple[str, str]],
                 bridges: list | None = None):
        self.toks = toks
        self.i = 0
        self.bridges = [] if bridges is None else bridges

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _bridge(self, col: Column) -> str:
        """Register a bridge Column; return its hidden name as SQL."""
        return bridge(self.bridges, col)

    def _ft(self, dsl: dict) -> str:
        """One full-text WHERE function's predicate, the DSL clause's
        SQL (``query_dsl.query_sql``); when a METADATA _score compile is
        active, also record the clause's score contribution, collected
        by _stage_where after the filter applies.  The contribution is
        the DSL scorer's SQL build of the clause
        (plans/scoring._ScoreCompiler), gated on the same predicate
        text, which re-evaluates on the rows the WHERE keeps.  The
        statistics it reads are declared on the stage's
        ``CorpusStats``, which _stage_where attaches."""
        from .query_dsl import query_sql

        pred = query_sql(dsl)
        if _SCORE_CTX is not None:
            from .scoring import CorpusStats, _ScoreCompiler

            if getattr(self, "scorer", None) is None:
                self.scorer = _ScoreCompiler("_id", CorpusStats(1.2, 0.75))
            self._contribute(self.scorer.build(dsl, pred))
        return pred

    def _contribute(self, score: str) -> None:
        """Add one clause's SQL score to this stage's METADATA _score
        contributions."""
        contribs = getattr(self, "score_contribs", None) or []
        contribs.append(score)
        self.score_contribs = contribs

    def peek_kw(self) -> str | None:
        t = self.peek()
        return t[1].upper() if t and t[0] == "id" else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ValueError("ES|QL: unexpected end of input")
        self.i += 1
        return t

    def expect_op(self, op: str) -> None:
        t = self.next()
        if t != ("op", op):
            raise ValueError(
                f"ES|QL: expected {op!r}, got {t[1]!r}{_at(t)}")

    def done(self) -> bool:
        return self.i >= len(self.toks)

    # precedence climbing: OR < AND < NOT < cmp < add < mul < unary;
    # operands compose as parenthesized SQL text
    def expr(self) -> str:
        return self._or()

    def _or(self) -> str:
        left = self._and()
        while self.peek_kw() == "OR":
            self.next()
            left = f"({left} OR {self._and()})"
        return left

    def _and(self) -> str:
        left = self._not()
        while self.peek_kw() == "AND":
            self.next()
            left = f"({left} AND {self._not()})"
        return left

    def _not(self) -> str:
        if self.peek_kw() == "NOT":
            self.next()
            return f"(NOT {self._not()})"
        return self._cmp()

    def _cmp(self) -> str:
        left = self._add()
        t = self.peek()
        if t and t[0] == "op" and t[1] in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self._add()
            op = "=" if t[1] == "==" else t[1]
            return f"({left} {op} {right})"
        kw = self.peek_kw()
        if kw == "LIKE":
            self.next()
            t2 = self.next()
            if t2[0] != "str":
                raise ValueError("ES|QL: LIKE needs a string pattern")
            from .query_dsl import _wildcard_to_regex

            return f"({left} RLIKE {sql_string(_wildcard_to_regex(t2[1]))})"
        if kw == "RLIKE":
            self.next()
            t2 = self.next()
            if t2[0] != "str":
                raise ValueError("ES|QL: RLIKE needs a string pattern")
            return f"({left} RLIKE {sql_string(t2[1])})"
        if kw == "IN":
            self.next()
            self.expect_op("(")
            vals = [self._literal_value()]
            while self.peek() == ("op", ","):
                self.next()
                vals.append(self._literal_value())
            self.expect_op(")")
            return f"({left} IN ({', '.join(map(sql_literal, vals))}))"
        if kw == "IS":
            self.next()
            neg = False
            if self.peek_kw() == "NOT":
                self.next()
                neg = True
            t2 = self.next()
            if not (t2[0] == "id" and t2[1].upper() == "NULL"):
                raise ValueError("ES|QL: IS must be followed by [NOT] NULL")
            return f"({left} IS {'NOT ' if neg else ''}NULL)"
        return left

    def _add(self) -> str:
        left = self._mul()
        while True:
            t = self.peek()
            if not (t and t[0] == "op" and t[1] in ("+", "-")):
                return left
            self.next()
            left = f"({left} {t[1]} {self._mul()})"

    def _mul(self) -> str:
        left = self._unary()
        while True:
            t = self.peek()
            if not (t and t[0] == "op" and t[1] in ("*", "/", "%")):
                return left
            self.next()
            left = f"({left} {t[1]} {self._unary()})"

    def _unary(self) -> str:
        if self.peek() == ("op", "-"):
            self.next()
            return f"(- {self._unary()})"
        return self._primary()

    def _literal_value(self):
        t = self.next()
        if t[0] == "str":
            return t[1]
        if t[0] == "num":
            return float(t[1]) if "." in t[1] else int(t[1])
        if t == ("op", "-"):
            t2 = self.next()
            if t2[0] != "num":
                raise ValueError("ES|QL: expected a number after '-'")
            return -(float(t2[1]) if "." in t2[1] else int(t2[1]))
        raise ValueError(f"ES|QL: expected a literal, got {t[1]!r}")

    def _primary(self) -> str:
        t = self.next()
        if t[0] == "str":
            return sql_string(t[1])
        if t[0] == "num":
            return _num_sql(t[1])
        if t == ("op", "("):
            inner = self.expr()
            self.expect_op(")")
            return inner
        if t[0] != "id":
            raise ValueError(f"ES|QL: unexpected token {t[1]!r}{_at(t)}")
        name, up = t[1], t[1].upper()
        if up in ("TRUE", "FALSE", "NULL"):
            return up
        if self.peek() == ("op", "("):
            self.next()
            return self._call(up)
        return sql_path(name)

    def _call(self, fn: str) -> str:
        if fn == "COUNT" and self.peek() == ("op", "*"):
            # COUNT(*) parses here so '*' never reaches the expr grammar
            self.next()
            self.expect_op(")")
            gate = getattr(self, "agg_where", None)
            if gate is not None:  # per-aggregate WHERE (ES 8.16)
                return f"count(CASE WHEN {gate} THEN TRUE END)"
            return "count(1)"
        if fn == "TOP":
            # ES|QL TOP(field, limit, "asc"|"desc") aggregate — the
            # top-N values as a multivalue; limit/order are literals
            # (plan-time), the build is sort_array over collect_list +
            # slice (reduce-phase sized per group, deterministic order)
            arg = self.expr()
            self.expect_op(",")
            nt = self.next()
            if nt[0] != "num" or "." in nt[1] or int(nt[1]) < 1:
                raise ValueError(
                    f"ES|QL: TOP limit must be a positive integer "
                    f"literal{_at(nt)}")
            self.expect_op(",")
            ot = self.next()
            if ot[0] != "str" or ot[1].lower() not in ("asc", "desc"):
                raise ValueError(
                    f"ES|QL: TOP order must be \"asc\" or \"desc\""
                    f"{_at(ot)}")
            self.expect_op(")")
            gate = getattr(self, "agg_where", None)
            if gate is not None:
                arg = f"CASE WHEN {gate} THEN {arg} END"
            asc = "true" if ot[1].lower() == "asc" else "false"
            return (f"slice(sort_array(collect_list({arg}), {asc}), "
                    f"1, {int(nt[1])})")
        if fn == "SAMPLE":
            # ES|QL SAMPLE(field, limit) aggregate (8.16): a subset of
            # the group's values as a multivalue.  Live ES samples
            # RANDOMLY; randomness breaks retry determinism and oracle
            # replay, so the deterministic variant keeps the `limit`
            # values with the smallest (md5-of-value, value) key —
            # value-dependent and uniform-ish, stable across
            # runs/partitionings, replayable in SQL (the random_sampler
            # family's documented-divergence argument).  NULLs are
            # skipped like every aggregate; the limit is a plan-time
            # literal like TOP's.
            arg = self.expr()
            self.expect_op(",")
            nt = self.next()
            if nt[0] != "num" or "." in nt[1] or int(nt[1]) < 1:
                raise ValueError(
                    f"ES|QL: SAMPLE limit must be a positive integer "
                    f"literal{_at(nt)}")
            self.expect_op(")")
            gate = getattr(self, "agg_where", None)
            if gate is not None:
                arg = f"CASE WHEN {gate} THEN {arg} END"
            keyed = (f"CASE WHEN ({arg} IS NOT NULL) THEN "
                     f"named_struct('h', md5(CAST({arg} AS STRING)), "
                     f"'v', {arg}) END")
            return (f"transform(slice(array_sort("
                    f"collect_list({keyed})), 1, {int(nt[1])}), "
                    f"x -> x.v)")
        if fn == "DATE_TRUNC":
            # ES|QL time-span first argument: DATE_TRUNC(1 day, ts)
            n = self.next()
            unit_t = self.next()
            if n[0] != "num" or unit_t[0] != "id":
                raise ValueError(
                    "ES|QL: DATE_TRUNC needs a time-span literal, e.g. "
                    "DATE_TRUNC(1 day, ts)")
            unit = unit_t[1].lower().rstrip("s")
            if int(n[1]) != 1 or unit not in (
                    "minute", "hour", "day", "week", "month",
                    "quarter", "year"):
                raise ValueError(
                    f"ES|QL: unsupported DATE_TRUNC span {n[1]} {unit_t[1]} "
                    "(1 minute|hour|day|week|month|quarter|year)")
            self.expect_op(",")
            arg = self.expr()
            self.expect_op(")")
            return f"date_trunc({sql_string(unit)}, {arg})"
        if fn == "BUCKET":
            # ES|QL BUCKET(field, span): the date-histogram idiom of
            # STATS … BY.  Two span forms (the 4-arg auto-range form
            # rejects loudly — pick the span explicitly):
            #   BUCKET(ts, 1 hour)   time span — calendar units
            #     (week/month/quarter/year, count must be 1) compile to
            #     date_trunc; fixed units (minute/hour/day) with count>1
            #     compile to epoch flooring, aligned to the epoch like
            #     ES date_histogram fixed_interval (timestamp_ntz inputs
            #     assume the session timezone, which this engine pins to
            #     UTC)
            #   BUCKET(v, 50)        numeric span — floor(v/50)*50
            arg = self.expr()
            self.expect_op(",")
            t = self.peek()
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
            if t is not None and t[0] == "num" and nxt is not None \
                    and nxt[0] == "id":
                self.next()
                unit_t = self.next()
                self.expect_op(")")
                count = int(t[1]) if "." not in t[1] else 0
                unit = unit_t[1].lower().rstrip("s")
                fixed = {"minute": 60, "hour": 3600, "day": 86400}
                if unit in ("week", "month", "quarter", "year"):
                    if count != 1:
                        raise ValueError(
                            f"ES|QL: BUCKET calendar span must be "
                            f"1 {unit} (got {t[1]}{_at(t)})")
                    return f"date_trunc({sql_string(unit)}, {arg})"
                if unit not in fixed or count < 1:
                    raise ValueError(
                        f"ES|QL: unsupported BUCKET span {t[1]} "
                        f"{unit_t[1]}{_at(t)} (N minute|hour|day or "
                        "1 week|month|quarter|year)")
                if count == 1:
                    return f"date_trunc({sql_string(unit)}, {arg})"
                secs = count * fixed[unit]
                return ("timestamp_seconds((FLOOR((CAST(CAST("
                        f"{arg} AS TIMESTAMP) AS DOUBLE) / {secs})) "
                        f"* {secs}))")
            span = self.expr()
            if self.peek() == ("op", ","):
                raise ValueError(
                    "ES|QL: the 4-argument auto-range BUCKET is not "
                    "supported — pass the span explicitly, e.g. "
                    "BUCKET(v, 50) or BUCKET(ts, 1 hour)")
            self.expect_op(")")
            return f"(FLOOR(({arg} / {span})) * {span})"
        if fn == "DATE_FORMAT":
            # ES|QL: DATE_FORMAT("yyyy-MM-dd", date) — format FIRST,
            # and it must be a literal
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    "ES|QL: DATE_FORMAT needs a literal format string "
                    f"first{_at(t)}")
            self.expect_op(",")
            arg = self.expr()
            self.expect_op(")")
            return f"date_format({arg}, {sql_string(t[1])})"
        if fn == "DATE_DIFF":
            # DATE_DIFF("hour", start, end): signed count of WHOLE
            # fixed-width units from start to end, truncated toward
            # zero (ES|QL semantics).  Calendar units (month/quarter/
            # year) are calendar-dependent and reject loudly.
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: DATE_DIFF needs a literal unit first{_at(t)}")
            unit = t[1].lower().rstrip("s")
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 604800,
                    "millisecond": 0.001}.get(unit)
            if secs is None:
                raise ValueError(
                    f"ES|QL: unsupported DATE_DIFF unit {t[1]!r}{_at(t)} "
                    "(millisecond|second|minute|hour|day|week — calendar "
                    "units are not fixed-width)")
            self.expect_op(",")
            start = self.expr()
            self.expect_op(",")
            end = self.expr()
            self.expect_op(")")
            d = (f"(CAST(CAST({end} AS TIMESTAMP) AS DOUBLE) - "
                 f"CAST(CAST({start} AS TIMESTAMP) AS DOUBLE))")
            return f"CAST(({d} / {sql_literal(float(secs))}) AS BIGINT)"
        if fn == "DATE_EXTRACT":
            # DATE_EXTRACT("year", date) — java.time ChronoField names,
            # case-insensitive, mapped to codegen date functions.
            # DAY_OF_WEEK is ISO (Monday=1..Sunday=7), unlike Spark's
            # dayofweek (Sunday=1) — weekday()+1 matches ChronoField.
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: DATE_EXTRACT needs a literal ChronoField "
                    f"name first{_at(t)}")
            field = t[1].lower()
            sql_fns = {
                "year": "year({0})", "month_of_year": "month({0})",
                "day_of_month": "dayofmonth({0})",
                "day_of_year": "dayofyear({0})",
                "hour_of_day": "hour({0})",
                "minute_of_hour": "minute({0})",
                "second_of_minute": "second({0})",
                "day_of_week": "(weekday({0}) + 1)",
            }
            if field not in sql_fns:
                raise ValueError(
                    f"ES|QL: unsupported DATE_EXTRACT field "
                    f"{t[1]!r}{_at(t)} (supported: "
                    f"{' '.join(sorted(sql_fns))})")
            self.expect_op(",")
            arg = self.expr()
            self.expect_op(")")
            return f"CAST({sql_fns[field].format(arg)} AS BIGINT)"
        if fn == "MV_SORT":
            # MV_SORT(field[, "ASC"|"DESC"]) — the order is a literal
            # (round-14 review: the 1-arg lambda silently dropped it)
            arg = self.expr()
            asc = True
            if self.peek() == ("op", ","):
                self.next()
                t = self.next()
                if t[0] != "str" or t[1].upper() not in ("ASC", "DESC"):
                    raise ValueError(
                        'ES|QL: MV_SORT order must be the literal '
                        f'"ASC" or "DESC"{_at(t)}')
                asc = t[1].upper() == "ASC"
            self.expect_op(")")
            return f"sort_array({arg}, {'true' if asc else 'false'})"
        if fn == "DATE_PARSE":
            # ES|QL DATE_PARSE(pattern, string) — the pattern is a
            # literal (Spark's to_timestamp takes a Python format
            # string).  Malformed values THROW under ANSI (the
            # engine's anti-silent contract; live ES nulls them with a
            # warning header a flat frame cannot carry).
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: DATE_PARSE needs a literal pattern first"
                    f"{_at(t)}")
            self.expect_op(",")
            arg = self.expr()
            self.expect_op(")")
            return f"to_timestamp({arg}, {sql_string(t[1])})"
        if fn == "IP_PREFIX":
            # ES|QL IP_PREFIX(ip, v4_len, v6_len): mask to the network
            # prefix and render — uint32 math through the SAME guarded
            # parse as TO_IP, rendered back by
            # functions/ip.ip_from_long_spark.  v6_len is accepted for
            # signature parity and validated, but IPv6 DATA rejects
            # loudly like everywhere else in the engine (functions/ip.py
            # module contract).
            from ..functions.ip import ip_from_long_spark

            arg = self.expr()
            self.expect_op(",")
            v4t = self.next()
            if v4t[0] != "num" or "." in v4t[1] \
                    or not 0 <= int(v4t[1]) <= 32:
                raise ValueError(
                    f"ES|QL: IP_PREFIX v4 length must be an integer "
                    f"literal in [0, 32]{_at(v4t)}")
            self.expect_op(",")
            v6t = self.next()
            if v6t[0] != "num" or "." in v6t[1] \
                    or not 0 <= int(v6t[1]) <= 128:
                raise ValueError(
                    f"ES|QL: IP_PREFIX v6 length must be an integer "
                    f"literal in [0, 128]{_at(v6t)}")
            self.expect_op(")")
            mask = 0xFFFFFFFF ^ ((1 << (32 - int(v4t[1]))) - 1)
            return ip_from_long_spark(f"({_to_ip_sql(arg)} & {mask})")
        if fn == "MV_CONCAT":
            # MV_CONCAT(string_mv, delim) — the delimiter is a literal
            arg = self.expr()
            self.expect_op(",")
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: MV_CONCAT delimiter must be a literal "
                    f"string{_at(t)}")
            self.expect_op(")")
            return f"array_join({arg}, {sql_string(t[1])})"
        if fn == "SPLIT":
            # ES|QL SPLIT(str, delim) splits on the LITERAL delimiter
            # (not a regex) — the literal requirement lets the compiler
            # regex-escape it for Spark's split
            arg = self.expr()
            self.expect_op(",")
            t = self.next()
            if t[0] != "str" or not t[1]:
                raise ValueError(
                    "ES|QL: SPLIT needs a non-empty literal delimiter "
                    f"string{_at(t)}")
            self.expect_op(")")
            return f"split({arg}, {sql_string(re.escape(t[1]))})"
        if fn == "LOCATE":
            # ES|QL LOCATE(string, substring[, start]) — 1-based, 0 when
            # absent; the substring must be a literal
            arg = self.expr()
            self.expect_op(",")
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: LOCATE needs a literal substring{_at(t)}")
            start = 1
            if self.peek() == ("op", ","):
                self.next()
                st = self.next()
                if st[0] != "num":
                    raise ValueError(
                        f"ES|QL: LOCATE start must be an integer "
                        f"literal{_at(st)}")
                start = int(st[1])
            self.expect_op(")")
            return f"locate({sql_string(t[1])}, {arg}, {start})"
        if fn in ("MATCH", "QSTR", "MATCH_PHRASE", "TERM",
                  "MULTI_MATCH", "KQL", "KNN"):
            # ES|QL full-text WHERE functions (ES 8.14→8.18): the
            # bridge from the ES|QL grammar into the query-DSL
            # compilers — MATCH(field, "query") compiles the DSL match
            # clause (analyzed OR-of-terms, plans/query_dsl.query_sql),
            # MATCH_PHRASE(field, "query") the positional phrase clause,
            # TERM(field, value) the un-analyzed exact term clause,
            # MULTI_MATCH("query", f1, f2, …) the per-field match OR,
            # QSTR("field:query …") the Lucene query-string grammar
            # (plans/query_string.parse_query_string) and KQL("…") the
            # Kibana Query Language grammar (plans/kql.parse_kql).  All
            # are codegen boolean predicates over the analyzed token
            # stream, so a WHERE on them pushes like any other filter.
            # Live ES restricts full-text functions to WHERE; the same
            # rule applies here.  Under ``FROM … METADATA _score``
            # (9.1) MATCH/MATCH_PHRASE/TERM/MULTI_MATCH additionally
            # contribute their clause scores (_P._ft);
            # QSTR/KQL stay filter-only and reject in a scored query.
            if not getattr(self, "in_where", False):
                raise ValueError(
                    f"ES|QL: {fn}() is a full-text function and is "
                    "only allowed in WHERE (like live ES|QL)")
            from .query_dsl import query_sql

            if fn == "KNN":
                # ES|QL 9.1 KNN(field, [v, …][, k]) — keep the rows
                # whose ROUNDED cosine similarity to the literal query
                # vector reaches the k-th best over the frame AT THIS
                # WHERE (pre-filtered knn, the retriever-filter
                # semantic).  The boundary similarity is ONE bounded
                # eager top-k job at plan build (the rescore-collect
                # precedent); the per-row cosine is the engine's
                # canonical rounded-before-rank exact cosine
                # (operators/similarity._cosine_to_literal), so rows
                # TYING the k-th similarity are all kept — live ES
                # returns exactly k; the tie-inclusive cut is the
                # deterministic documented divergence.  Under METADATA
                # _score the match contributes the rounded cosine (the
                # knn retriever's score convention).
                from ..operators.similarity import _cosine_to_literal

                fld = self.next()
                if fld[0] != "id":
                    raise ValueError(
                        f"ES|QL: KNN needs a field name first, got "
                        f"{fld[1]!r}{_at(fld)}")
                self.expect_op(",")
                self.expect_op("[")
                qv: list[float] = []
                while True:
                    neg = False
                    if self.peek() == ("op", "-"):
                        self.next()
                        neg = True
                    t = self.next()
                    if t[0] != "num":
                        raise ValueError(
                            f"ES|QL: KNN query vector must be numeric "
                            f"literals, got {t[1]!r}{_at(t)}")
                    qv.append(-float(t[1]) if neg else float(t[1]))
                    nxt = self.next()
                    if nxt == ("op", "]"):
                        break
                    if nxt != ("op", ","):
                        raise ValueError(
                            f"ES|QL: expected ',' or ']' in the KNN "
                            f"query vector, got {nxt[1]!r}{_at(nxt)}")
                k = 10
                if self.peek() == ("op", ","):
                    self.next()
                    kt = self.next()
                    if kt[0] != "num" or "." in kt[1] or int(kt[1]) < 1:
                        raise ValueError(
                            f"ES|QL: KNN k must be a positive integer "
                            f"literal{_at(kt)}")
                    k = int(kt[1])
                self.expect_op(")")
                frame = getattr(self, "frame", None)
                if frame is None:
                    raise ValueError(
                        "ES|QL: KNN needs the WHERE frame context")
                qarr = F.array(*[F.lit(x) for x in qv])
                sim = F.round(
                    _cosine_to_literal(F.col(fld[1]), qarr, qv), 6)
                boundary = [r[0] for r in frame.select(sim.alias("_s"))
                            .where(F.col("_s").isNotNull())
                            .orderBy(F.col("_s").desc()).limit(k)
                            .collect()]
                s = self._bridge(sim)
                # no boundary: no comparable vectors at all
                pred = (f"({s} >= {sql_literal(float(boundary[-1]))})"
                        if boundary else "FALSE")
                if _SCORE_CTX is not None:
                    self._contribute(f"CASE WHEN {pred} THEN {s} ELSE 0.0D END")
                return pred
            if fn in ("MATCH", "MATCH_PHRASE"):
                fld = self.next()
                if fld[0] != "id":
                    raise ValueError(
                        f"ES|QL: {fn} needs a field name first, got "
                        f"{fld[1]!r}{_at(fld)}")
                self.expect_op(",")
                qt = self.next()
                if qt[0] != "str":
                    raise ValueError(
                        f"ES|QL: {fn} query must be a literal string"
                        f"{_at(qt)}")
                if self.peek() == ("op", ","):
                    raise ValueError(
                        f"ES|QL: {fn} named options "
                        "(operator/fuzziness/slop/…) are not supported "
                        "— use the query DSL clause for those")
                self.expect_op(")")
                kind = "match" if fn == "MATCH" else "match_phrase"
                return self._ft({kind: {fld[1]: qt[1]}})
            if fn == "TERM":
                # ES 8.16 TERM(field, value): exact un-analyzed
                # equality (the DSL term clause — value literal may be
                # a string or a number, like the DSL)
                fld = self.next()
                if fld[0] != "id":
                    raise ValueError(
                        f"ES|QL: TERM needs a field name first, got "
                        f"{fld[1]!r}{_at(fld)}")
                self.expect_op(",")
                vt = self.next()
                if vt[0] not in ("str", "num"):
                    raise ValueError(
                        "ES|QL: TERM value must be a literal string or "
                        f"number{_at(vt)}")
                self.expect_op(")")
                val = vt[1]
                if vt[0] == "num":
                    val = float(val) if "." in str(val) else int(val)
                return self._ft({"term": {fld[1]: val}})
            if fn == "MULTI_MATCH":
                # ES 8.18 MULTI_MATCH("query", field1, field2, …):
                # the DSL multi_match in filter context (per-field
                # analyzed match, OR across fields)
                qt = self.next()
                if qt[0] != "str":
                    raise ValueError(
                        "ES|QL: MULTI_MATCH needs a literal query "
                        f"string first{_at(qt)}")
                fields = []
                while self.peek() == ("op", ","):
                    self.next()
                    ft = self.next()
                    if ft[0] != "id":
                        raise ValueError(
                            "ES|QL: MULTI_MATCH fields must be column "
                            f"names, got {ft[1]!r}{_at(ft)} (named "
                            "options are not supported — use the query "
                            "DSL multi_match for those)")
                    fields.append(ft[1])
                self.expect_op(")")
                if not fields:
                    raise ValueError(
                        "ES|QL: MULTI_MATCH needs at least one field "
                        "after the query string")
                return self._ft(
                    {"multi_match": {"query": qt[1], "fields": fields}})
            if fn == "KQL":
                qt = self.next()
                if qt[0] != "str":
                    raise ValueError(
                        f"ES|QL: KQL needs a literal query string"
                        f"{_at(qt)}")
                if self.peek() == ("op", ","):
                    raise ValueError(
                        "ES|QL: KQL options are not supported — "
                        "express them inside the KQL string")
                self.expect_op(")")
                from .kql import parse_kql

                # bare terms reject loudly inside the KQL parser (live
                # KQL falls back to every mapped field — no mapping in
                # a flat frame), same policy as QSTR below
                if _SCORE_CTX is not None:
                    raise ValueError(
                        "ES|QL: KQL() is filter-only and cannot "
                        "contribute to METADATA _score — score with "
                        "MATCH/MATCH_PHRASE/TERM/MULTI_MATCH")
                return query_sql(parse_kql(qt[1]))
            qt = self.next()
            if qt[0] != "str":
                raise ValueError(
                    f"ES|QL: QSTR needs a literal query string{_at(qt)}")
            if self.peek() == ("op", ","):
                raise ValueError(
                    "ES|QL: QSTR options are not supported — "
                    "field-qualify terms inside the query string")
            self.expect_op(")")
            # no default_field: bare terms reject loudly inside the
            # query-string parser (live QSTR falls back to *all*
            # indexed fields — a flat frame has no index mapping to
            # enumerate, so requiring field: prefixes is the honest
            # subset)
            if _SCORE_CTX is not None:
                raise ValueError(
                    "ES|QL: QSTR() is filter-only and cannot "
                    "contribute to METADATA _score — score with "
                    "MATCH/MATCH_PHRASE/TERM/MULTI_MATCH")
            return query_sql({"query_string": {"query": qt[1]}})
        if fn in ("TO_GEOPOINT", "TO_GEOSHAPE"):
            # literal WKT only: a geo column in a flat frame IS a
            # struct{lat,lon} column already (the DSL geo clauses'
            # representation) — the cast functions exist to spell
            # query constants, like live ES|QL's literal usage
            t = self.next()
            if t[0] != "str":
                raise ValueError(
                    f"ES|QL: {fn} takes a literal WKT string{_at(t)} "
                    "(point fields are struct{lat,lon} columns — use "
                    "them directly)")
            self.expect_op(")")
            shape = _parse_wkt(t[1])
            if fn == "TO_GEOPOINT":
                if shape["type"] != "point":
                    raise ValueError(
                        f"ES|QL: TO_GEOPOINT needs a WKT POINT, got "
                        f"{t[1]!r}")
                lon, lat = shape["coordinates"]
                return (f"named_struct('lat', {sql_literal(lat)}, "
                        f"'lon', {sql_literal(lon)})")
            # TO_GEOSHAPE outside an ST_* argument has no column
            # meaning (shapes are plan-time literals, not row values)
            raise ValueError(
                "ES|QL: TO_GEOSHAPE is only usable as an ST_INTERSECTS/"
                "ST_CONTAINS/ST_WITHIN argument (a shape literal is "
                "plan-time state, not a column)")
        if fn in ("ST_DISTANCE", "ST_INTERSECTS", "ST_CONTAINS",
                  "ST_WITHIN", "ST_X", "ST_Y",
                  "ST_GEOHASH", "ST_GEOTILE", "ST_GEOHEX"):
            return self._st_call(fn)
        if fn == "CIDR_MATCH":
            # ES|QL CIDR_MATCH(ip, "block", …) — the blocks are literal
            # CIDR strings, so each folds to a [lo, hi] uint32 compare
            # at plan-build time (functions/ip.py, the same fold as the
            # term-on-ip-field DSL path); the column parses in codegen
            from ..functions import ip as _ip

            arg = self.expr()
            bounds = []
            while self.peek() == ("op", ","):
                self.next()
                t = self.next()
                if t[0] != "str" or not _ip.is_cidr_literal(t[1]):
                    raise ValueError(
                        f"ES|QL: CIDR_MATCH blocks must be literal "
                        f"CIDR strings{_at(t)}")
                bounds.append(_ip.cidr_bounds(t[1]))
            self.expect_op(")")
            if not bounds:
                raise ValueError(
                    "ES|QL: CIDR_MATCH needs at least one CIDR block")
            ipl = _ip.ip_to_long_spark(arg)
            out = "FALSE"
            for lo, hi in bounds:
                out = f"({out} OR (({ipl} >= {lo}) AND ({ipl} <= {hi})))"
            return out
        if fn == "CATEGORIZE":
            # ES|QL CATEGORIZE(field) — the STATS-BY log-categorization
            # grouping function (ES 8.18).  Same deterministic
            # exact-signature contract as the categorize_text agg
            # (documented divergence: live ES runs the drain-style ML
            # categorizer) — literally the SAME construction:
            # query_dsl.categorize_key is the one shared builder
            # (round-14 review), pure codegen, so the groupBy it feeds
            # is one terms-shaped shuffle.  Rows whose tokens are all
            # variable get a NULL category (ES's null bucket).
            from .query_dsl import categorize_key

            arg = self.expr()
            self.expect_op(")")
            return self._bridge(categorize_key(F.expr(arg)))
        args: list = []
        if self.peek() != ("op", ")"):
            args.append(self.expr())
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.expr())
        self.expect_op(")")
        return _compile_fn(fn, args,
                           agg_where=getattr(self, "agg_where", None))

    def _geo_arg(self) -> tuple:
        """One ST_* argument: ('shape', geojson-dict) for a plan-time
        literal (WKT string or TO_GEOSHAPE/TO_GEOPOINT of one), else
        ('point', lat SQL, lon SQL) for a struct{lat,lon} point
        expression."""
        t = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if (t is not None and t[0] == "id"
                and t[1].upper() in ("TO_GEOPOINT", "TO_GEOSHAPE")
                and nxt == ("op", "(")):
            self.next()
            self.next()
            lt = self.next()
            if lt[0] != "str":
                raise ValueError(
                    f"ES|QL: {t[1].upper()} takes a literal WKT "
                    f"string{_at(lt)}")
            self.expect_op(")")
            shape = _parse_wkt(lt[1])
            if t[1].upper() == "TO_GEOPOINT" and shape["type"] != "point":
                raise ValueError(
                    f"ES|QL: TO_GEOPOINT needs a WKT POINT, got "
                    f"{lt[1]!r}")
            return ("shape", shape)
        if t is not None and t[0] == "str":
            self.next()
            return ("shape", _parse_wkt(t[1]))
        e = self.expr()
        return ("point", f"({e}).lat", f"({e}).lon")

    def _st_call(self, fn: str) -> str:
        """ES|QL spatial functions (round 15, VERDICT r14 #3) — the
        grammar bridge onto the DSL geo machinery: ST_DISTANCE is the
        shared haversine (query_dsl.haversine_cols, Lucene earth
        radius, pure codegen trig), the relation predicates compile
        point-in-shape through query_dsl._shape_intersects (the
        geo_shape clause compiler: envelope, polygon + holes,
        multipolygon, even-odd ray cast folded at plan time).  Honest
        subset: geometry COLUMNS are points (struct{lat,lon} — the
        engine's geo_point representation); shape literals are WKT.
        Point-contains-polygon and within-point-of-shape reject loudly
        (constant-false is a user error, not a result).  ST_X/ST_Y and
        the grid keys, the distance and the relations render as SQL."""
        from .query_dsl import _shape_intersects, haversine_cols

        if fn in ("ST_X", "ST_Y"):
            e = self.expr()
            self.expect_op(")")
            return f"{e}.{'lon' if fn == 'ST_X' else 'lat'}"
        if fn in ("ST_GEOHASH", "ST_GEOTILE", "ST_GEOHEX"):
            # ES 8.16 spatial grid functions — the SAME cell renderers
            # as the geohash_grid / geotile_grid / hex_grid bucket aggs
            # (query_dsl.geohash_cell_sql / geotile_cell_sql /
            # hex_cell_sql — pure codegen bit math, one construction
            # per grid so agg and function cannot drift).
            # The key is the agg's STRING key (live ES returns a packed
            # long plus *_TO_STRING converters — the string IS that
            # rendering; documented divergence).  ST_GEOHEX is the
            # engine's documented non-H3 axial hex extension, exactly
            # like the hex_grid agg (live geohex is H3).  Precision is
            # a literal (plan-time), range-checked by the builders.
            from .query_dsl import (
                geohash_cell_sql,
                geotile_cell_sql,
                hex_cell_sql,
            )

            e = self.expr()
            self.expect_op(",")
            pt = self.next()
            if pt[0] != "num" or "." in pt[1]:
                raise ValueError(
                    f"ES|QL: {fn} precision must be an integer "
                    f"literal{_at(pt)}")
            self.expect_op(")")
            build = {"ST_GEOHASH": geohash_cell_sql,
                     "ST_GEOTILE": geotile_cell_sql,
                     "ST_GEOHEX": hex_cell_sql}[fn]
            return build(f"{e}.lat", f"{e}.lon", int(pt[1]))
        a = self._geo_arg()
        self.expect_op(",")
        b = self._geo_arg()
        self.expect_op(")")

        def pt_cols(arg):
            if arg[0] == "point":
                return arg[1], arg[2]
            if arg[1]["type"] != "point":
                return None
            lon, lat = arg[1]["coordinates"]
            return sql_literal(float(lat)), sql_literal(float(lon))

        if fn == "ST_DISTANCE":
            pa, pb = pt_cols(a), pt_cols(b)
            if pa is None or pb is None:
                raise ValueError(
                    "ES|QL: ST_DISTANCE needs two points (shape-to-"
                    "shape distance is not supported)")
            return haversine_cols(pa[0], pa[1], pb[0], pb[1])

        def relation(pa, pb) -> str:
            if pa is not None and pb is not None:  # point/point
                return f"(({pa[0]} = {pb[0]}) AND ({pa[1]} = {pb[1]}))"
            if fn == "ST_INTERSECTS":
                # point/shape, shape/point — symmetric
                if pa is not None:
                    return _shape_intersects(b[1], pa[0], pa[1])
                if pb is not None:
                    return _shape_intersects(a[1], pb[0], pb[1])
                raise ValueError(
                    "ES|QL: ST_INTERSECTS of two non-point shapes is not "
                    "supported (point fields are struct{lat,lon} columns)")
            if fn == "ST_CONTAINS":
                # A contains B: A must be the shape
                if a[0] == "shape" and pb is not None:
                    return _shape_intersects(a[1], pb[0], pb[1])
                raise ValueError(
                    "ES|QL: ST_CONTAINS needs (shape, point) — a point "
                    "cannot contain a non-point shape (constant false; "
                    "use ST_WITHIN(point, shape))")
            # ST_WITHIN — A within B: A must be the point
            if pa is not None and b[0] == "shape":
                return _shape_intersects(b[1], pa[0], pa[1])
            raise ValueError(
                "ES|QL: ST_WITHIN needs (point, shape) — a non-point "
                "shape cannot be within a point (constant false; use "
                "ST_CONTAINS(shape, point))")

        return relation(pt_cols(a), pt_cols(b))


# ---- ES|QL renderers with more structure than one SQL function call.
# A sub-expression interpolated twice is one repeated subtree in the
# analyzed expression, exactly as a reused Column object would be.

def _decimal_sum_sql(a: str) -> str:
    return f"CAST(sum(CAST({a} AS DECIMAL(28,6))) AS DOUBLE)"


def _mv_slice_sql(v: str, start: str, end: str) -> str:
    """ES|QL MV_SLICE semantics on slice()'s 1-based (start, length)
    API: normalize negative indices against the size, clamp into
    range, and an inverted window yields the empty array."""
    n = f"array_size({v})"
    lo = f"CASE WHEN ({start} >= 0) THEN {start} ELSE ({n} + {start}) END"
    hi = f"CASE WHEN ({end} >= 0) THEN {end} ELSE ({n} + {end}) END"
    lo2 = f"greatest({lo}, 0)"
    hi2 = f"least({hi}, ({n} - 1))"
    return (f"CASE WHEN ({v} IS NOT NULL) THEN slice({v}, "
            f"CAST(({lo2} + 1) AS INT), "
            f"CAST(greatest((({hi2} - {lo2}) + 1), 0) AS INT)) END")


def _mv_median_sql(v: str) -> str:
    """Median of a multivalue: sorted array, middle element, or the
    average of the two middles on even cardinality (double)."""
    s = f"sort_array({v})"
    n = f"array_size({v})"
    mid = f"CAST(({n} / 2) AS INT)"
    return (
        f"CASE WHEN ({n} > 0) THEN "
        f"CASE WHEN (({n} % 2) = 1) THEN CAST(get({s}, {mid}) AS DOUBLE) "
        f"ELSE ((CAST(get({s}, ({mid} - 1)) AS DOUBLE) "
        f"+ CAST(get({s}, {mid}) AS DOUBLE)) / 2) END END")


def _mv_percentile_sql(v: str, p: str) -> str:
    """ES|QL MV_PERCENTILE (8.14): value at percentile ``p`` of the
    multivalue, linear interpolation between closest ranks (the same
    method as the PERCENTILE aggregate: pos = p/100·(n−1)), rendered as
    lo + frac·(hi−lo), the canonical quantile_cont form (same FP
    rounding as the DuckDB oracle, not just the same math).  Empty →
    NULL (the MV family's convention); an out-of-range percentile
    raises through an ANSI-cast poison, not raise_error — raise_error is
    non-deterministic and blocks pushdown through the EVAL projection
    (the TO_IP/FUSE lesson, SCALE.md round 15).  Live ES nulls with a
    warning header; a flat frame has no warning channel."""
    s = f"sort_array({v})"
    n = f"array_size({v})"
    pos = f"((CAST({p} AS DOUBLE) / 100.0D) * CAST(({n} - 1) AS DOUBLE))"
    lo = f"CAST(FLOOR({pos}) AS INT)"
    frac = f"({pos} - FLOOR({pos}))"
    lov = f"CAST(get({s}, {lo}) AS DOUBLE)"
    hiv = f"CAST(get({s}, least(({lo} + 1), ({n} - 1))) AS DOUBLE)"
    val = f"({lov} + ({frac} * ({hiv} - {lov})))"
    msg = sql_string("ES|QL: MV_PERCENTILE percentile must be in "
                   "0..100, got ")
    return (
        f"CASE WHEN ({n} > 0) THEN "
        f"CASE WHEN (({p} >= 0) AND ({p} <= 100)) THEN {val} "
        f"ELSE CAST(concat({msg}, CAST({p} AS STRING)) AS DOUBLE) "
        f"END END")


def _mv_mad_sql(v: str) -> str:
    """ES|QL MV_MEDIAN_ABSOLUTE_DEVIATION (8.16): median of the
    absolute deviations from the multivalue's median (both medians via
    the shared even-cardinality-averaging rule, _mv_median_sql).

    The median is materialized ONCE per row via array_repeat and bound
    into the deviation lambda through zip_with's argument — a lambda
    that referenced the median directly would re-evaluate the whole
    median subtree (including its sort_array) PER ELEMENT, turning an
    O(n log n) row into O(n² log n).  Measured on the aggregate form
    (30 k-value groups at sf0.1): 100.8 s → sub-second."""
    med = _mv_median_sql(v)
    devs = (f"zip_with({v}, array_repeat({med}, array_size({v})), "
            f"(x, m) -> abs((CAST(x AS DOUBLE) - m)))")
    return _mv_median_sql(devs)


def _mv_pseries_sql(v: str, p: str) -> str:
    """ES|QL MV_PSERIES_WEIGHTED_SUM (8.14): Σ v[i] / (i+1)^p over the
    multivalue in stored order (i 0-based) — the p-series weighting
    used to fold ranked score lists.  Left-to-right double sum,
    deterministic (one stored order in, one fold order out)."""
    terms = (f"transform({v}, (x, i) -> (CAST(x AS DOUBLE) / "
             f"pow(CAST((i + 1) AS DOUBLE), CAST({p} AS DOUBLE))))")
    return (f"CASE WHEN (array_size({v}) > 0) THEN "
            f"aggregate({terms}, 0.0D, (acc, x) -> (acc + x)) END")


def _to_version_sql(c: str) -> str:
    """ES|QL ``TO_VERSION`` (round 15): string → the engine's
    version ORDERING KEY, so ==/</>/SORT compare semver-aware:
    ``1.0.0-alpha`` < ``1.0.0-alpha.1`` < ``1.0.0`` < ``1.0.10`` <
    ``2.0.0`` and ``9.0.0`` < ``10.0.0``.  Same contract shape as
    TO_IP (the value is the KEY, not a version-rendered string —
    documented divergence; keep the original column for display).

    Key layout, all codegen string math:
    - valid ``major[.minor[.patch[.build]]][-prerelease]``: ``'0'`` +
      four 10-digit zero-padded segments (missing segments pad as 0,
      with the segment COUNT appended so ``1.0`` and ``1.0.0`` stay
      distinct, shorter first) + either ``'~'`` (release — sorts
      after any prerelease, ASCII 126) or ``'-'`` + the prerelease
      identifiers, each keyed ``'0'``+zero-padded when numeric else
      ``'1'``+identifier (SemVer: numeric identifiers compare
      numerically and before alphanumerics; a prefix prerelease sorts
      first via plain string prefix order).  The identifiers join on
      ``','`` (44): BELOW every identifier char (``'-'`` is 45), so a
      prefix prerelease list sorts first even against identifiers that
      themselves contain ``'-'`` (alpha.1 < alpha-1 because alpha <
      alpha-1 — ``'.'`` (46) as separator would invert it).
    - invalid: ``'1'`` + the original string — live ES's version type
      accepts any string and sorts invalid AFTER valid, alphabetically
      (so this is the documented contract, not a silent fallback).
    - NULL passes through."""
    dot = sql_string(r"\.")
    digits = sql_string(r"^\d+$")
    s = f"CAST({c} AS STRING)"
    valid = (f"({s} RLIKE " + sql_string(
        r"^\d+(\.\d+){0,3}(-[0-9A-Za-z-]+(\.[0-9A-Za-z-]+)*)?$") + ")")
    parts = f"split({s}, '-', 2)"
    core = f"get({parts}, 0)"
    segs = f"split({core}, {dot})"
    core_key = "concat_ws('.', " + ", ".join(
        f"lpad(coalesce(get({segs}, {i}), '0'), 10, '0')"
        for i in range(4)) + ")"
    nseg = f"CAST(array_size({segs}) AS STRING)"
    pre = f"get({parts}, 1)"
    pre_key = (
        f"array_join(transform(split({pre}, {dot}), "
        f"t -> CASE WHEN (t RLIKE {digits}) "
        f"THEN concat('0', lpad(t, 10, '0')) "
        f"ELSE concat('1', t) END), ',')")
    tail = (f"CASE WHEN (array_size({parts}) = 2) "
            f"THEN concat('-', {pre_key}) ELSE '~' END")
    return (f"CASE WHEN ({s} IS NULL) THEN CAST(NULL AS STRING) "
            f"WHEN {valid} THEN concat('0', {core_key}, '.', {nseg}, "
            f"{tail}) ELSE concat('1', {s}) END")


def _hash_fn_sql(alg: str, v: str) -> str:
    """ES|QL ``HASH(alg, input)`` (8.16): hex digest of ``input`` under
    the named algorithm — the generalized form of the MD5/SHA1/SHA256
    shortcuts, dispatching over the same JVM digests Spark exposes
    (``md5``/``sha1``/``sha2``).  Algorithm names are matched
    case-insensitively; an unsupported algorithm poisons via ANSI cast
    (CAST_INVALID_INPUT carrying the message — deterministic, so
    pushdown through the EVAL projection survives, unlike
    raise_error).  NULL input → NULL, like the shortcut forms."""
    b = f"CAST({v} AS BINARY)"
    a = f"lower({alg})"
    msg = sql_string("ES|QL: HASH algorithm must be one of md5 sha1 "
                   "sha224 sha256 sha384 sha512, got ")
    poison = f"CAST(concat({msg}, {alg}) AS INT)"
    return (
        f"CASE WHEN ({a} = 'md5') THEN md5({b}) "
        f"WHEN ({a} = 'sha1') THEN sha1({b}) "
        f"WHEN ({a} = 'sha224') THEN sha2({b}, 224) "
        f"WHEN ({a} = 'sha256') THEN sha2({b}, 256) "
        f"WHEN ({a} = 'sha384') THEN sha2({b}, 384) "
        f"WHEN ({a} = 'sha512') THEN sha2({b}, 512) "
        f"ELSE CAST({poison} AS STRING) END")


def _nonneg_count_sql(n: str, fn: str) -> str:
    """Guard for SPACE/REPEAT counts: live ES|QL errors on a negative
    count (Spark's ``repeat`` silently returns "" — a silent-divergence
    trap).  ANSI-cast poison on the negative branch, same rationale as
    _hash_fn_sql."""
    msg = sql_string(f"ES|QL: {fn} count must be non-negative, got ")
    return (f"CASE WHEN ({n} >= 0) THEN {n} ELSE "
            f"CAST(concat({msg}, CAST({n} AS STRING)) AS INT) END")


def _to_ip_sql(c: str) -> str:
    """ES|QL ``TO_IP`` (round 15, VERDICT r14 #4): dotted-quad string →
    uint32 long, the engine's ip ordering key (functions/ip.py — the
    same codegen parse the DSL's term/range-on-ip auto-detection uses),
    so ==/</>/SORT compare numerically: "9.0.0.0" orders BEFORE
    "10.0.0.0".  NULL passes through; a non-NULL value that does not
    parse as IPv4 raises at runtime (live ES nulls it with a warning
    header — a flat frame has no warning channel, so silent NULL would
    hide data corruption; IPv6 rejects like everywhere else in the
    engine).  Documented divergence: the value is the NUMERIC key, not
    an ip-rendered string — feed CIDR_MATCH the original string column.

    The reject is an ANSI-cast poison, not raise_error — raise_error is
    non-deterministic, which blocks filter pushdown through the EVAL
    projection and stops CollapseProject (the FUSE guard lesson,
    SCALE.md round 15); the deterministic cast throws
    CAST_INVALID_INPUT carrying the message under ANSI, the engine's
    documented execution contract."""
    from ..functions.ip import ip_to_long_spark

    s = f"CAST({c} AS STRING)"
    msg_a = sql_string("ES|QL: TO_IP cannot parse ")
    msg_b = sql_string(" as an IPv4 address")
    return (f"CASE WHEN ({s} IS NULL) THEN CAST(NULL AS BIGINT) "
            f"ELSE coalesce({ip_to_long_spark(s)}, "
            f"CAST(concat({msg_a}, {s}, {msg_b}) AS BIGINT)) END")


#: arity bounds for the whitelisted scalars (round-14 review: the bare
#: lambdas silently DROPPED extra arguments — MV_SORT(v, "DESC") came
#: back ascending; now every call is bounds-checked).  (min, max);
#: None = unbounded.
_FN_ARITY: dict[str, tuple[int, int | None]] = {
    "ABS": (1, 1), "CEIL": (1, 1), "FLOOR": (1, 1), "SQRT": (1, 1),
    "POW": (2, 2), "ROUND": (1, 2), "CONCAT": (1, None),
    "LENGTH": (1, 1), "TO_UPPER": (1, 1), "TO_LOWER": (1, 1),
    "TRIM": (1, 1), "LTRIM": (1, 1), "RTRIM": (1, 1),
    "STARTS_WITH": (2, 2), "ENDS_WITH": (2, 2), "COALESCE": (1, None),
    "GREATEST": (2, None), "LEAST": (2, None), "TO_STRING": (1, 1),
    "TO_LONG": (1, 1), "TO_INT": (1, 1), "TO_DOUBLE": (1, 1),
    "SUBSTRING": (2, 3), "REPLACE": (3, 3), "REVERSE": (1, 1),
    "LEFT": (2, 2), "RIGHT": (2, 2), "TO_BOOLEAN": (1, 1),
    "TO_IP": (1, 1), "MD5": (1, 1), "SHA1": (1, 1), "SHA256": (1, 1),
    "TO_DATETIME": (1, 1), "MV_COUNT": (1, 1), "MV_MIN": (1, 1),
    "MV_MAX": (1, 1), "MV_SUM": (1, 1), "MV_AVG": (1, 1),
    "MV_DEDUPE": (1, 1), "MV_FIRST": (1, 1), "MV_LAST": (1, 1),
    "MV_APPEND": (2, 2), "MV_SLICE": (2, 3), "MV_MEDIAN": (1, 1),
    "MV_ZIP": (2, 3),
    "LOG": (1, 2), "LOG10": (1, 1), "EXP": (1, 1), "SIN": (1, 1),
    "COS": (1, 1), "TAN": (1, 1), "ASIN": (1, 1), "ACOS": (1, 1),
    "ATAN": (1, 1), "ATAN2": (2, 2), "SINH": (1, 1), "COSH": (1, 1),
    "TANH": (1, 1), "SIGNUM": (1, 1), "CBRT": (1, 1), "HYPOT": (2, 2),
    "TO_DEGREES": (1, 1), "TO_RADIANS": (1, 1),
    "PI": (0, 0), "E": (0, 0), "TAU": (0, 0),
    "MV_PERCENTILE": (2, 2), "MV_MEDIAN_ABSOLUTE_DEVIATION": (1, 1),
    "MV_PSERIES_WEIGHTED_SUM": (2, 2),
    "SPACE": (1, 1), "REPEAT": (2, 2), "BIT_LENGTH": (1, 1),
    "BYTE_LENGTH": (1, 1), "TO_BASE64": (1, 1), "FROM_BASE64": (1, 1),
    "HASH": (2, 2), "TO_VERSION": (1, 1),
    "ROUND_TO": (2, None), "SCALB": (2, 2), "COPY_SIGN": (2, 2),
    "DAY_NAME": (1, 1), "MONTH_NAME": (1, 1),
}

#: scalar whitelist: name → renderer of the call's Spark-SQL text
_FNS: dict[str, Callable[[list[str]], str]] = {
    "ABS": lambda a: f"abs({a[0]})",
    "CEIL": lambda a: f"ceil({a[0]})",
    "FLOOR": lambda a: f"floor({a[0]})",
    "SQRT": lambda a: f"sqrt({a[0]})",
    "POW": lambda a: f"pow({a[0]}, {a[1]})",
    "ROUND": lambda a: (f"round({a[0]}, 0)" if len(a) == 1
                        else f"round({a[0]}, {a[1]})"),
    "CONCAT": lambda a: f"concat({', '.join(a)})",
    "LENGTH": lambda a: f"length({a[0]})",
    "TO_UPPER": lambda a: f"upper({a[0]})",
    "TO_LOWER": lambda a: f"lower({a[0]})",
    "TRIM": lambda a: f"trim({a[0]})",
    "LTRIM": lambda a: f"ltrim({a[0]})",
    "RTRIM": lambda a: f"rtrim({a[0]})",
    "STARTS_WITH": lambda a: f"startswith({a[0]}, {a[1]})",
    "ENDS_WITH": lambda a: f"endswith({a[0]}, {a[1]})",
    "COALESCE": lambda a: f"coalesce({', '.join(a)})",
    "GREATEST": lambda a: f"greatest({', '.join(a)})",
    "LEAST": lambda a: f"least({', '.join(a)})",
    "TO_STRING": lambda a: f"CAST({a[0]} AS STRING)",
    "TO_LONG": lambda a: f"CAST({a[0]} AS BIGINT)",
    "TO_INT": lambda a: f"CAST({a[0]} AS INT)",
    "TO_DOUBLE": lambda a: f"CAST({a[0]} AS DOUBLE)",
    # SUBSTRING is 1-based in ES|QL, like Spark's substring
    "SUBSTRING": lambda a: (
        f"substring({a[0]}, {a[1]}, {a[2]})" if len(a) == 3
        else f"substring({a[0]}, {a[1]}, 2147483647)"),
    # string round-out (round 14 second batch) — REPLACE is the ES|QL
    # REGEX form (regexp_replace, like live ES|QL); LEFT/RIGHT clamp
    # like their ES|QL namesakes via substring arithmetic
    "REPLACE": lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    "REVERSE": lambda a: f"reverse({a[0]})",
    "LEFT": lambda a: f"substring({a[0]}, 1, {a[1]})",
    # n <= 0 → "" only for a NON-NULL string (round-14 review: the
    # short-circuit must not turn NULL into "" — every string function
    # here propagates NULL)
    "RIGHT": lambda a: (
        f"CASE WHEN (({a[0]} IS NOT NULL) AND ({a[1]} <= 0)) THEN '' "
        f"ELSE substring({a[0]}, (- CAST({a[1]} AS INT)), {a[1]}) END"),
    "TO_BOOLEAN": lambda a: f"CAST({a[0]} AS BOOLEAN)",
    "TO_IP": lambda a: _to_ip_sql(a[0]),
    # hash functions (ES|QL 8.12+): hex-string digests, pure codegen
    "MD5": lambda a: f"md5({a[0]})",
    "SHA1": lambda a: f"sha1({a[0]})",
    "SHA256": lambda a: f"sha2({a[0]}, 256)",
    # ES|QL TO_DATETIME reads numerics as MILLISECONDS since epoch
    # (round-14 review: Spark's timestamp cast reads seconds — a
    # silent 1000x); digit-only operands route through
    # timestamp_millis, everything else (ISO strings, dates) through
    # the plain cast
    "TO_DATETIME": lambda a: (
        f"CASE WHEN (CAST({a[0]} AS STRING) RLIKE '^-?[0-9]+$') "
        f"THEN timestamp_millis(CAST({a[0]} AS BIGINT)) "
        f"ELSE CAST({a[0]} AS TIMESTAMP) END"),
    # MV_* multivalue functions: ES|QL multivalue fields are array
    # columns here; null input → null (array_size/aggregate propagate),
    # and MV_SUM/MV_AVG guard empties to null like a no-value field.
    # All codegen higher-order functions — no UDF, no explode.
    "MV_COUNT": lambda a: f"array_size({a[0]})",
    "MV_MIN": lambda a: f"array_min({a[0]})",
    "MV_MAX": lambda a: f"array_max({a[0]})",
    "MV_SUM": lambda a: (
        f"CASE WHEN (array_size({a[0]}) > 0) THEN aggregate({a[0]}, "
        f"0.0D, (acc, x) -> (acc + CAST(x AS DOUBLE))) END"),
    "MV_AVG": lambda a: (
        f"CASE WHEN (array_size({a[0]}) > 0) THEN (aggregate({a[0]}, "
        f"0.0D, (acc, x) -> (acc + CAST(x AS DOUBLE))) "
        f"/ array_size({a[0]})) END"),
    # multivalue round-out (round 14 second batch): get() is 0-based
    # and NULL on out-of-bounds (an empty multivalue field has no
    # first/last — ES|QL returns null there too, never an error).
    # MV_SORT lives in _call (its optional order is a literal).
    "MV_DEDUPE": lambda a: f"array_distinct({a[0]})",
    "MV_FIRST": lambda a: f"get({a[0]}, 0)",
    "MV_LAST": lambda a: f"get({a[0]}, (array_size({a[0]}) - 1))",
    # multivalue round-out (round 15) — still all codegen higher-order
    # functions.  MV_SLICE is ES|QL's 0-based INCLUSIVE [start, end]
    # with negatives counting from the end; out-of-range clamps to an
    # empty/short result like live ES, never an error.  MV_APPEND
    # concatenates; MV_MEDIAN averages the two middle values on even
    # cardinality (double result, like ES on non-integer fields).
    # MV_ZIP pairs elements with the delimiter (default ","), keeping
    # the longer side's tail verbatim — live ES's behavior.
    "MV_APPEND": lambda a: f"concat({a[0]}, {a[1]})",
    "MV_SLICE": lambda a: _mv_slice_sql(a[0], a[1],
                                        a[2] if len(a) == 3 else a[1]),
    "MV_MEDIAN": lambda a: _mv_median_sql(a[0]),
    "MV_PERCENTILE": lambda a: _mv_percentile_sql(a[0], a[1]),
    "MV_MEDIAN_ABSOLUTE_DEVIATION": lambda a: _mv_mad_sql(a[0]),
    "MV_PSERIES_WEIGHTED_SUM": lambda a: _mv_pseries_sql(a[0], a[1]),
    # string tail (round 15, second batch) — all codegen
    "SPACE": lambda a: f"repeat(' ', {_nonneg_count_sql(a[0], 'SPACE')})",
    "REPEAT": lambda a: (
        f"repeat({a[0]}, {_nonneg_count_sql(a[1], 'REPEAT')})"),
    "BIT_LENGTH": lambda a: f"bit_length({a[0]})",
    "BYTE_LENGTH": lambda a: f"octet_length({a[0]})",
    "TO_BASE64": lambda a: f"base64(CAST({a[0]} AS BINARY))",
    "FROM_BASE64": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    "HASH": lambda a: _hash_fn_sql(a[0], a[1]),
    "TO_VERSION": lambda a: _to_version_sql(a[0]),
    # math/date stragglers (round 15, third batch) — all codegen.
    # ROUND_TO (8.19): round DOWN to the nearest of the fixed points;
    # below the smallest point, the smallest point (live ES contract).
    # COPY_SIGN (9.2): magnitude with the second argument's sign (a
    # non-negative sign arg keeps the magnitude positive, like Java's
    # copySign for +0).  DAY_NAME/MONTH_NAME (9.1): English names —
    # date_format's root-locale rendering, same strings DuckDB's
    # dayname/monthname emit.
    "ROUND_TO": lambda a: (
        f"coalesce(array_max(filter(array({', '.join(a[1:])}), "
        f"p -> (p <= {a[0]}))), array_min(array({', '.join(a[1:])})))"),
    "SCALB": lambda a: (
        f"(CAST({a[0]} AS DOUBLE) * pow(2.0D, CAST({a[1]} AS DOUBLE)))"),
    "COPY_SIGN": lambda a: (
        f"(abs({a[0]}) * CASE WHEN ({a[1]} < 0) THEN -1.0D "
        f"ELSE 1.0D END)"),
    "DAY_NAME": lambda a: f"date_format({a[0]}, 'EEEE')",
    "MONTH_NAME": lambda a: f"date_format({a[0]}, 'MMMM')",
    "MV_ZIP": lambda a: (
        f"zip_with({a[0]}, {a[1]}, (x, y) -> "
        f"CASE WHEN (x IS NULL) THEN y WHEN (y IS NULL) THEN x "
        f"ELSE concat(x, {a[2] if len(a) == 3 else chr(39) + ',' + chr(39)}, y) END)"),
    # math tail (round 15): straight whole-stage-codegen trig/log —
    # LOG follows ES|QL's argument order (LOG(base, value); one-arg =
    # natural log, two-arg = ln(value)/ln(base)); the zero-arg
    # constants fold at plan time
    "LOG": lambda a: (f"ln({a[0]})" if len(a) == 1
                      else f"(ln({a[1]}) / ln({a[0]}))"),
    "LOG10": lambda a: f"log10({a[0]})",
    "EXP": lambda a: f"exp({a[0]})",
    "SIN": lambda a: f"sin({a[0]})",
    "COS": lambda a: f"cos({a[0]})",
    "TAN": lambda a: f"tan({a[0]})",
    "ASIN": lambda a: f"asin({a[0]})",
    "ACOS": lambda a: f"acos({a[0]})",
    "ATAN": lambda a: f"atan({a[0]})",
    "ATAN2": lambda a: f"atan2({a[0]}, {a[1]})",
    "SINH": lambda a: f"sinh({a[0]})",
    "COSH": lambda a: f"cosh({a[0]})",
    "TANH": lambda a: f"tanh({a[0]})",
    "SIGNUM": lambda a: f"signum({a[0]})",
    "CBRT": lambda a: f"cbrt({a[0]})",
    "HYPOT": lambda a: f"hypot({a[0]}, {a[1]})",
    "TO_DEGREES": lambda a: f"degrees({a[0]})",
    "TO_RADIANS": lambda a: f"radians({a[0]})",
    "PI": lambda a: "3.141592653589793D",
    "E": lambda a: "2.718281828459045D",
    "TAU": lambda a: "6.283185307179586D",
}


#: (min, max) arities for the STATS aggregates
_AGG_ARITY: dict[str, tuple[int, int | None]] = {
    "COUNT": (1, 1), "SUM": (1, 1), "AVG": (1, 1), "MIN": (1, 1),
    "MAX": (1, 1), "COUNT_DISTINCT": (1, 2), "MEDIAN": (1, 1),
    "VALUES": (1, 1), "WEIGHTED_AVG": (2, 2), "STD_DEV": (1, 1),
    "MEDIAN_ABSOLUTE_DEVIATION": (1, 1), "ST_CENTROID_AGG": (1, 1),
    "ST_EXTENT_AGG": (1, 1), "FIRST": (2, 2), "LAST": (2, 2),
}


def _centroid_axis_sql(a: str, axis: str) -> str:
    f = f"{a}.{axis}"
    return (f"round(CAST((sum(CAST({f} AS DECIMAL(28,6))) "
            f"/ count({f})) AS DOUBLE), 6)")


def _first_last_sql(a: list[str], agg: str) -> str:
    keyed = (f"CASE WHEN (({a[0]} IS NOT NULL) AND ({a[1]} IS NOT NULL)) "
             f"THEN named_struct('s', {a[1]}, 'v', {a[0]}) END")
    return f"{agg}({keyed}).v"


def _extent_bound_sql(a: str, agg: str, axis: str) -> str:
    return f"CAST(CAST({agg}({a}.{axis}) AS DECIMAL(18,6)) AS STRING)"


#: aggregates (STATS context only): name → renderer of the Spark-SQL text
_AGGS: dict[str, Callable[[list[str]], str]] = {
    "COUNT": lambda a: f"count({a[0]})",
    "SUM": lambda a: _decimal_sum_sql(a[0]),
    "AVG": lambda a: (
        f"round(CAST((sum(CAST({a[0]} AS DECIMAL(28,6))) "
        f"/ count({a[0]})) AS DOUBLE), 6)"),
    "MIN": lambda a: f"min({a[0]})",
    "MAX": lambda a: f"max({a[0]})",
    # COUNT_DISTINCT's optional second arg is ES's HLL precision
    # threshold — meaningless for an exact count (the documented
    # oracle-favoring divergence), accepted and unused; passing it to
    # count(DISTINCT …) would silently count (field, precision) TUPLES
    "COUNT_DISTINCT": lambda a: f"count(DISTINCT {a[0]})",
    "MEDIAN": lambda a: f"percentile({a[0]}, 0.5D)",
    # round-15 aggregate tail.  VALUES returns the distinct set SORTED
    # (live ES|QL leaves the order unspecified — sorting is the
    # deterministic choice, documented divergence).  WEIGHTED_AVG and
    # STD_DEV are decimal-routed so the result is order-independent:
    # exact decimal sums, double math only at the very end (STD_DEV is
    # the population form, like ES|QL, via the sum-of-squares identity
    # on per-row 6dp-quantized decimals — replayable in ANSI SQL).
    "VALUES": lambda a: f"sort_array(collect_set({a[0]}))",
    # the denominator gates the weight on the VALUE being non-null —
    # a NULL-value row must not count its weight (ES skips the row);
    # exact decimal sums, then ONE double division (the AVG oracle
    # form — engine-neutral IEEE, no decimal-division scale rules)
    "WEIGHTED_AVG": lambda a: (
        f"round((CAST(sum(CAST(({a[0]} * {a[1]}) AS DECIMAL(28,6))) "
        f"AS DOUBLE) / CAST(sum(CAST(CASE WHEN ({a[0]} IS NOT NULL) "
        f"THEN {a[1]} END AS DECIMAL(28,6))) AS DOUBLE)), 6)"),
    "STD_DEV": lambda a: (
        f"round(sqrt(greatest(0.0D, ((CAST(sum(CAST(({a[0]} * {a[0]}) "
        f"AS DECIMAL(28,6))) AS DOUBLE) / count({a[0]})) "
        f"- pow((CAST(sum(CAST({a[0]} AS DECIMAL(28,6))) AS DOUBLE) "
        f"/ count({a[0]})), 2)))), 6)"),
    # round-15 third batch.  MEDIAN_ABSOLUTE_DEVIATION is EXACT per
    # group (collect the group's values, then the same sorted-array
    # median-of-deviations as MV_MEDIAN_ABSOLUTE_DEVIATION) — live ES
    # is TDigest-approximate; exact is the documented oracle-favoring
    # divergence, same as MEDIAN/PERCENTILE above.  Memory is
    # O(group values), the SAME profile as Spark's exact percentile
    # buffer that MEDIAN/PERCENTILE already carry — acceptable where
    # they are.  ST_CENTROID_AGG returns the geo_point struct{lat,lon}
    # (composable with ST_X/ST_Y/ST_DISTANCE), decimal-routed averages
    # so the result is partition-order-independent.  ST_EXTENT_AGG
    # returns the ES display rendering "BBOX (minLon, maxLon, maxLat,
    # minLat)" as a string — a terminal result, 6dp decimal-formatted
    # so both engines render identically (live ES returns a geoshape
    # object; the string IS its canonical rendering — documented
    # divergence).
    "MEDIAN_ABSOLUTE_DEVIATION": lambda a: (
        "round("
        + _mv_mad_sql(f"collect_list(CAST({a[0]} AS DOUBLE))")
        + ", 6)"),
    "ST_CENTROID_AGG": lambda a: (
        f"named_struct('lat', {_centroid_axis_sql(a[0], 'lat')}, "
        f"'lon', {_centroid_axis_sql(a[0], 'lon')})"),
    # FIRST/LAST (ES|QL 9.2): the value at the min/max sort key.  Rows
    # with a NULL value OR a NULL sort key are skipped (ES ignores
    # rows missing the sort field); sort-key ties break by VALUE via
    # the struct's lexicographic order — live ES leaves ties
    # unspecified, the deterministic choice is the documented
    # divergence (the VALUES-sorting precedent).
    "FIRST": lambda a: _first_last_sql(a, "min"),
    "LAST": lambda a: _first_last_sql(a, "max"),
    "ST_EXTENT_AGG": lambda a: (
        "concat('BBOX (', "
        + _extent_bound_sql(a[0], "min", "lon") + ", ', ', "
        + _extent_bound_sql(a[0], "max", "lon") + ", ', ', "
        + _extent_bound_sql(a[0], "max", "lat") + ", ', ', "
        + _extent_bound_sql(a[0], "min", "lat") + ", ')')"),
}

def _compile_fn(fn: str, args: list[str],
                agg_where: str | None = None) -> str:
    if agg_where is not None and (fn in _AGGS or fn == "PERCENTILE"):
        # per-aggregate WHERE (ES 8.16): gate the VALUE argument —
        # every aggregate here skips NULLs, so when(cond, arg) is
        # exactly FILTER(WHERE cond); trailing args (percentile p,
        # COUNT_DISTINCT's accepted-unused precision, the weight) stay
        # ungated — WEIGHTED_AVG's denominator already gates the
        # weight on the (now-gated) value being non-null
        args = [f"CASE WHEN {agg_where} THEN {args[0]} END", *args[1:]]
    if fn == "CASE":
        # CASE(cond1, val1[, cond2, val2…][, default])
        if len(args) < 2:
            raise ValueError("ES|QL: CASE needs at least (cond, value)")
        pairs, default = args, None
        if len(args) % 2 == 1:
            pairs, default = args[:-1], args[-1]
        out = "CASE"
        for i in range(0, len(pairs), 2):
            out += f" WHEN {pairs[i]} THEN {pairs[i + 1]}"
        if default is not None:
            out += f" ELSE {default}"
        return out + " END"
    if fn == "PERCENTILE":
        if len(args) != 2:
            raise ValueError("ES|QL: PERCENTILE(field, p)")
        return f"percentile({args[0]}, ({args[1]} / 100.0D))"
    if fn in _AGGS:
        lo, hi = _AGG_ARITY.get(fn, (1, 1))
        if not lo <= len(args) <= (hi if hi is not None else len(args)):
            raise ValueError(
                f"ES|QL: {fn} takes "
                f"{lo if lo == hi else f'{lo}..{hi}'} argument(s), "
                f"got {len(args)}")
        return _AGGS[fn](args)
    if fn in _FNS:
        lo, hi = _FN_ARITY[fn]
        if not lo <= len(args) <= (hi if hi is not None else len(args)):
            raise ValueError(
                f"ES|QL: {fn} takes "
                f"{lo if lo == hi else f'{lo}..{hi}'} argument(s), "
                f"got {len(args)}")
        return _FNS[fn](args)
    if fn == "NOW":
        raise ValueError(
            "ES|QL: NOW() is not supported (a lazily re-evaluated clock "
            "breaks retry determinism — pass the timestamp as a literal)")
    supported = " ".join(sorted(
        [*_FNS, *_AGGS, "CASE", "PERCENTILE", "DATE_TRUNC", "BUCKET",
         "DATE_FORMAT", "DATE_DIFF", "DATE_EXTRACT", "CATEGORIZE",
         "SPLIT", "LOCATE", "CIDR_MATCH", "MV_SORT", "MV_CONCAT",
         "COUNT(*)", "TOP", "DATE_PARSE", "IP_PREFIX",
         "MATCH", "QSTR", "MATCH_PHRASE", "TERM", "MULTI_MATCH", "KQL",
         "TO_GEOPOINT", "TO_GEOSHAPE", "ST_DISTANCE",
         "ST_INTERSECTS", "ST_CONTAINS", "ST_WITHIN", "ST_X", "ST_Y",
         "ST_GEOHASH", "ST_GEOTILE", "ST_GEOHEX"]))
    raise ValueError(
        f"ES|QL: unsupported function {fn} (supported: {supported})")


# ------------------------------------------------------------------ commands

def _expand_cols(patterns: list[str], columns: list[str]) -> list[str]:
    import fnmatch

    out: list[str] = []
    for p in patterns:
        if "*" in p or "?" in p:
            hits = [c for c in columns if fnmatch.fnmatchcase(c, p)]
            if not hits:
                raise ValueError(f"ES|QL: pattern {p!r} matches no column")
            out.extend(h for h in hits if h not in out)
        else:
            if p not in columns:
                raise ValueError(
                    f"ES|QL: unknown column {p!r} (have {columns})")
            if p not in out:
                out.append(p)
    return out


def _name_list(p: _P) -> list[str]:
    names = []
    while not p.done():
        t = p.next()
        if t[0] != "id" and not (t[0] == "op" and t[1] == "*"):
            raise ValueError(f"ES|QL: expected a column name, got {t[1]!r}")
        name = t[1]
        # prefix* / * patterns must be written WITHOUT whitespace (the
        # .glued check): a stray "name, other *" is a syntax error, not
        # a silent wildcard expansion (code-review r13)
        while (p.peek() == ("op", "*")
               and getattr(p.peek(), "glued", False)):
            p.next()
            name += "*"
        names.append(name)
        if p.peek() == ("op", ","):
            p.next()
        elif p.peek() == ("op", "*"):
            raise ValueError(
                "ES|QL: '*' in a column list must be glued to its "
                "prefix (write c* not c *)")
        elif not p.done():
            raise ValueError(
                f"ES|QL: expected ',' between names, got {p.peek()[1]!r}")
    return names


#: METADATA _score compile context (ES|QL 9.1 scored search): set by
#: esql() for the span of ONE compilation when the query declares
#: ``FROM … METADATA _score`` — {"src": the FROM-time frame (corpus
#: statistics are INDEX-wide, the engine's stats_over convention)}.
#: While it is set, each WHERE's full-text functions score through one
#: DSL score compiler per stage (_P._ft).  Single-threaded per call,
#: reset in a finally.
_SCORE_CTX: dict | None = None


def _stage_where(df: DataFrame, p: _P) -> DataFrame:
    p.in_where = True  # full-text MATCH()/QSTR() are WHERE-only
    p.frame = df       # KNN's k-th-similarity boundary needs the frame
    cond = p.expr()
    if not p.done():
        raise ValueError(
            f"ES|QL: trailing tokens after WHERE: "
            f"{p.peek()[1]!r}{_at(p.peek())}")
    out = with_bridges(df, p.bridges).where(cond)
    contribs = getattr(p, "score_contribs", None)
    scratch: list[str] = []
    if contribs:
        # METADATA _score: this WHERE's full-text contributions add to
        # the running score — each is already a round-6 decimal-summed
        # clause score gated on its own predicate, so the addition is
        # order-exact and oracle-replayable.  Their corpus statistics
        # are one 1-row aggregate over the FROM-time frame, and the
        # score reads the stage's bridges (a KNN similarity) before
        # they drop
        scorer = getattr(p, "scorer", None)
        if scorer is not None:
            stats = scorer.stats
            if stats.names:
                out = stats.attach(out, _SCORE_CTX["src"])
            scratch = [*stats.helpers, *stats.names]
        out = out.withColumn("_score", F.expr(
            f"round(`_score` + ({' + '.join(contribs)}), 6)"))
    return drop_bridges(out, p.bridges, *scratch)


def _assignments(p: _P) -> list[tuple[str, str, list]]:
    """``name = <expr>, …`` → (name, SQL text, the bridges that
    expression registered) triples."""
    out: list[tuple[str, str, list]] = []
    while not p.done():
        t = p.next()
        if t[0] != "id":
            raise ValueError(f"ES|QL: expected a name, got {t[1]!r}")
        p.expect_op("=")
        first = len(p.bridges)
        e = p.expr()
        out.append((t[1], e, p.bridges[first:]))
        if p.peek() == ("op", ","):
            p.next()
        elif not p.done():
            raise ValueError(
                f"ES|QL: expected ',' between assignments, got "
                f"{p.peek()[1]!r}")
    return out


def _stage_eval(df: DataFrame, p: _P) -> DataFrame:
    # sequential: each assignment sees the previous ones (ES|QL allows
    # EVAL a = 1, b = a + 1) — the SQL text resolves lazily at plan
    # time, so ordering works by applying withColumn in declaration
    # order; an assignment's bridges are projected just before it, so
    # they may read the earlier assignments too
    for name, expr, bridges in _assignments(p):
        df = with_bridges(df, bridges).withColumn(name, F.expr(expr))
        df = drop_bridges(df, bridges)
    return df


def _stage_stats(df: DataFrame, p: _P) -> DataFrame:
    # split on BY at this nesting level
    by_i = None
    depth = 0
    for i in range(p.i, len(p.toks)):
        t = p.toks[i]
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        elif depth == 0 and t[0] == "id" and t[1].upper() == "BY":
            by_i = i
            break
    agg_toks = p.toks[p.i:by_i if by_i is not None else len(p.toks)]
    ap = _P(agg_toks, p.bridges)
    aggs = []
    while not ap.done():
        t = ap.next()
        if t[0] != "id" or ap.peek() != ("op", "="):
            raise ValueError(
                "ES|QL: STATS aggregates need explicit names "
                "(name = AGG(...)) — ES|QL's expression-text default "
                "names are not stable frame columns")
        ap.expect_op("=")
        # collect this aggregate's token span (to the next top-level
        # comma) and split a trailing top-level WHERE off it — the
        # ES 8.16 per-aggregate filter: the condition gates THIS
        # aggregate's input rows only, compiled as when(cond, arg)
        # inside the aggregate (one groupBy, no extra pass — the
        # FILTER(WHERE) rewrite every SQL engine does)
        span: list = []
        depth = 0
        while not ap.done():
            nt = ap.peek()
            if nt == ("op", "("):
                depth += 1
            elif nt == ("op", ")"):
                depth -= 1
            elif depth == 0 and nt == ("op", ","):
                break
            span.append(ap.next())
        w_i = next((i for i, st in enumerate(span)
                    if st[0] == "id" and st[1].upper() == "WHERE"
                    and _depth_at(span, i) == 0), None)
        if w_i is not None:
            cp = _P(span[w_i + 1:], p.bridges)
            cond = cp.expr()
            if not cp.done():
                raise ValueError(
                    "ES|QL: trailing tokens after the aggregate's "
                    f"WHERE: {cp.peek()[1]!r}{_at(cp.peek())}")
            sub = _P(span[:w_i], p.bridges)
            sub.agg_where = cond
        else:
            sub = _P(span, p.bridges)
        e = sub.expr()
        if not sub.done():
            raise ValueError(
                f"ES|QL: trailing tokens in aggregate {t[1]!r}: "
                f"{sub.peek()[1]!r}{_at(sub.peek())}")
        aggs.append((t[1], e))
        if ap.peek() == ("op", ","):
            ap.next()
    if not aggs:
        raise ValueError("ES|QL: STATS needs at least one aggregate")
    keys = [(F.expr(e).alias(n) if e is not None else F.col(n))
            for n, e in _parse_by_keys(p, by_i)]
    exprs = [F.expr(e).alias(n) for n, e in aggs]
    # the aggregate consumes the bridge columns: nothing to drop after
    df = with_bridges(df, p.bridges)
    if keys:
        return df.groupBy(*keys).agg(*exprs)
    return df.agg(*exprs)


def _depth_at(toks: list, i: int) -> int:
    """Paren depth of position ``i`` within a token span."""
    d = 0
    for t in toks[:i]:
        if t == ("op", "("):
            d += 1
        elif t == ("op", ")"):
            d -= 1
    return d


def _parse_by_keys(p: _P, by_i: int | None) -> list[tuple]:
    """Parse a STATS/INLINESTATS BY key list into (name, SQL text)
    pairs — the text is None for a bare column key (the name IS the
    column).  Key bridges register on ``p``."""
    keys: list[tuple] = []
    if by_i is None:
        return keys
    kp = _P(p.toks[by_i + 1:], p.bridges)
    while not kp.done():
        t = kp.peek()
        nxt = kp.toks[kp.i + 1] if kp.i + 1 < len(kp.toks) else None
        if t[0] == "id" and nxt == ("op", "="):
            kp.next()
            kp.expect_op("=")
            keys.append((t[1], kp.expr()))
        elif t[0] == "id" and nxt in (None, ("op", ",")):
            # bare column key keeps its own name
            kp.next()
            keys.append((t[1], None))
        else:
            # a computed key without a name would surface Catalyst's
            # expression string as the column name — not a stable
            # frame column; require  name = <expr>  (same contract
            # as the aggregates)
            raise ValueError(
                "ES|QL: computed BY keys need a name "
                "(BY name = <expr>)")
        if kp.peek() == ("op", ","):
            kp.next()
        elif not kp.done():
            raise ValueError(
                f"ES|QL: expected ',' between BY keys, got "
                f"{kp.peek()[1]!r}{_at(kp.peek())}")
    return keys


#: TS-mode STATS (ES|QL time-series, 9.x): outer aggregates allowed
#: around an over-time inner function, and the inner functions
#: themselves.  Both stages render through _AGGS so SUM/AVG stay
#: decimal-routed (order-independent, ANSI-replayable).
_TS_OUTER = ("SUM", "AVG", "MIN", "MAX", "COUNT")
_TS_INNER = ("RATE", "AVG_OVER_TIME", "SUM_OVER_TIME", "MIN_OVER_TIME",
             "MAX_OVER_TIME", "COUNT_OVER_TIME", "LAST_OVER_TIME",
             "FIRST_OVER_TIME")


def _stage_stats_ts(df: DataFrame, p: _P,
                    ts_state: tuple[list[str], str]) -> DataFrame:
    """ES|QL ``TS`` STATS (the 9.x time-series aggregation command):
    every aggregate is a two-stage ``OUTER(INNER(col))`` nest — the
    INNER over-time function collapses each time series (the declared
    dimension tuple) within each BY bucket, the OUTER aggregate then
    combines across series.  Compiled as two grouped aggregations:

    * stage 1 groups by (dimensions ∪ BY keys).  ``RATE`` needs
      per-series sample ordering, which rides ONE window over the same
      partition keys (lag-based pairwise increments with counter-reset
      compensation: a decrease contributes the new value, the restart
      semantics of a monotonic counter) — the window's exchange is the
      same hash partitioning the stage-1 groupBy needs, so the wide
      data shuffles once; stage 2 re-groups the tiny per-series-bucket
      frame by the BY keys only.
    * rate = Σ increments / observed span seconds (first→last sample
      inside the bucket, NULL under two samples or a zero span).  Live
      ES extrapolates toward the bucket boundaries like PromQL; the
      observed-span form is the deterministic, ANSI-replayable subset
      — documented divergence (COVERAGE.md).
    * ``LAST_/FIRST_OVER_TIME`` order by (timestamp, value) so
      duplicate-timestamp ties are deterministic (documented).
    * increments and the over-time sums are decimal-routed, so every
      stage-1 value is order-independent and the whole nest replays
      in ANSI SQL.

    Per-aggregate WHERE filters are not supported inside TS STATS
    (reject loudly — the gating row set would be ambiguous between the
    two stages)."""
    dims, ts_col = ts_state
    by_i = None
    depth = 0
    for i in range(p.i, len(p.toks)):
        t = p.toks[i]
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        elif depth == 0 and t[0] == "id" and t[1].upper() == "BY":
            by_i = i
            break
    ap = _P(p.toks[p.i:by_i if by_i is not None else len(p.toks)])
    aggs: list[tuple[str, str, str, str]] = []
    while not ap.done():
        t = ap.next()
        if t[0] != "id" or ap.peek() != ("op", "="):
            raise ValueError(
                "ES|QL: STATS aggregates need explicit names "
                "(name = AGG(...)) — ES|QL's expression-text default "
                "names are not stable frame columns")
        ap.expect_op("=")
        o = ap.next()
        if o[0] != "id" or o[1].upper() not in _TS_OUTER:
            raise ValueError(
                f"ES|QL: TS STATS aggregates must be "
                f"OUTER(INNER(col)) nests with OUTER one of "
                f"{' '.join(_TS_OUTER)}, got {o[1]!r}{_at(o)}")
        ap.expect_op("(")
        inner = ap.next()
        if inner[0] != "id" or inner[1].upper() not in _TS_INNER:
            raise ValueError(
                f"ES|QL: TS STATS aggregates must wrap an over-time "
                f"function ({' '.join(_TS_INNER)}), got "
                f"{inner[1]!r}{_at(inner)}")
        ap.expect_op("(")
        c = ap.next()
        if c[0] != "id":
            raise ValueError(
                f"ES|QL: {inner[1]} takes a column name, got "
                f"{c[1]!r}{_at(c)}")
        if c[1] not in df.columns:
            raise ValueError(
                f"ES|QL: unknown column {c[1]!r} (have {df.columns})")
        ap.expect_op(")")
        ap.expect_op(")")
        if ap.peek() is not None and ap.peek()[0] == "id" \
                and ap.peek()[1].upper() == "WHERE":
            raise ValueError(
                "ES|QL: per-aggregate WHERE is not supported inside "
                "TS STATS (filter the rows with a WHERE stage before "
                "STATS instead)")
        aggs.append((t[1], o[1].upper(), inner[1].upper(), c[1]))
        if ap.peek() == ("op", ","):
            ap.next()
        elif not ap.done():
            raise ValueError(
                f"ES|QL: expected ',' between aggregates, got "
                f"{ap.peek()[1]!r}{_at(ap.peek())}")
    if not aggs:
        raise ValueError("ES|QL: STATS needs at least one aggregate")
    keys = _parse_by_keys(p, by_i)
    key_names = [n for n, _ in keys]
    for n, e in keys:
        if e is not None and n in dims:
            raise ValueError(
                f"ES|QL: computed BY key {n!r} collides with the "
                f"dimension column of the same name")
    for n, _, _, _ in aggs:
        if n in key_names or n in dims:
            raise ValueError(
                f"ES|QL: aggregate name {n!r} collides with a "
                "BY key / dimension column")

    # stage-1 grouping: every dimension plus every BY key (bare keys
    # that ARE dimensions would duplicate the output column — skip)
    gb: list[Column] = [F.col(d) for d in dims]
    for n, e in keys:
        if e is None:
            if n not in dims:
                gb.append(F.col(n))
        else:
            gb.append(F.expr(e).alias(n))

    rate_cols = sorted({c for _, _, inner, c in aggs if inner == "RATE"})
    work = with_bridges(df, p.bridges)  # consumed by the stage-1 groupBy
    if rate_cols:
        from pyspark.sql import Window

        part = [F.col(d) for d in dims] + \
            [(F.expr(e) if e is not None else F.col(n)) for n, e in keys]
        for rc in rate_cols:
            w = Window.partitionBy(*part).orderBy(
                F.col(ts_col).asc(), F.col(rc).asc())
            prev = F.lag(F.col(rc)).over(w)
            # counter-reset compensation: a decrease means the counter
            # restarted — the whole new value is the increase
            work = work.withColumn(
                f"\x00incr_{rc}",
                F.when(prev.isNull(), F.lit(None).cast("double"))
                .when(F.col(rc) >= prev, F.col(rc) - prev)
                .otherwise(F.col(rc).cast("double")))

    s1: list[Column] = []
    for i, (_, _, inner, c) in enumerate(aggs):
        v = f"\x00v{i}"
        if inner == "RATE":
            s1.append(F.sum(F.col(f"\x00incr_{c}").cast("decimal(28,6)"))
                      .cast("double").alias(f"\x00rsum{i}"))
        elif inner in ("AVG_OVER_TIME", "SUM_OVER_TIME"):
            s1.append(F.expr(_AGGS[inner[:3]]([sql_path(c)])).alias(v))
        elif inner in ("MIN_OVER_TIME", "MAX_OVER_TIME",
                       "COUNT_OVER_TIME"):
            s1.append(F.expr(_AGGS[inner.split("_")[0]]([sql_path(c)]))
                      .alias(v))
        elif inner == "LAST_OVER_TIME":
            s1.append(F.max_by(F.col(c), F.struct(
                F.col(ts_col), F.col(c))).alias(v))
        else:  # FIRST_OVER_TIME
            s1.append(F.min_by(F.col(c), F.struct(
                F.col(ts_col), F.col(c))).alias(v))
    if rate_cols:
        us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        s1.append(F.min(us).alias("\x00ts_min"))
        s1.append(F.max(us).alias("\x00ts_max"))
        s1.append(F.count(F.lit(1)).alias("\x00n_rows"))
    g1 = work.groupBy(*gb).agg(*s1)
    if rate_cols:
        span_s = (F.col("\x00ts_max") - F.col("\x00ts_min")) / F.lit(1e6)
        for i, (_, _, inner, _) in enumerate(aggs):
            if inner == "RATE":
                g1 = g1.withColumn(
                    f"\x00v{i}",
                    F.when((F.col("\x00n_rows") >= 2) & (span_s > 0),
                           F.col(f"\x00rsum{i}") / span_s))

    s2 = [F.expr(_AGGS[outer]([sql_path(f"\x00v{i}")])).alias(name)
          for i, (name, outer, _, _) in enumerate(aggs)]
    if key_names:
        return g1.groupBy(*[F.col(n) for n in key_names]).agg(*s2)
    return g1.agg(*s2)


#: INLINESTATS aggregate builders: kind → (plain agg Column for the
#: ungrouped scalar path, window builder for the BY path).  The window
#: builders apply .over() to the RAW window function and decimal-route
#: outside it — a cast wrapped around sum() is not itself window-able.
def _inline_agg(kind: str, args: list[str]):
    if kind == "COUNT_STAR":
        return (F.count(F.lit(1)),
                lambda w: F.count(F.lit(1)).over(w))
    need = 2 if kind == "PERCENTILE" else 1
    if len(args) != need:
        raise ValueError(
            f"ES|QL: INLINESTATS {kind} takes {need} argument(s), "
            f"got {len(args)}")
    a0 = F.expr(args[0])
    if kind == "COUNT":
        return F.count(a0), lambda w: F.count(a0).over(w)
    if kind == "SUM":
        dec = a0.cast("decimal(28,6)")
        return (F.expr(_AGGS["SUM"](args)),
                lambda w: F.sum(dec).over(w).cast("double"))
    if kind == "AVG":
        dec = a0.cast("decimal(28,6)")
        return (F.expr(_AGGS["AVG"](args)),
                lambda w: F.round((F.sum(dec).over(w)
                                   / F.count(a0).over(w)).cast("double"), 6))
    if kind == "MIN":
        return F.min(a0), lambda w: F.min(a0).over(w)
    if kind == "MAX":
        return F.max(a0), lambda w: F.max(a0).over(w)
    if kind == "MEDIAN":
        return (F.percentile(a0, F.lit(0.5)),
                lambda w: F.percentile(a0, F.lit(0.5)).over(w))
    if kind == "PERCENTILE":
        p = F.expr(args[1]) / F.lit(100.0)
        return (F.percentile(a0, p),
                lambda w: F.percentile(a0, p).over(w))
    if kind == "COUNT_DISTINCT":
        # distinct aggregates are not window-able; collect_set over the
        # partition is the standard equivalent (bounded by per-group
        # cardinality, the same contract as the grouped agg)
        return (F.count_distinct(a0),
                lambda w: F.array_size(F.collect_set(a0).over(w)))
    raise ValueError(
        f"ES|QL: unsupported INLINESTATS aggregate {kind} (supported: "
        "COUNT(*) COUNT SUM AVG MIN MAX MEDIAN PERCENTILE "
        "COUNT_DISTINCT)")


def _stage_inlinestats(df: DataFrame, p: _P) -> DataFrame:
    """INLINESTATS name = AGG(…)[, …] [BY keys] — ES|QL's window-
    aggregate sibling of STATS: the frame keeps ALL its rows and gains
    one column per aggregate, computed over the BY groups.

    Scale shape: with BY keys this is ONE hash-partitioned window (a
    single shuffle on the keys, no join-back); without keys the global
    scalar is computed by a partial-aggregating df.agg() and attached
    via the broadcast scalar crossJoin shape — NOT an empty-partition
    global window, which would funnel every row through one task."""
    from pyspark.sql import Window

    by_i = None
    depth = 0
    for i in range(p.i, len(p.toks)):
        t = p.toks[i]
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        elif depth == 0 and t[0] == "id" and t[1].upper() == "BY":
            by_i = i
            break
    ap = _P(p.toks[p.i:by_i if by_i is not None else len(p.toks)],
            p.bridges)
    aggs: list[tuple[str, str, list[str]]] = []
    while not ap.done():
        t = ap.next()
        if t[0] != "id" or ap.peek() != ("op", "="):
            raise ValueError(
                "ES|QL: INLINESTATS aggregates need explicit names "
                "(name = AGG(...)), like STATS")
        ap.expect_op("=")
        fn_t = ap.next()
        if fn_t[0] != "id" or ap.peek() != ("op", "("):
            raise ValueError(
                "ES|QL: INLINESTATS expects a direct aggregate call "
                f"(name = AGG(...)), got {fn_t[1]!r}{_at(fn_t)}")
        ap.next()
        kind = fn_t[1].upper()
        args: list[str] = []
        if kind == "COUNT" and ap.peek() == ("op", "*"):
            ap.next()
            kind = "COUNT_STAR"
        elif ap.peek() != ("op", ")"):
            args.append(ap.expr())
            while ap.peek() == ("op", ","):
                ap.next()
                args.append(ap.expr())
        ap.expect_op(")")
        nt = ap.peek()
        if nt is not None and nt[0] == "id" and nt[1].upper() == "WHERE":
            # per-aggregate WHERE (ES 8.16), same when(cond, arg)
            # compile as STATS — the gate rides inside the window
            # aggregate, no extra pass
            ap.next()
            span: list = []
            depth = 0
            while not ap.done():
                st = ap.peek()
                if st == ("op", "("):
                    depth += 1
                elif st == ("op", ")"):
                    depth -= 1
                elif depth == 0 and st == ("op", ","):
                    break
                span.append(ap.next())
            cp = _P(span, p.bridges)
            cond = cp.expr()
            if not cp.done():
                raise ValueError(
                    "ES|QL: trailing tokens after the aggregate's "
                    f"WHERE: {cp.peek()[1]!r}{_at(cp.peek())}")
            if kind == "COUNT_STAR":
                kind, args = "COUNT", [f"CASE WHEN {cond} THEN TRUE END"]
            elif args:
                args = [f"CASE WHEN {cond} THEN {args[0]} END", *args[1:]]
        aggs.append((t[1], kind, args))
        if ap.peek() == ("op", ","):
            ap.next()
        elif not ap.done():
            raise ValueError(
                f"ES|QL: expected ',' between INLINESTATS aggregates, "
                f"got {ap.peek()[1]!r}{_at(ap.peek())}")
    if not aggs:
        raise ValueError("ES|QL: INLINESTATS needs at least one aggregate")
    keys = _parse_by_keys(p, by_i)
    compiled = [(n, _inline_agg(kind, args)) for n, kind, args in aggs]
    df = with_bridges(df, p.bridges)
    if keys:
        # computed keys materialize as columns first (ES|QL keeps them
        # in the output frame), bare keys partition directly
        for name, expr in keys:
            if expr is not None:
                df = df.withColumn(name, F.expr(expr))
        w = Window.partitionBy(*[name for name, _ in keys])
        for name, (_, win_builder) in compiled:
            df = df.withColumn(name, win_builder(w))
        return drop_bridges(df, p.bridges)
    # like EVAL (and the window path's withColumn), an INLINESTATS name
    # that already exists REPLACES the column — ES|QL semantics; the
    # aggregates are computed from the pre-drop frame
    scalars = df.agg(*[plain.alias(n) for n, (plain, _) in compiled])
    clash = [n for n, _ in compiled if n in df.columns]
    if clash:
        df = df.drop(*clash)
    return drop_bridges(df.crossJoin(F.broadcast(scalars)), p.bridges)


def _stage_sort(df: DataFrame, p: _P) -> DataFrame:
    cols: list[Column] = []
    while not p.done():
        e = F.expr(p.expr())
        desc = False
        if p.peek_kw() in ("ASC", "DESC"):
            desc = p.next()[1].upper() == "DESC"
        nulls = None
        if p.peek_kw() == "NULLS":
            p.next()
            w = p.next()
            if w[1].upper() not in ("FIRST", "LAST"):
                raise ValueError("ES|QL: NULLS FIRST|LAST")
            nulls = w[1].upper()
        # ES|QL default null ordering treats null as the LARGEST value:
        # ASC sorts nulls last, DESC sorts nulls first — the opposite of
        # Spark's .asc()/.desc() defaults (ADVICE r13 #1, verified live)
        if desc:
            e = (e.desc_nulls_last() if nulls == "LAST"
                 else e.desc_nulls_first())
        else:
            e = (e.asc_nulls_first() if nulls == "FIRST"
                 else e.asc_nulls_last())
        cols.append(e)
        if p.peek() == ("op", ","):
            p.next()
        elif not p.done():
            raise ValueError(
                f"ES|QL: expected ',' between SORT keys, got "
                f"{p.peek()[1]!r}")
    return drop_bridges(with_bridges(df, p.bridges).orderBy(*cols),
                        p.bridges)


#: GROK built-in patterns (the high-frequency core of the public grok
#: library; unknown names reject loudly rather than matching nothing)
_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "NUMBER": r"(?:[+-]?\d+(?:\.\d+)?)",
    "INT": r"(?:[+-]?\d+)",
    "IP": r"(?:\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
}
_GROK_TYPES = {"int": "int", "long": "long", "float": "float",
               "double": "double", None: None}


def _dissect_regex(pattern: str) -> tuple[str, list[str]]:
    """ES|QL DISSECT pattern → (anchored regex, capture names).

    ``%{key}`` captures up to the FIRST occurrence of the next literal,
    and the parse is NON-BACKTRACKING like real dissect: the capture
    body is a tempered dot (``(?:(?!lit).)*``), which cannot extend
    past the first occurrence of the delimiter — a plain non-greedy
    ``.*?`` would backtrack on overall failure and fabricate a
    different parse (code-review r13, verified: "%{a}:%{b}-" on
    "1:2-3:4-" must be a NO-match, not b="2-3:4").  ``%{}`` and
    ``%{?name}`` are skips.  ``%{key->}`` skips right padding: the
    delimiter that follows may repeat (dissect's ``->`` modifier —
    ``"%{a->} %{b}"`` parses ``"x    y"``).  ``%{+key}`` appends to
    the key's earlier captures (optionally ordered with ``/n``: all
    pieces of an ordered key must carry distinct orders), joined by
    the command's APPEND_SEPARATOR.  Reference modifiers
    (``*key``/``&key`` — key names from the data) are not implemented
    and reject loudly, as do plain duplicate keys and adjacent keys
    with no delimiter between them.

    Returns ``(regex, entries)`` where entries lists the CAPTURED keys
    in group order as ``(name, is_append, order_or_None)``."""
    parts = re.split(r"(%\{[^}]*\})", pattern)
    parts = [p for p in parts if p]
    if any("%{" in p for p in parts if not p.startswith("%{")):
        # an unclosed %{… survives re.split as literal text and would
        # silently match nothing (code-review r13)
        raise ValueError(
            f"ES|QL: malformed %{{…}} in DISSECT pattern {pattern!r}")
    regex = "^"
    entries: list[tuple[str, bool, int | None]] = []
    pad_delim = False
    for i, part in enumerate(parts):
        if part.startswith("%{"):
            key = part[2:-1]
            if "%{" in key:
                # an unclosed %{a followed by %{b} lexes as ONE token
                # whose key still contains "%{" — malformed, not a
                # field named "a %{b"
                raise ValueError(
                    f"ES|QL: malformed %{{…}} in DISSECT pattern "
                    f"{pattern!r}")
            pad = key.endswith("->")
            if pad:
                key = key[:-2]
            is_append = key.startswith("+")
            if is_append:
                key = key[1:]
            order: int | None = None
            om = re.match(r"^(.*)/(\d+)$", key)
            if om and is_append:
                key, order = om.group(1), int(om.group(2))
            if not key and is_append:
                raise ValueError(
                    f"ES|QL: DISSECT append modifier needs a key "
                    f"name in {part!r}")
            if any(m in key for m in ("->", "+", "/", "*", "&")):
                raise ValueError(
                    f"ES|QL: DISSECT modifier in {part!r} is not "
                    "supported (plain %{key}, %{?skip}, %{+key[/n]} "
                    "append and the %{key->} right-padding modifier "
                    "only)")
            nxt = parts[i + 1] if i + 1 < len(parts) else None
            if nxt is None:
                if pad:
                    raise ValueError(
                        f"ES|QL: {part!r} right-padding needs a "
                        "delimiter after it")
                body = ".*"
            elif nxt.startswith("%{"):
                raise ValueError(
                    "ES|QL: adjacent DISSECT keys without a delimiter "
                    f"between them are ambiguous ({part}{nxt})")
            else:
                body = f"(?:(?!{re.escape(nxt)}).)*"
            pad_delim = pad
            if not key or key.startswith("?"):
                regex += f"(?:{body})"
            else:
                entries.append((key, is_append, order))
                regex += f"({body})"
        else:
            # after %{key->}, the delimiter may REPEAT (right padding)
            # — one-or-more of the whole literal, which is what
            # dissect's -> skips
            regex += (f"(?:{re.escape(part)})+" if pad_delim
                      else re.escape(part))
            pad_delim = False
    return regex + "$", entries


def _grok_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    """ES|QL GROK pattern → (anchored regex, [(name, cast-type)])."""
    out, fields = "^", []
    pos = 0
    n_open = pattern.count("%{")
    n_parsed = len(re.findall(r"%\{(\w+)(?::([\w.]+))?(?::(\w+))?\}",
                              pattern))
    if n_parsed != n_open:
        # an unclosed/malformed %{… would be escaped into the regex as
        # literal text and match nothing, silently (code-review r13)
        raise ValueError(
            f"ES|QL: malformed %{{…}} in GROK pattern {pattern!r}")
    for m in re.finditer(r"%\{(\w+)(?::([\w.]+))?(?::(\w+))?\}", pattern):
        out += re.escape(pattern[pos:m.start()])
        pos = m.end()
        pat_name, field, typ = m.group(1), m.group(2), m.group(3)
        if pat_name not in _GROK_PATTERNS:
            raise ValueError(
                f"ES|QL: unknown GROK pattern %{{{pat_name}}} (supported: "
                f"{' '.join(sorted(_GROK_PATTERNS))})")
        if typ is not None and typ not in _GROK_TYPES:
            raise ValueError(
                f"ES|QL: unsupported GROK conversion :{typ} "
                "(int | long | float | double)")
        body = _GROK_PATTERNS[pat_name]
        if field:
            fields.append((field, typ))
            out += f"({body})"
        else:
            out += f"(?:{body})"
    out += re.escape(pattern[pos:])
    return out + "$", fields


def _extract_groups(
    df: DataFrame, col: str, regex: str,
    fields: list[tuple[str, str | None]],
) -> DataFrame:
    """Shared DISSECT/GROK application: one codegen rlike gate + one
    regexp_extract per capture; non-matching rows KEEP the row with
    NULL extracted fields (ES|QL's behavior — regexp_extract alone
    would return '' and silently fake a match)."""
    src = F.col(col)
    matched = src.rlike(regex)
    for i, (name, typ) in enumerate(fields, start=1):
        c = F.when(matched, F.regexp_extract(src, regex, i))
        if typ:
            # try_cast, not cast: under ANSI a matched-but-unparseable
            # value (NUMBER "3.5" cast to int) would abort the whole
            # job instead of yielding the documented NULL
            # (code-review r13, verified live)
            c = c.try_cast(_GROK_TYPES[typ])
        df = df.withColumn(name, c)
    return df


def _stage_enrich(df: DataFrame, p: _P,
                  tables: Mapping[str, DataFrame]) -> DataFrame:
    """ENRICH policy ON match_field [WITH [new =] field, …] — ES|QL's
    enrich-policy join.  The catalog models the policy's enrich index:
    ``tables[policy]`` is the materialized policy frame whose match
    column carries the SAME name as the ON field (an enrich policy's
    match_field, by construction of the policy execution).  Only
    match-type ``match`` (equality) semantics are modeled — ES's
    geo_match/range policies have no equality key and reject loudly at
    the missing-column check.  WITH picks (and renames) the enrich
    fields; omitting it takes every non-key policy column.  Scale
    shape: identical to LOOKUP JOIN — an explicit BROADCAST left join,
    the big side never shuffles.  Collisions with existing columns
    reject loudly instead of ES's silent lookup-side precedence."""
    pol_t = p.next()
    if pol_t[0] != "id":
        raise ValueError(
            f"ES|QL: ENRICH needs a policy name{_at(pol_t)}")
    if p.done() or p.peek_kw() != "ON":
        raise ValueError(
            "ES|QL: ENRICH requires an explicit ON match_field (the "
            "catalog carries no policy metadata to default from)")
    p.next()
    key_t = p.next()
    if key_t[0] != "id":
        raise ValueError(
            f"ES|QL: ENRICH ON needs a column name{_at(key_t)}")
    key = key_t[1]
    picks: list[tuple[str, str]] = []  # (output name, policy column)
    if not p.done():
        with_t = p.next()
        if with_t[0] != "id" or with_t[1].upper() != "WITH":
            raise ValueError(
                f"ES|QL: expected WITH, got {with_t[1]!r}{_at(with_t)}")
        while not p.done():
            a = p.next()
            if a[0] != "id":
                raise ValueError(
                    f"ES|QL: expected a field name, got {a[1]!r}{_at(a)}")
            if p.peek() == ("op", "="):
                p.next()
                b = p.next()
                if b[0] != "id":
                    raise ValueError(
                        f"ES|QL: expected a policy field after '=', got "
                        f"{b[1]!r}{_at(b)}")
                picks.append((a[1], b[1]))
            else:
                picks.append((a[1], a[1]))
            if p.peek() == ("op", ","):
                p.next()
            elif not p.done():
                raise ValueError(
                    f"ES|QL: expected ',' between WITH fields, got "
                    f"{p.peek()[1]!r}{_at(p.peek())}")
    if pol_t[1] not in tables:
        raise ValueError(
            f"ES|QL: unknown enrich policy {pol_t[1]!r} "
            f"(catalog: {sorted(tables)})")
    pol = tables[pol_t[1]]
    if key not in df.columns or key not in pol.columns:
        raise ValueError(
            f"ES|QL: ENRICH match field {key!r} must exist on both the "
            f"frame and the policy index (frame: {df.columns}, policy: "
            f"{pol.columns}) — only match-type 'match' (equality) "
            "policies are modeled; geo_match/range have no equality key")
    if not picks:
        picks = [(c, c) for c in pol.columns if c != key]
    dup = {o for i, (o, _) in enumerate(picks)
           if o in [p[0] for p in picks[:i]]}
    if dup:
        raise ValueError(
            f"ES|QL: duplicate enrich output name(s) {sorted(dup)}")
    missing = [src for _, src in picks if src not in pol.columns]
    if missing:
        raise ValueError(
            f"ES|QL: enrich field(s) {missing} not in policy index "
            f"(have {pol.columns})")
    clash = [out for out, _ in picks if out in df.columns]
    if clash:
        raise ValueError(
            f"ES|QL: enrich output column(s) {clash} collide with "
            "existing columns (WITH new_name = field, or RENAME first)")
    proj = pol.select(key, *[F.col(src).alias(out) for out, src in picks])
    return df.join(F.broadcast(proj), on=key, how="left")


def esql(tables: Mapping[str, DataFrame], query: str, *,
         rerank_models: "Mapping[str, dict] | None" = None,
         ts_specs: "Mapping[str, Mapping] | None" = None) -> DataFrame:
    """Compile one ES|QL pipeline against the given table mapping.

    ``tables`` plays the role of the cluster's index catalog: ``FROM``
    resolves names here (comma lists union by name, ES|QL's multi-index
    read).  ``rerank_models`` plays the role of the inference-endpoint
    registry for the ``RERANK`` command (same deterministic linear
    models as the text_similarity_reranker retriever —
    plans/scoring.py).  ``ts_specs`` plays the role of the TSDB index
    mapping for the ``TS`` source command (9.x time series): per index
    ``{"dimensions": [cols…], "timestamp": col}`` — the flat-frame
    stand-in for ``time_series_dimension: true`` annotations and the
    mandatory ``@timestamp`` field.  Returns the lazy DataFrame —
    Catalyst sees the WHOLE pipeline, so a ``WHERE`` after ``FROM``
    pushes into the scan and a ``SORT | LIMIT`` tail plans as
    TakeOrderedAndProject."""
    stages = _split_pipes(_tokenize(query))
    if not stages:
        raise ValueError("ES|QL: empty query")
    score_requested = False
    head = _P(stages[0])
    cmd = head.next()
    if cmd[0] == "id" and cmd[1].upper() == "ROW":
        # ROW name = <expr>, … — a one-row frame built from constant
        # expressions (each assignment selects over range(1), so the
        # full scalar-function grammar works; a stray column reference
        # fails loudly at analysis).  The session comes from the
        # catalog — ROW is a testing/templating source, not a reason to
        # thread a SparkSession parameter through every call site.
        if not tables:
            raise ValueError(
                "ES|QL: ROW needs a non-empty catalog (the session is "
                "taken from it)")
        spark = next(iter(tables.values())).sparkSession
        assigns = _assignments(head)
        if not assigns:
            raise ValueError("ES|QL: ROW needs at least one assignment")
        # range(1)'s built-in `id` column must not be visible to the
        # assignments — `ROW x = id + 1` would silently resolve id=0
        # instead of failing at analysis (ADVICE r13 #2); rename it to
        # a name the identifier grammar cannot produce
        df = with_bridges(spark.range(1).toDF("\x00esql_row"),
                          head.bridges).select(
            *[F.expr(e).alias(n) for n, e, _ in assigns])
    elif cmd[0] == "id" and cmd[1].upper() == "FROM":
        # index names until an optional METADATA keyword (round 14):
        # `FROM a, b METADATA _index` — _index is the source table
        # name, a per-branch literal folded before the union, so a
        # WHERE on it prunes whole branches at plan time.  _id /
        # _score / _version metadata have no flat-frame meaning (the
        # caller's id column is real data) and reject loudly.
        names: list[str] = []
        want_meta: list[str] = []
        saw_meta = False
        while not head.done():
            t = head.next()
            if t[0] != "id":
                raise ValueError(
                    f"ES|QL: expected an index name, got {t[1]!r}"
                    f"{_at(t)}")
            if names and t[1].upper() == "METADATA":
                # only a KEYWORD once at least one index name has been
                # read — a LEADING identifier is always an index name,
                # so an index literally called "metadata" stays
                # addressable (round-15 review)
                saw_meta = True
                while True:
                    if head.done():
                        raise ValueError(
                            "ES|QL: METADATA needs at least one field"
                            f"{_at(t)}")
                    mt = head.next()
                    if mt[0] != "id":
                        raise ValueError(
                            f"ES|QL: expected a metadata field, got "
                            f"{mt[1]!r}{_at(mt)}")
                    if mt[1] not in ("_index", "_score"):
                        raise ValueError(
                            f"ES|QL: unsupported metadata field "
                            f"{mt[1]!r}{_at(mt)} — _index and _score "
                            "have flat-frame meanings (_id/_version "
                            "are index-internal state)")
                    if mt[1] in want_meta:
                        raise ValueError(
                            f"ES|QL: duplicate metadata field "
                            f"{mt[1]!r}{_at(mt)}")
                    want_meta.append(mt[1])
                    if head.done():
                        break
                    sep = head.next()
                    if sep != ("op", ","):
                        # missing comma = syntax error, mirroring the
                        # index-name list right above (round-15 review)
                        raise ValueError(
                            f"ES|QL: expected ',' between metadata "
                            f"fields, got {sep[1]!r}{_at(sep)}")
                break
            names.append(t[1])
            if head.peek() == ("op", ","):
                head.next()
            elif not head.done():
                nxt = head.peek()
                if not (nxt[0] == "id" and nxt[1].upper() == "METADATA"):
                    # two names with no comma is a syntax error, not a
                    # silent multi-index union (round-14 review — the
                    # old _name_list enforced this too)
                    raise ValueError(
                        f"ES|QL: expected ',' between index names, got "
                        f"{nxt[1]!r}{_at(nxt)}")
        if not names:
            raise ValueError("ES|QL: FROM needs at least one index")
        if saw_meta and not want_meta:
            raise ValueError(
                "ES|QL: METADATA needs at least one field (e.g. "
                "METADATA _index)")
        missing = [n for n in names if n not in tables]
        if missing:
            raise ValueError(
                f"ES|QL: unknown index(es) {missing} "
                f"(catalog: {sorted(tables)})")

        def _src(n: str) -> DataFrame:
            t = tables[n]
            if "_index" in want_meta:
                if "_index" in t.columns:
                    raise ValueError(
                        "ES|QL: METADATA _index collides with an "
                        f"existing _index column on {n!r}")
                t = t.withColumn("_index", F.lit(n))
            return t

        df = _src(names[0])
        for n in names[1:]:
            df = df.unionByName(_src(n), allowMissingColumns=True)
        if "_score" in want_meta:
            # ES|QL 9.1 scored search: _score starts at 0.0 and each
            # WHERE's full-text functions ADD their clause scores
            # (_P._ft / _stage_where); corpus statistics
            # are index-wide = this FROM-time frame
            if "_score" in df.columns:
                raise ValueError(
                    "ES|QL: METADATA _score collides with an existing "
                    "_score column")
            df = df.withColumn("_score", F.lit(0.0))
            score_requested = True
    elif cmd[0] == "id" and cmd[1].upper() == "TS":
        # ES|QL TS source command (9.x time series): like FROM, but
        # the frame is a time-series index whose STATS aggregates are
        # the two-stage OUTER(INNER(col)) nests (_stage_stats_ts).
        # Single index only — a multi-index TS union would need
        # per-index dimension reconciliation the flat catalog cannot
        # express honestly.
        t = head.next()
        if t[0] != "id":
            raise ValueError(
                f"ES|QL: expected an index name after TS, got "
                f"{t[1]!r}{_at(t)}")
        if not head.done():
            raise ValueError(
                "ES|QL: TS takes exactly one index (a multi-index TS "
                "union has no shared dimension spec in a flat catalog)")
        if t[1] not in tables:
            raise ValueError(
                f"ES|QL: unknown index {t[1]!r} "
                f"(catalog: {sorted(tables)})")
        spec = (ts_specs or {}).get(t[1])
        if spec is None:
            raise ValueError(
                f"ES|QL: TS {t[1]} needs a time-series spec — pass "
                "ts_specs={" + repr(t[1]) + ": {'dimensions': [cols…],"
                " 'timestamp': col}} (the flat-frame stand-in for the "
                "TSDB mapping's time_series_dimension/@timestamp)")
        unk = set(spec) - {"dimensions", "timestamp"}
        if unk:
            raise ValueError(
                f"ES|QL: unsupported ts_specs key(s) {sorted(unk)}")
        df = tables[t[1]]
        dims = list(spec.get("dimensions") or [])
        tcol = spec.get("timestamp")
        if not dims or not isinstance(tcol, str):
            raise ValueError(
                "ES|QL: a TS spec needs a non-empty 'dimensions' list "
                "and a 'timestamp' column name")
        missing = [c for c in [*dims, tcol] if c not in df.columns]
        if missing:
            raise ValueError(
                f"ES|QL: TS spec column(s) {missing} not on "
                f"{t[1]!r} (have {df.columns})")
        ts_state = (dims, tcol)
        for si, stage in enumerate(stages[1:]):
            sp = _P(stage)
            c0 = sp.next()
            if ts_state is not None and c0[0] == "id" \
                    and c0[1].upper() == "STATS":
                df = _stage_stats_ts(df, sp, ts_state)
                ts_state = None  # downstream stages see a plain frame
            else:
                df = _apply_stage(df, stage, tables,
                                  rerank_models=rerank_models)
        return df
    else:
        raise ValueError(
            "ES|QL: the source command must be FROM, ROW or TS")
    global _SCORE_CTX
    prev_ctx = _SCORE_CTX
    _SCORE_CTX = {"src": df} if score_requested else None
    try:
        for stage in stages[1:]:
            df = _apply_stage(df, stage, tables,
                              rerank_models=rerank_models)
    finally:
        _SCORE_CTX = prev_ctx
    return df


def _apply_stage(df: DataFrame, stage: list,
                 tables: Mapping[str, DataFrame], *,
                 in_fork: bool = False,
                 rerank_models: "Mapping[str, dict] | None" = None,
                 ) -> DataFrame:
    """Compile ONE pipe stage onto ``df`` (extracted round 14 so
    FORK can run its parenthesized branch sub-pipelines through
    the same dispatch)."""
    p = _P(stage)
    cmd = p.next()
    if cmd[0] != "id":
        raise ValueError(f"ES|QL: expected a command, got {cmd[1]!r}")
    up = cmd[1].upper()
    if up == "WHERE":
        df = _stage_where(df, p)
    elif up == "EVAL":
        df = _stage_eval(df, p)
    elif up == "STATS":
        df = _stage_stats(df, p)
    elif up == "INLINESTATS":
        df = _stage_inlinestats(df, p)
    elif up == "ENRICH":
        df = _stage_enrich(df, p, tables)
    elif up == "SORT":
        df = _stage_sort(df, p)
    elif up == "LIMIT":
        t = p.next()
        if t[0] != "num" or not p.done():
            raise ValueError("ES|QL: LIMIT needs one integer")
        df = df.limit(int(t[1]))
    elif up == "KEEP":
        df = df.select(*_expand_cols(_name_list(p), df.columns))
    elif up == "DROP":
        drop = _expand_cols(_name_list(p), df.columns)
        df = df.select(*[c for c in df.columns if c not in drop])
    elif up == "RENAME":
        while not p.done():
            old = p.next()
            as_t = p.next()
            new = p.next()
            if (old[0] != "id" or new[0] != "id" or as_t[0] != "id"
                    or as_t[1].upper() != "AS"):
                raise ValueError("ES|QL: RENAME old AS new[, …]")
            if old[1] not in df.columns:
                # withColumnRenamed is documented as a no-op for a
                # missing source column — reject loudly instead
                # (code-review r13)
                raise ValueError(
                    f"ES|QL: unknown column {old[1]!r} "
                    f"(have {df.columns})")
            df = df.withColumnRenamed(old[1], new[1])
            if p.peek() == ("op", ","):
                p.next()
    elif up == "LOOKUP":
        # ES|QL LOOKUP JOIN (8.18+): left-join a small lookup index
        # on equal field names.  ES enforces smallness via
        # index.mode=lookup; this engine encodes the same contract
        # as an explicit BROADCAST left join — the scale shape is a
        # map-side hash join, never a shuffle of the left side.
        j = p.next()
        if j[0] != "id" or j[1].upper() != "JOIN":
            raise ValueError("ES|QL: LOOKUP JOIN <index> ON <field>")
        idx = p.next()
        on_t = p.next()
        if (idx[0] != "id" or on_t[0] != "id"
                or on_t[1].upper() != "ON"):
            raise ValueError("ES|QL: LOOKUP JOIN <index> ON <field>")
        keys = _name_list(p)
        if idx[1] not in tables:
            raise ValueError(
                f"ES|QL: unknown lookup index {idx[1]!r} "
                f"(catalog: {sorted(tables)})")
        lk = tables[idx[1]]
        for k in keys:
            if k not in df.columns or k not in lk.columns:
                raise ValueError(
                    f"ES|QL: LOOKUP JOIN key {k!r} must exist on "
                    f"both sides (left: {df.columns}, "
                    f"lookup: {lk.columns})")
        clash = [c for c in lk.columns
                 if c not in keys and c in df.columns]
        if clash:
            # ES resolves collisions by lookup-side precedence;
            # silently replacing a left column is the kind of
            # surprise this engine rejects — RENAME first
            raise ValueError(
                f"ES|QL: lookup column(s) {clash} collide with "
                "existing columns (RENAME one side first)")
        df = df.join(F.broadcast(lk), on=keys, how="left")
    elif up in ("DISSECT", "GROK"):
        t = p.next()
        pat_t = p.next()
        if t[0] != "id" or pat_t[0] != "str":
            raise ValueError(f"ES|QL: {up} <column> \"<pattern>\"")
        sep = ""
        if not p.done():
            kt = p.next()
            if not (up == "DISSECT" and kt[0] == "id"
                    and kt[1].upper() == "APPEND_SEPARATOR"):
                raise ValueError(
                    f"ES|QL: {up} <column> \"<pattern>\" "
                    "[APPEND_SEPARATOR=\"s\" — DISSECT only]"
                    f"{_at(kt)}")
            p.expect_op("=")
            st = p.next()
            if st[0] != "str":
                raise ValueError(
                    f"ES|QL: APPEND_SEPARATOR takes a literal string"
                    f"{_at(st)}")
            sep = st[1]
            if not p.done():
                raise ValueError(
                    f"ES|QL: trailing tokens after {up}: "
                    f"{p.peek()[1]!r}{_at(p.peek())}")
        if t[1] not in df.columns:
            raise ValueError(
                f"ES|QL: unknown column {t[1]!r} (have {df.columns})")
        if up == "DISSECT":
            regex, entries = _dissect_regex(pat_t[1])
            if not entries:
                raise ValueError("ES|QL: DISSECT pattern extracts no "
                                 "fields")
            # group the capture pieces per key: a later plain
            # (non-+) duplicate is ambiguous; ordered (+key/n) pieces
            # must be consistently and distinctly ordered, and sort by
            # n — unnumbered appends keep appearance order
            plan: dict[str, list[tuple[int, int | None]]] = {}
            for gi, (name, is_app, order) in enumerate(entries, 1):
                if name in plan and not is_app:
                    raise ValueError(
                        f"ES|QL: duplicate DISSECT key {name!r} — "
                        "append with %{+" + name + "}")
                plan.setdefault(name, []).append((gi, order))
            src = F.col(t[1])
            matched = src.rlike(regex)
            for name, pieces in plan.items():
                orders = [o for _, o in pieces]
                if any(o is not None for o in orders):
                    if None in orders or len(set(orders)) != len(orders):
                        raise ValueError(
                            f"ES|QL: DISSECT key {name!r} mixes "
                            "ordered and unordered appends (all "
                            "pieces of an ordered key need distinct "
                            "/n orders)")
                    pieces = sorted(pieces, key=lambda x: x[1])
                exprs = [F.regexp_extract(src, regex, gi)
                         for gi, _ in pieces]
                joined = exprs[0]
                for e in exprs[1:]:
                    joined = F.concat(joined, F.lit(sep), e)
                df = df.withColumn(name, F.when(matched, joined))
        else:
            regex, fields = _grok_regex(pat_t[1])
            if not fields:
                raise ValueError("ES|QL: GROK pattern extracts no "
                                 "fields")
            df = _extract_groups(df, t[1], regex, fields)
    elif up == "SAMPLE":
        # ES|QL SAMPLE (9.1): keep each row with probability p.
        # Live ES|QL samples with an RNG — non-deterministic across
        # retries, which this engine rejects as a class; the
        # documented extension takes the integral id column to gate
        # on and reuses the random_sampler LCG prime-field hash
        # (oracle-replayable in ANSI SQL).  The gate is a codegen
        # filter that rides the scan: at 100 TB the dropped rows
        # never reach the next stage.
        t = p.next()
        if t[0] != "num":
            raise ValueError(
                f"ES|QL: SAMPLE needs a probability literal{_at(t)}")
        prob = float(t[1])
        if not 0.0 < prob < 1.0:
            raise ValueError(
                f"ES|QL: SAMPLE probability must be in (0, 1), "
                f"got {t[1]}{_at(t)}")
        col_t = None if p.done() else p.next()
        if col_t is None or col_t[0] != "id" or not p.done():
            raise ValueError(
                "ES|QL: SAMPLE <probability> <id_column> — live "
                "ES|QL's RNG sample is not retry-deterministic; "
                "this engine gates on a documented hash of an "
                "integral id column (COVERAGE.md divergence list)")
        fld = col_t[1]
        if fld not in df.columns:
            raise ValueError(
                f"ES|QL: unknown column {fld!r} (have {df.columns})")
        ftype = df.schema[fld].dataType.simpleString()
        if ftype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"ES|QL: SAMPLE id column must be integral (got "
                f"{fld!r}: {ftype})")
        # the ONE shared gate (round-14 review: SAMPLE and
        # random_sampler must select identical row sets)
        from .query_dsl import sampling_gate

        df = df.where(sampling_gate(F.col(fld), prob))
    elif up == "CHANGE_POINT":
        # ES|QL CHANGE_POINT value [ON key] [AS type, pvalue]
        # (8.18 tech preview): annotate the row where the series
        # (ordered by key) breaks.  Compiles onto the SAME
        # variance-explained detector as the change_point pipeline
        # agg (query_dsl.change_point_scalar — extracted for this);
        # the second output column carries that detector's
        # variance-explained score, NOT live ES's p-value
        # (documented divergence, same class as the agg).  Only a
        # detected break (step_change/spike/dip) annotates a row;
        # stationary/indeterminable series keep both columns NULL
        # everywhere.  Scale: the detector is O(rows) window math —
        # ES|QL callers run it AFTER a STATS reduce, same as ES.
        from .query_dsl import change_point_scalar

        val_t = p.next()
        if val_t[0] != "id" or val_t[1] not in df.columns:
            raise ValueError(
                "ES|QL: CHANGE_POINT needs a value column "
                f"(have {df.columns})")
        key = "@timestamp"
        names = ["type", "pvalue"]
        while not p.done():
            kw = p.next()
            if kw[0] == "id" and kw[1].upper() == "ON":
                kt = p.next()
                if kt[0] != "id":
                    raise ValueError(
                        f"ES|QL: CHANGE_POINT ON needs a column"
                        f"{_at(kt)}")
                key = kt[1]
            elif kw[0] == "id" and kw[1].upper() == "AS":
                t1 = p.next()
                c = p.next()
                t2 = p.next()
                if (t1[0] != "id" or t2[0] != "id"
                        or c != ("op", ",")):
                    raise ValueError(
                        "ES|QL: CHANGE_POINT … AS type_name, "
                        "pvalue_name")
                names = [t1[1], t2[1]]
            else:
                raise ValueError(
                    f"ES|QL: unexpected CHANGE_POINT token "
                    f"{kw[1]!r}{_at(kw)}")
        if key not in df.columns:
            raise ValueError(
                f"ES|QL: CHANGE_POINT key column {key!r} missing — "
                "name one with ON (the @timestamp default is not "
                f"on this frame: {df.columns})")
        for n in names:
            if n in df.columns:
                raise ValueError(
                    f"ES|QL: CHANGE_POINT output column {n!r} "
                    "collides with an existing column (RENAME or "
                    "AS different names)")
        scalar = change_point_scalar(
            df.select(F.col(key).alias("key"),
                      F.col(val_t[1]).alias("_v")),
            F.col("_v"), "_cp")
        # duplicate ON keys would leave the detector's window order
        # (and the break annotation) tie-dependent — the pipeline-agg
        # caller always has unique bucket keys; the command surface
        # rejects loudly instead (round-14 review: retry determinism is
        # the contract).  One broadcast scalar, folded into the
        # annotation column like the max_buckets guard.
        chk = df.agg(
            F.count(F.col(key)).alias("_cp_n"),
            F.count_distinct(F.col(key)).alias("_cp_nd"))
        annotated = (df.crossJoin(F.broadcast(scalar))
                     .crossJoin(F.broadcast(chk)))
        at_break = (F.col("_cp_key").isNotNull()
                    & (F.col(key).cast("string") == F.col("_cp_key")))
        dup = F.col("_cp_n") != F.col("_cp_nd")
        df = (annotated
              .withColumn(names[0],
                          F.when(dup, F.raise_error(F.lit(
                              f"ES|QL: CHANGE_POINT ON {key} has "
                              "duplicate key values — the series order "
                              "is ambiguous; STATS … BY the key first")))
                          .otherwise(
                              F.when(at_break, F.col("_cp_type"))))
              .withColumn(names[1],
                          F.when(at_break, F.col("_cp_score")))
              .drop("_cp_type", "_cp_key", "_cp_score",
                    "_cp_n", "_cp_nd"))
    elif up == "FORK":
        # ES|QL FORK (9.1): run 2–8 parenthesized branch sub-pipelines
        # over the SAME input frame and union the results by name, each
        # row tagged with its branch in a ``_fork`` column (fork1,
        # fork2, … in branch order — ES's discriminator convention).
        # Scale shape: the union is a no-shuffle concatenation and each
        # branch keeps its own pushdown/pruning against the shared
        # source — Catalyst reuses the scan where branches allow.
        # Nested FORK rejects like live ES|QL.
        if in_fork:
            raise ValueError("ES|QL: FORK cannot be nested")
        if "_fork" in df.columns:
            raise ValueError(
                "ES|QL: only one FORK per query (the frame already "
                "carries a _fork column)")
        branches: list[list] = []
        while not p.done():
            t = p.next()
            if t != ("op", "("):
                raise ValueError(
                    "ES|QL: FORK branches are parenthesized "
                    f"sub-pipelines{_at(t)}")
            depth = 1
            toks: list = []
            while depth:
                t2 = p.next()
                if t2 == ("op", "("):
                    depth += 1
                elif t2 == ("op", ")"):
                    depth -= 1
                    if depth == 0:
                        break
                toks.append(t2)
            if not toks:
                raise ValueError(
                    "ES|QL: a FORK branch needs at least one command")
            branches.append(toks)
        if not 2 <= len(branches) <= 8:
            raise ValueError(
                f"ES|QL: FORK takes 2 to 8 branches, got {len(branches)}")
        outs = []
        for bi, btoks in enumerate(branches, 1):
            bdf = df
            for bstage in _split_pipes(btoks):
                bdf = _apply_stage(bdf, bstage, tables, in_fork=True,
                                   rerank_models=rerank_models)
            if "_fork" in bdf.columns:
                raise ValueError("ES|QL: FORK cannot be nested")
            outs.append(bdf.withColumn("_fork", F.lit(f"fork{bi}")))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        df = out
    elif up == "FUSE":
        # ES|QL FUSE (9.2 tech preview): merge FORK branches into one
        # ranked result — ``FUSE [rrf|linear] [SCORE BY col]
        # [KEY BY col, …]``.  rrf scores 1/(60+rank) per branch (the
        # rrf_fuse constant); linear sums the raw branch scores.  Ranks
        # are deterministic: score desc, then the key columns asc
        # within each _fork.  Output = key columns + the fused score
        # column; other columns drop (live ES carries first-wins
        # metadata — a flat frame has no doc identity to carry, the
        # documented divergence) and a SORT stage orders the result.
        # WITH options reject loudly.  Scale shape: FORK branches are
        # already bounded (top-k/aggregates); one window per branch
        # frame + ONE groupBy on the keys.
        from pyspark.sql.window import Window as _W

        method = "rrf"
        score_col = "_score"
        keys = ["_id"]
        t = p.peek()
        if (t is not None and t[0] == "id"
                and t[1].upper() in ("RRF", "LINEAR")):
            method = p.next()[1].lower()
        while not p.done():
            kw = p.next()
            if kw[0] != "id":
                raise ValueError(
                    f"ES|QL: unexpected FUSE token {kw[1]!r}{_at(kw)}")
            up2 = kw[1].upper()
            if up2 == "SCORE":
                by = p.next()
                sc = p.next()
                if (by[0] != "id" or by[1].upper() != "BY"
                        or sc[0] != "id"):
                    raise ValueError("ES|QL: FUSE SCORE BY <column>")
                score_col = sc[1]
            elif up2 == "KEY":
                by = p.next()
                if by[0] != "id" or by[1].upper() != "BY":
                    raise ValueError("ES|QL: FUSE KEY BY <column, …>")
                keys = []
                while not p.done():
                    kt = p.peek()
                    if (kt[0] != "id"
                            or kt[1].upper() in ("SCORE", "KEY", "WITH")):
                        break
                    keys.append(p.next()[1])
                    if p.peek() == ("op", ","):
                        p.next()
                if not keys:
                    raise ValueError("ES|QL: FUSE KEY BY <column, …>")
            elif up2 == "WITH":
                raise ValueError(
                    "ES|QL: FUSE WITH options are not supported "
                    "(rank_constant is fixed at 60, the rrf default)")
            else:
                raise ValueError(
                    f"ES|QL: unexpected FUSE token {kw[1]!r}{_at(kw)}")
        if "_fork" not in df.columns:
            raise ValueError(
                "ES|QL: FUSE needs a _fork column — put a FORK stage "
                "before it")
        for c in [score_col, *keys]:
            if c not in df.columns:
                raise ValueError(
                    f"ES|QL: FUSE column {c!r} missing (have "
                    f"{df.columns}; name them with SCORE BY / KEY BY)")
        # a FORK branch that never produced the score column gets
        # NULL-filled by the union-by-name; silently ranking those rows
        # (by key tiebreak alone) would diverge from live ES's
        # ranked-branch contract — reject loudly instead (round-15
        # review; policy documented in COVERAGE.md §es_esql_fuse).
        # The reject is a COALESCE onto an ANSI-cast poison, NOT
        # raise_error and NOT when/otherwise: raise_error is
        # non-deterministic (blocks CollapseProject — the benched
        # FORK|FUSE lost its branch TakeOrderedAndProject rewrites and
        # gained a full range-partition sort exchange, measured ~2.7x),
        # and when(isnull(s), …, s) references the branch's score alias
        # TWICE, which also stops CollapseProject (duplicate non-cheap
        # reference) with the same top-k loss.  coalesce references the
        # score once, folds into the branch top-k projection like any
        # scalar, and under ANSI (Spark 4's default, this engine's
        # documented execution contract) the poison cast throws
        # CAST_INVALID_INPUT carrying the message; a branch that
        # STATICALLY lacks the column (literal NULL fill) even fails at
        # plan time via constant folding.
        checked = F.coalesce(
            F.col(score_col).cast("double"),
            F.concat(
                F.lit(f"ES|QL: FUSE found a NULL {score_col} in fork "
                      "branch "),
                F.col("_fork"),
                F.lit(" — every FORK branch feeding FUSE must produce "
                      "the score column (ranked-branch contract)"))
            .cast("double"))
        # materialize the guarded score once so the window sorts on a
        # concrete attribute
        df = df.withColumn("\x00fuse_chk", checked)
        w = _W.partitionBy("_fork").orderBy(
            F.col("\x00fuse_chk").desc(),
            *[F.col(k).asc_nulls_last() for k in keys])
        ranked = df.withColumn("_fuse_rank", F.row_number().over(w))
        # rrf reaches the guard through the window order; linear must
        # reference it directly or Catalyst prunes the unused window
        # (and the NULL guard with it)
        contrib = (F.lit(1.0) / (F.lit(60) + F.col("_fuse_rank"))
                   if method == "rrf"
                   else F.col("\x00fuse_chk").cast("double"))
        df = (ranked
              .groupBy(*keys)
              .agg(F.round(F.sum(contrib), 9).alias(score_col)))
    elif up == "RERANK":
        # ES|QL 9.x RERANK (round 15): rescore the CURRENT rows against
        # a query text with the model behind an inference id, writing
        # the result to _score.  Live ES calls an inference endpoint
        # (usually LLM-backed); offline the id must name a
        # DETERMINISTIC linear model passed via esql(rerank_models=) —
        # the SAME registry shape and sigmoid(bias + Σ weights over
        # doc-token occurrences appearing in the analyzed query) scoring
        # contract as the text_similarity_reranker retriever
        # (plans/scoring.py), so the two surfaces cannot drift.  Syntax
        # subset: RERANK "query" ON field WITH "inference-id" (the 9.x
        # options-map form carries only inference_id for this engine);
        # rows keep their lazy unordered frame semantics — follow with
        # SORT _score to make the new order explicit.
        from ..operators.classify import (
            _sigmoid_col,
            _weight_lookup,
            _weighted_fold,
        )
        from .analysis import analyze_col, analyze_text

        qt = p.next()
        if qt[0] != "str":
            raise ValueError(
                f"ES|QL: RERANK needs a literal query string{_at(qt)}")
        on_t = p.next()
        if on_t[0] != "id" or on_t[1].upper() != "ON":
            raise ValueError(
                f"ES|QL: RERANK expects ON <field>, got {on_t[1]!r}"
                f"{_at(on_t)}")
        fld = p.next()
        if fld[0] != "id":
            raise ValueError(
                f"ES|QL: RERANK ON needs a field name{_at(fld)}")
        if fld[1] not in df.columns:
            raise ValueError(
                f"ES|QL: unknown column {fld[1]!r} (have {df.columns})")
        with_t = p.next()
        if with_t[0] != "id" or with_t[1].upper() != "WITH":
            raise ValueError(
                f"ES|QL: RERANK expects WITH <inference-id>, got "
                f"{with_t[1]!r}{_at(with_t)}")
        mid_t = p.next()
        if mid_t[0] not in ("str", "id") or not p.done():
            raise ValueError(
                "ES|QL: RERANK \"query\" ON field WITH \"inference-id\"")
        models = rerank_models or {}
        if mid_t[1] not in models:
            raise ValueError(
                f"ES|QL: unknown rerank inference id {mid_t[1]!r} — "
                "this engine serves only deterministic linear models "
                "passed via esql(rerank_models=) (available: "
                f"{sorted(models)}); remote/LLM-backed inference "
                "endpoints are not servable offline")
        model = models[mid_t[1]]
        munk = set(model) - {"weights", "default_weight", "bias",
                             "analyzer"}
        if munk:
            raise ValueError(
                f"ES|QL: unsupported rerank model option(s): "
                f"{sorted(munk)} (weights | default_weight | bias | "
                "analyzer)")
        m_an = model.get("analyzer")
        qtoks = analyze_text(qt[1], m_an)
        if not qtoks:
            raise ValueError(
                "ES|QL: RERANK query analyzed to no tokens")
        weights = model.get("weights") or {}
        dw = float(model.get("default_weight", 1.0))
        eff = {t: float(weights.get(t, dw)) for t in dict.fromkeys(qtoks)}
        score = _sigmoid_col(
            _weighted_fold(analyze_col(fld[1], m_an),
                           _weight_lookup(eff)),
            float(model.get("bias", 0.0)))
        df = df.withColumn("_score", score)
    elif up == "COMPLETION":
        raise ValueError(
            "ES|QL: COMPLETION is LLM-backed text generation — not "
            "servable by an offline engine (no deterministic public-"
            "spec subset exists).  For deterministic scoring use "
            "RERANK with a linear model (esql(rerank_models=)) or the "
            "classifier operators (operators/classify.py)")
    elif up == "MV_EXPAND":
        t = p.next()
        if t[0] != "id" or not p.done():
            raise ValueError("ES|QL: MV_EXPAND needs one column")
        if t[1] not in df.columns:
            raise ValueError(
                f"ES|QL: unknown column {t[1]!r} (have {df.columns})")
        df = df.select(*[
            F.explode_outer(F.col(c)).alias(c) if c == t[1] else F.col(c)
            for c in df.columns])
    else:
        raise ValueError(
            f"ES|QL: unsupported command {up} (supported: WHERE EVAL "
            "STATS INLINESTATS SORT LIMIT KEEP DROP RENAME MV_EXPAND "
            "LOOKUP JOIN ENRICH DISSECT GROK SAMPLE CHANGE_POINT "
            "FORK FUSE RERANK)")
    return df
