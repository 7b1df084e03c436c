"""ClickHouse-SQL compatibility: a scoped, tested translation of the
ClickHouse dialect constructs the reference's workload actually uses
into Spark SQL.

The reference delegates every query to a ClickHouse server, so its
users' existing queries are written in the ClickHouse dialect (e.g.
``SELECT count() FROM limits_hashes WHERE ...``, the exact shape of
`hashes_test.go:191-233`). This module is the switching path: paste
the ClickHouse query, run it on Spark.

Scope (deliberately small and fully covered by tests — anything
outside it passes through unchanged and fails loudly in Spark's
parser rather than silently misbehaving):

- ``count()``                    -> ``count(*)``
- ``uniq(x)`` / ``uniqHLL12(x)`` -> ``approx_count_distinct(x)``
- ``uniqExact(x)``               -> ``count(DISTINCT x)``
- ``argMax(a, b)``/``argMin``    -> ``max_by(a, b)`` / ``min_by``
- ``countIf(c)``                 -> ``count_if(c)``
- ``sumIf(x, c)``/``avgIf``/``minIf``/``maxIf``
                                 -> ``sum(CASE WHEN c THEN x END)`` etc.
- ``quantile(p)(x)`` and ``quantileExact(p)(x)``
                                 -> ``percentile_approx(x, p)`` /
                                    ``percentile(x, p)``
- ``median(x)``                  -> ``percentile(x, 0.5)``
- ``toStartOfMinute/Hour/Day/Week/Month/Year(x)``
                                 -> ``date_trunc('<unit>', x)``
- ``toYYYYMM(x)``                -> ``date_format(x, 'yyyyMM')``
- ``toDate(x)`` / ``toDateTime(x)`` -> ``CAST(x AS DATE/TIMESTAMP)``
- ``toUInt32(x)``/``toInt64(x)`` etc. -> ``CAST(x AS BIGINT)``
- ``now()`` / ``today()``        -> ``current_timestamp()`` /
                                    ``current_date()``
- ``empty(x)`` / ``notEmpty(x)`` -> ``(length(x) = 0)`` / ``> 0``
- ``ORDER BY o LIMIT n BY a, b``  -> ``row_number()`` window rewrite
                                    (requires a top-level ORDER BY;
                                    the offset form stays a loud error)
- ``FROM t SAMPLE f``            -> deterministic hash filter on the
                                    caller-declared sampling key
                                    (``sample_keys=``; keyless = loud)
- ``FROM t FINAL [SAMPLE f]``    -> latest-row-per-key window using the
                                    caller-declared (keys, version)
                                    (``final_keys=``; keyless = loud);
                                    the combined form samples inside
                                    the window (the physical-read order)
- ``ORDER BY o LIMIT n WITH TIES`` -> ``rank()`` window rewrite
- ``[LEFT] ARRAY JOIN e AS x``   -> ``LATERAL VIEW [OUTER]
                                    explode(e) .. AS x``; the
                                    two-array parallel form zips via
                                    ``zip_with`` + alias rewrite
                                    (3+ arrays: loud error)
- ``{name:Type}`` params         -> Spark named markers ``:name``
                                    (bind via ``run_sql(params=...)``;
                                    positional ``?`` needs no rewrite)
- String/JSON/date/array scalars: ``lengthUTF8 lowerUTF8 upperUTF8
  positionUTF8 base64Encode/Decode concatWithSeparator
  substringIndex toISOWeek toYYYYMMDD[hhmmss] arrayReverseSort
  toInterval{Year..Second} to*OrNull/to*OrZero (full numeric family)
  uniqTheta anyHeavy quantileDeterministic
  position startsWith
  endsWith replaceAll JSONExtract{String,Raw,Int,Float,Bool}
  visitParam{ExtractString,ExtractRaw,ExtractInt,ExtractFloat,
  ExtractBool,Has} tuple tupleElement rand (UInt32 range)
  toDayOfWeek (ISO Monday=1 via weekday()+1 — Spark's dayofweek is
  Sunday=1; non-zero modes are loud)
  toStartOfQuarter toQuarter toDayOfYear toUnixTimestamp
  fromUnixTimestamp intDiv modulo isNull isNotNull arrayElement
  indexOf arrayMap arrayFilter arrayExists arrayAll arrayCount
  arrayStringConcat arraySort arrayReverse arrayDistinct arrayUniq
  arraySlice leftPad rightPad trimBoth trimLeft trimRight
  substringUTF8 countSubstrings formatDateTime dateDiff
  toStartOfInterval add/subtract{Seconds..Years} yesterday
  bitAnd/Or/Xor/Not/ShiftLeft/ShiftRight arrayCompact
  arrayPush{Back,Front} arrayPop{Back,Front} range groupArray
  groupArray(n)() groupUniqArray roundBankers toMonday timeSlot age
  positionCaseInsensitive replaceRegexpAll splitByChar splitByString
  intDivOrZero moduloOrZero ifNull assumeNotNull toNullable bitCount
  toStartOf{Five,Ten,Fifteen}Minutes uniqUpTo(k)
  quantileTDigest/Timing/BFloat16 (to percentile_approx, approx->
  approx); sipHash/cityHash/farmHash/murmurHash are loud (no Spark
  builtin reproduces the values — bucketing would silently reshuffle)
  multiMatchAny[CaseInsensitive] multiSearchAnyCaseInsensitive
  countMatches replaceOne ifEmpty toDateTime64 makeDate(3- and 2-arg)
  makeDateTime toLastDayOfMonth toRelative{Year,Month,Day,Hour,
  Minute,Second}Num simpleLinearRegression skewPop/skewSamp
  kurtPop/kurtSamp (exact (n-1)/n adjustments over Spark's
  population skewness / excess kurtosis) groupBit{And,Or,Xor}
  isFinite isInfinite bitTest generateUUIDv4 exp2/exp10
  intExp2/intExp10 (exact: shiftleft / literal power table)
  accurateCastOrNull format('{}..') arrayEnumerateDense/Uniq
  arrayFold toStartOfSecond toMillisecond toDaysSinceYearZero
  mapFromArrays sumKahan countDistinctIf firstValue/lastValue
  singleValueOrNull lagInFrame/leadInFrame (default-frame lag/lead)
  denseRank percentRank randNormal/randUniform (shifted builtins)
  quantileGK (Greenwald-Khanna on both engines);
  bit shifts emit shiftleft()/shiftright() functions — Spark's
  parser rejects `>>` after a lambda arrow; loud: CAST-to-Tuple,
  toYearWeek, geo distance family, KS/one-sample-t/z tests,
  quantileInterpolatedWeighted, groupArrayLast/Sample, randConstant
  {min,max,avg,sum,any}OrNull/OrDefault MD5/SHA1/SHA224..512 (unhex'd
  — ClickHouse digests are BINARY, so hex(MD5(x)) round-trips)
  toDecimal32/128(+OrNull/OrZero) toDate32 toBool char(n-arg)
  tryBase64Decode ifNotFinite currentDatabase materialize identity
  ignore roundToExp2 roundDuration roundAge (fixed bucket tables)
  arrayJaccardIndex arrayUnion; loud: xxHash (near-name, different
  values), rowNumberInBlock/blockNumber, server/timezone
  introspection, base58, bitmap*, UUID binary conversions,
  toDecimal256, -Resample, arrayRandomSample
  simpleJSON{Has,Extract*} (visitParam aliases) JSONHas (2-arg)
  JSONExtractUInt toJSONString isValidJSON to/fromModifiedJulianDay
  arraySymmetricDifference; * EXCEPT passes through (native Spark
  3.4+ star syntax); loud: * APPLY / * REPLACE / COLUMNS('re')
  (need the schema), JSONType/AllPaths/ExtractArrayRaw, the
  experimental NLP family, the extended string-distance family
  plus/minus/multiply/divide/negate splitByRegexp arrayWithConstant
  widthBucket hasSubstr quantilesGK; the multi-array higher-order
  forms (arrayMap/Filter/Exists/All/Count/First/Last/FirstIndex over
  TWO arrays) translate via zip_with — the 1-array emission would
  have bound the second lambda parameter to Spark's element INDEX
  (3+ arrays loud); ClickHouse [..] array LITERALS become array(..)
  and integer subscripts ident[n] become element_at (ClickHouse is
  1-based with negative-from-end — Spark's [] is 0-based); round-12
  promotions: scalar -State/-Merge pairs (count/sum/min/max/avg —
  portable partial-state algebra; sketch states stay loud),
  boundingRatio (closed max_by/min_by form), gcd/lcm (bounded-Euclid
  aggregate() fold, 96 steps covers 64-bit), and the
  statement-leading constant WITH (``WITH 100 AS k SELECT ..`` —
  literal inlined at each alias use; nested/non-literal forms stay
  loud); round-13 promotions: LIMIT offset forms (``LIMIT off, n BY``
  / ``LIMIT n OFFSET off BY`` — same row_number window, rank range
  off+1..off+n) and toWeek/toYearWeek modes 0 (the ClickHouse
  default: first-Sunday closed form, YEARWEEK previous-year
  attribution) and 3 (ISO); other week modes stay loud; and the
  interpolating exact-quantile pair quantileExactInclusive ==
  PERCENTILE.INC -> percentile() / quantileExactExclusive ==
  PERCENTILE.EXC -> the Hyndman-Fan R6 closed form (+ plurals;
  Low/High stay loud — element-index convention unverifiable here);
  corrMatrix/covarSampMatrix/covarPopMatrix -> nested array literals
  of the pairwise streaming aggregates; entropy(x) -> the run-length
  Shannon-entropy fold over the sorted group (tuple form stays
  loud); arrayFill/arrayReverseFill -> carry folds matching the
  documented scan (arraySplit and multi-array conditions stay
  loud)``
  (literal formats/units/separators;
  unknown codes and units are loud errors; dateDiff keeps ClickHouse's
  boundary-crossing semantics via unit truncation, while age counts
  complete units elapsed)
- URL family: ``protocol domain domainWithoutWWW topLevelDomain path
  pathFull queryString fragment queryStringAndFragment
  extractURLParameter cutQueryString cutFragment
  cutQueryStringAndFragment netloc port decodeURLComponent
  encodeURLComponent`` — regexp-based with ClickHouse's scheme-less
  tolerance and ''-on-missing semantics
  (``firstSignificantSubdomain`` needs a public-suffix list: loud)
- IPv4 family: ``IPv4NumToString IPv4StringToNum toIPv4 isIPv4String
  IPv4CIDRToRange`` (pure integer arithmetic; IPv6 is out of scope)
- Array/map tail: ``arrayFirst arrayLast arrayFirstIndex arraySum
  arrayAvg arrayProduct arrayMin arrayMax arrayConcat arrayIntersect
  mapKeys mapValues arrayReduce('max|min|sum|avg|count|uniq|any'...)``
  (numeric folds accumulate in DOUBLE — values match, integer sums
  widen; no-match arrayFirst/Last — and arrayReduce('any'/'anyLast')
  on an empty array — is NULL where ClickHouse returns the type
  default; uniq/uniqExact skip NULLs, matching the ClickHouse
  aggregates; other arrayReduce aggregate names are loud)
- ``transform(x, [..], [..][, d])`` -> CASE chain (literal arrays only;
  the 2-arg Spark lambda form passes through — same name, unrelated
  semantics, so the lookup form is rewritten FIRST)
- Sequence aggregates translated as pure aggregate EXPRESSIONS (no
  query restructuring): ``retention(c1..cn)`` -> per-condition max
  flags ANDed to the anchor; ``windowFunnel(w)(ts, c1..cn)`` ->
  ClickHouse's own chain-start fold over the time-sorted (ts, level)
  pairs via ``aggregate()``; ``sequenceMatch/sequenceCount('pat')(ts,
  c1..cn)`` -> regexp over the time-ordered condition-character
  string for the ``(?N)``/``.*``/``.`` pattern subset (``(?t...)``
  time constraints and windowFunnel mode strings stay loud; events
  matching 2+ sequenceMatch conditions take the FIRST — ClickHouse's
  bitmask automaton can backtrack across overlapping conditions,
  mutually-exclusive conditions match exactly)
- Loud parametric-aggregate errors pointing at the first-class
  operators: ``sumMap/minMap/maxMap/avgMap histogram groupBitmap*
  topK``
- Table functions: ``numbers(n)`` / ``numbers(offset, n)`` ->
  ``range()`` TVF with the CH column name; ``remote/cluster/s3/url/
  file/hdfs/generateRandom`` are loud errors pointing at Spark's own
  ``spark.read`` readers

The rewriter is quote-aware and nesting-aware (a tiny top-level-arg
splitter, not a regex over the whole call), so nested calls like
``sumIf(value, event_type = concat('a', 'b'))`` translate correctly.
"""

from __future__ import annotations

import re
from collections.abc import Callable

__all__ = ["translate"]


def _find_matching_paren(sql: str, open_idx: int) -> int:
    """Index of the ')' matching sql[open_idx] == '(', honoring
    single-quoted SQL strings (with '' escapes)."""
    depth = 0
    i = open_idx
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parentheses after index {open_idx}")


def _split_top_level(args: str) -> list[str]:
    """Split an argument string on top-level commas (quote/paren aware)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    i = 0
    n = len(args)
    while i < n:
        c = args[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n:
                cur.append(args[i])
                if args[i] == "'":
                    if i + 1 < n and args[i + 1] == "'":
                        cur.append(args[i + 1])
                        i += 2
                        continue
                    break
                i += 1
        elif c in "([":
            depth += 1
            cur.append(c)
        elif c in ")]":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _in_string(sql: str, idx: int) -> bool:
    """True if sql[idx] falls inside a single-quoted literal."""
    quotes = 0
    i = 0
    while i < idx:
        if sql[i] == "'":
            if i + 1 < idx and sql[i + 1] == "'" and quotes % 2 == 1:
                i += 2
                continue
            quotes += 1
        i += 1
    return quotes % 2 == 1


_SETTINGS_PAT = re.compile(r"\s+SETTINGS\s+[^;]*$", re.IGNORECASE)
_FORMAT_PAT = re.compile(r"\s+FORMAT\s+\w+\s*;?\s*$", re.IGNORECASE)
_GLOBAL_PAT = re.compile(
    r"\bGLOBAL\s+(?=(IN|ANY\s+JOIN|ALL\s+JOIN|JOIN|LEFT|RIGHT|INNER|FULL)\b)",
    re.IGNORECASE,
)


def _sub_unquoted(pattern: re.Pattern, repl: str, out: str) -> str:
    """re.sub that skips matches inside single-quoted literals."""
    pos = 0
    while True:
        m = pattern.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.start() + 1
            continue
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


def _raise(exc: Exception) -> str:
    """Raise from expression position (rewrite lambdas branch on the
    argument shape and need to go loud on the untranslatable arm)."""
    raise exc


def _rewrite_calls(
    sql: str,
    fname: str,
    handler: Callable[[list[str]], str],
    skip_preceded_by: tuple[str, ...] = (),
    skip_if_prefix: str | None = None,
    skip_if_suffix: str | None = None,
) -> str:
    """Replace every top-level call ``fname(...)`` via handler(args).

    ``skip_preceded_by``: words (lowercase) before which a match is NOT
    this function — e.g. ``range`` after FROM/JOIN is the numbers()
    rewrite's emitted Spark TVF, not ClickHouse's array range().
    ``skip_if_prefix``: literal text (lowercase) immediately before the
    match that marks our OWN emission — e.g. the digest rewrites emit
    ``unhex(md5(x))`` and must not re-wrap it on a second translate()
    (fixpoint contract; found by the differential corpus, round 8).
    ``skip_if_suffix``: same contract for text immediately AFTER the
    call's closing paren — rand()'s emission signature is the
    ``* 4294967296`` range-map that follows it.
    """
    pat = re.compile(rf"\b{re.escape(fname)}\s*\(", re.IGNORECASE)
    out = sql
    pos = 0
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        if skip_preceded_by:
            j = m.start() - 1
            while j >= 0 and out[j].isspace():
                j -= 1
            k = j
            while k >= 0 and (out[k].isalnum() or out[k] == "_"):
                k -= 1
            if out[k + 1 : j + 1].lower() in skip_preceded_by:
                pos = m.end()
                continue
        if skip_if_prefix and out[: m.start()].lower().endswith(
            skip_if_prefix
        ):
            pos = m.end()
            continue
        open_idx = out.index("(", m.start())
        close_idx = _find_matching_paren(out, open_idx)
        if skip_if_suffix and out[close_idx + 1 :].lower().startswith(
            skip_if_suffix
        ):
            pos = close_idx + 1
            continue
        inner = out[open_idx + 1 : close_idx]
        # Rewrite nested SAME-NAME calls inner-first: the scan resumes
        # AFTER each replacement (so self-embedding handlers like
        # rand() -> ...rand()... cannot loop), which would otherwise
        # silently skip a same-name call spliced in via the args
        # (lowerUTF8(lowerUTF8(s)), CAST(CAST(s, 'T'), 'U')).
        inner = _rewrite_calls(
            inner,
            fname,
            handler,
            skip_preceded_by,
            skip_if_prefix,
            skip_if_suffix,
        )
        args = _split_top_level(inner) if inner.strip() else []
        repl = handler(args)
        out = out[: m.start()] + repl + out[close_idx + 1 :]
        pos = m.start() + len(repl)


# Keywords after which an expression STARTS — a logic-function name
# here must be the function form, not the binary keyword.
_EXPR_START_KW = {
    "select", "where", "when", "then", "else", "on", "having", "by",
    "and", "or", "not", "in", "case", "like", "ilike", "between",
    "all", "any", "exists", "distinct", "as", "union", "intersect",
    "except", "filter", "qualify", "prewhere", "if", "values",
}


def _rewrite_logic_fn(sql: str, fname: str, kw: str) -> str:
    """Rewrite ClickHouse's variadic ``and(...)``/``or(...)`` function
    form to a keyword chain, leaving keyword usage ("x AND (y)",
    "x AND (a, b) IN ...") byte-untouched. A match is the function
    form only when preceded by nothing, a punctuation that starts an
    expression, or an expression-starting keyword."""
    pat = re.compile(rf"\b{re.escape(fname)}\s*\(", re.IGNORECASE)
    out = sql
    pos = 0
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        # what precedes the name?
        j = m.start() - 1
        while j >= 0 and out[j].isspace():
            j -= 1
        if j >= 0:
            c = out[j]
            if c.isalnum() or c == "_":
                k = j
                while k >= 0 and (out[k].isalnum() or out[k] == "_"):
                    k -= 1
                word = out[k + 1 : j + 1].lower()
                is_fn = word in _EXPR_START_KW
            else:
                # punctuation: an operand ends with ')' / ']' / a
                # quote — anything else starts an expression
                is_fn = c not in ")]'\"`"
        else:
            is_fn = True
        if not is_fn:
            pos = m.end()
            continue
        open_idx = out.index("(", m.start())
        close_idx = _find_matching_paren(out, open_idx)
        inner = _rewrite_logic_fn(
            out[open_idx + 1 : close_idx], fname, kw
        )
        args = _split_top_level(inner) if inner.strip() else []
        if not args:
            # Splicing a dangling keyword ("AND ()") would surface as
            # an opaque Spark parse error — violate loudly instead.
            raise ValueError(
                f"ClickHouse {fname}() with zero arguments has no "
                f"defined value — pass at least one argument"
            )
        if len(args) == 1:
            # ClickHouse's and(x)/or(x)/xor(x) is the identity on its
            # single argument; emitting the bare keyword here ("AND
            # (x)") was round-7's invalid-SQL bug.
            repl = f"({args[0]})"
        else:
            repl = "(" + f" {kw} ".join(f"({x})" for x in args) + ")"
        out = out[: m.start()] + repl + out[close_idx + 1 :]
        pos = m.start() + len(repl)


def _rewrite_curried(
    sql: str, fname: str, spark_fn: str | None, fmt: str | None = None
) -> str:
    """``fname(p)(x)`` -> ``spark_fn(x, p)`` (ClickHouse's parametric
    aggregate syntax); pass ``fmt`` with ``{x}``/``{p}`` placeholders
    for non-positional templates. Thin adapter over
    ``_rewrite_curried_fn`` (one copy of the scan machinery)."""

    def handler(p_parts: list[str], x_parts: list[str]) -> str:
        # quantiles(p1, p2, ...)(x): the multi-quantile family takes
        # an array of percentages on the Spark side.
        p = (
            f"array({', '.join(p_parts)})"
            if len(p_parts) > 1
            else (p_parts[0] if p_parts else "")
        )
        x = ", ".join(x_parts)
        return (
            fmt.format(x=x, p=p)
            if fmt is not None
            else f"{spark_fn}({x}, {p})"
        )

    return _rewrite_curried_fn(sql, fname, handler)


def _rewrite_curried_fn(
    sql: str,
    fname: str,
    handler: Callable[[list[str], list[str]], str],
) -> str:
    """``fname(p...)(x...)`` rewritten via ``handler(p_parts,
    x_parts)`` — the callable sibling of ``_rewrite_curried`` for
    translations whose shape depends on the argument count (the
    sequence aggregates build an n-condition fold/regex)."""
    pat = re.compile(rf"\b{re.escape(fname)}\s*\(", re.IGNORECASE)
    out = sql
    pos = 0
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        p_open = out.index("(", m.start())
        p_close = _find_matching_paren(out, p_open)
        rest = out[p_close + 1 :].lstrip()
        if not rest.startswith("("):
            pos = p_close
            continue
        x_open = out.index("(", p_close + 1)
        x_close = _find_matching_paren(out, x_open)
        p_parts = _split_top_level(out[p_open + 1 : p_close])
        x_parts = _split_top_level(out[x_open + 1 : x_close])
        repl = handler(p_parts, x_parts)
        out = out[: m.start()] + repl + out[x_close + 1 :]
        pos = m.start() + len(repl)


def _retention_expr(args: list[str]) -> str:
    """``retention(c1, ..., cn)`` -> INT array of per-condition flags.

    ClickHouse semantics (AggregateFunctionRetention): r[0] = 1 iff
    cond1 held on any row of the group; r[i] = 1 iff cond_{i+1} held
    on any row AND cond1 held on any row (the anchor gates every later
    flag; conditions are NOT required to hold on the same row). That
    is a pure aggregate expression — per-condition max flags, the
    anchor multiplied in — so no query restructuring is needed.
    """
    if not args:
        raise ValueError("retention() needs at least one condition")
    flags = [f"max(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in args]
    items = [f"CAST({flags[0]} AS INT)"] + [
        f"CAST({flags[i]} * {flags[0]} AS INT)"
        for i in range(1, len(args))
    ]
    return f"array({', '.join(items)})"


def _window_funnel_expr(p_parts: list[str], x_parts: list[str]) -> str:
    """``windowFunnel(w)(ts, c1, ..., cn)`` -> ClickHouse's own
    chain-start fold as a single ``aggregate()`` expression.

    The reference algorithm (AggregateFunctionWindowFunnel, default
    mode) sorts the group's (timestamp, level) pairs — one pair per
    satisfied condition, so a row matching two conditions contributes
    two pairs — and folds: a level-1 pair (re)sets the chain start to
    its own timestamp (a later start can only extend the window); a
    level-k pair promotes the level-(k-1) chain start to level k when
    it falls within ``w`` seconds of that start. Starts are never
    cleared, and level k requires level k-1 first, so the non-null
    state entries form a prefix whose length IS the max level reached.

    The translated fold reproduces exactly that over
    ``array_sort(flatten(collect_list(...)))`` — per-group memory is
    the group's matching events, the same O(group) ClickHouse itself
    holds. For the 100 TB shape where groups are huge, the windowed
    reformulation in ``operators.chagg2.window_funnel_levels`` (next-
    stage RANGE windows, no per-group materialization) is the scale
    path. ``ts`` may be a DateTime or epoch seconds (both CAST to
    TIMESTAMP); ``w`` is in seconds, compared in microseconds so
    sub-second timestamps keep their order.
    """
    strict_increase = False
    if len(p_parts) == 2 and p_parts[1].strip().strip("'") == (
        "strict_increase"
    ):
        # strict_increase: each chain event's timestamp must STRICTLY
        # exceed the previous chain event's — ClickHouse tracks it
        # with the same greedy pair state ((chain start, last event
        # ts)) this fold carries for both modes.
        strict_increase = True
    elif len(p_parts) != 1:
        raise ValueError(
            "ClickHouse windowFunnel mode strings ('strict_order', "
            "'strict_once', 'strict_dedup') have no Spark translation "
            "— only the default and 'strict_increase' modes do; "
            "operators.chagg2.window_funnel_levels is the windowed "
            "strict_increase operator"
        )
    if len(x_parts) < 2:
        raise ValueError("windowFunnel needs (timestamp, cond1, ...)")
    w, ts, conds = p_parts[0], x_parts[0], x_parts[1:]
    n = len(conds)
    t = f"unix_micros(CAST({ts} AS TIMESTAMP))"
    per_row = ", ".join(
        f"IF({c}, named_struct('t', {t}, 'l', {i + 1}), NULL)"
        for i, c in enumerate(conds)
    )
    events = (
        f"array_sort(flatten(collect_list("
        f"filter(array({per_row}), __wf_p -> __wf_p IS NOT NULL))))"
    )
    # state[i] = (s: chain start ts, l: last chain event ts) for the
    # greedy chain at level i+1 — exactly ClickHouse's
    # events_timestamp pair; NULL = level not reached.
    st = "STRUCT<s: BIGINT, l: BIGINT>"
    init = (
        f"CAST(array_repeat(CAST(NULL AS {st}), {n}) "
        f"AS ARRAY<{st}>)"
    )
    win_us = f"(CAST({w} AS BIGINT) * 1000000)"
    strict_cond = (
        f"AND __wf_e.t > element_at(__wf_s, __wf_e.l - 1).l "
        if strict_increase
        else ""
    )
    step = (
        f"(__wf_s, __wf_e) -> CASE "
        f"WHEN __wf_e.l = 1 "
        f"THEN concat(array(named_struct('s', __wf_e.t, "
        f"'l', __wf_e.t)), slice(__wf_s, 2, {n - 1})) "
        f"WHEN element_at(__wf_s, __wf_e.l - 1) IS NOT NULL "
        f"AND __wf_e.t - element_at(__wf_s, __wf_e.l - 1).s "
        f"<= {win_us} "
        f"{strict_cond}"
        f"THEN concat(slice(__wf_s, 1, __wf_e.l - 1), "
        f"array(named_struct("
        f"'s', element_at(__wf_s, __wf_e.l - 1).s, 'l', __wf_e.t)), "
        f"slice(__wf_s, __wf_e.l + 1, {n} - __wf_e.l)) "
        f"ELSE __wf_s END"
    )
    finish = (
        "__wf_s -> CAST(size(filter(__wf_s, "
        "__wf_x -> __wf_x IS NOT NULL)) AS INT)"
    )
    return f"aggregate({events}, {init}, {step}, {finish})"


def _window_funnel_windowed(sql: str) -> str:
    """``translate(..., funnel_windowed=True)``: rewrite a
    ``SELECT keys..., windowFunnel(w)(ts, c1..cn) AS a FROM src
    [WHERE ...] GROUP BY keys`` query into the RANGE-window cascade of
    ``operators.chagg2.window_funnel_levels`` instead of the per-group
    ``collect_list`` fold.

    Why: the fold is ClickHouse's own algorithm and per-group memory
    matches ClickHouse's (O(matching events)), but ONE pathological
    group concentrates that state on one task (SCALE.md's windowFunnel
    note). The cascade never materializes a group: each stage-k event
    learns its next-stage successor from a RANGE window, successor
    maps are joined level-to-level (n-2 equi-joins on vertex-sized
    frames), and groups aggregate a per-anchor MAX — every frame is
    keyed and spillable.

    Semantics: in the DEFAULT mode the cascade is exactly the fold
    (proof sketch in the emitted plan's comment: the fold's level-k
    state anchor only ever advances, so per-anchor earliest-successor
    chains dominate and are dominated by the fold's witnesses). In
    ``strict_increase`` mode the cascade computes the true maximal
    strictly-increasing chain per anchor, which can EXCEED ClickHouse
    in one corner: CH's unconditional level-state overwrite can
    replace a live chain's last-event timestamp with a later one and
    then fail the strictly-after check that the discarded chain would
    have passed. The hint is opt-in; default translate() keeps exact
    fold parity.

    Recognized shape (loud otherwise): one windowFunnel aggregate,
    every other select item a bare column listed in GROUP BY, a plain
    FROM source, optional WHERE, optional trailing ORDER BY / LIMIT.
    """
    pat = re.compile(r"\bwindowFunnel\s*\(", re.IGNORECASE)
    if not pat.search(sql):
        return sql
    sql = sql.strip()
    m = pat.search(sql)
    if _in_string(sql, m.start()):
        return sql
    if pat.search(sql, m.end()):
        raise ValueError(
            "funnel_windowed=True handles exactly one windowFunnel "
            "per statement — split the query"
        )
    p_open = sql.index("(", m.start())
    p_close = _find_matching_paren(sql, p_open)
    x_open = sql.index("(", p_close + 1)
    x_close = _find_matching_paren(sql, x_open)
    p_parts = _split_top_level(sql[p_open + 1 : p_close])
    x_parts = _split_top_level(sql[x_open + 1 : x_close])
    strict = (
        len(p_parts) == 2
        and p_parts[1].strip().strip("'") == "strict_increase"
    )
    if not strict and len(p_parts) != 1:
        raise ValueError(
            "funnel_windowed supports the default and "
            "'strict_increase' windowFunnel modes only"
        )
    if len(x_parts) < 2:
        raise ValueError("windowFunnel needs (timestamp, cond1, ...)")
    w, ts, conds = p_parts[0], x_parts[0], x_parts[1:]
    n = len(conds)

    # paren-depth-aware clause boundaries (a subquery source's own
    # WHERE/GROUP BY must not fool the split)
    def _top_level_kw(kw_pat: str, start: int = 0) -> int:
        pat_kw = re.compile(kw_pat, re.IGNORECASE)
        depth = 0
        i = start
        while i < len(sql):
            c = sql[i]
            if c == "'":
                i += 1
                while i < len(sql) and sql[i] != "'":
                    i += 1
            elif c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif depth == 0:
                mm = pat_kw.match(sql, i)
                if mm and (i == 0 or not (sql[i - 1].isalnum()
                                          or sql[i - 1] == "_")):
                    return i
            i += 1
        return -1

    sel_start = _top_level_kw(r"SELECT\b")
    from_at = _top_level_kw(r"FROM\b")
    where_at = _top_level_kw(r"WHERE\b")
    group_at = _top_level_kw(r"GROUP\s+BY\b")
    having_at = _top_level_kw(r"HAVING\b")
    tail_at = _top_level_kw(r"(?:ORDER\s+BY|LIMIT)\b")
    if sel_start != 0 or from_at < 0 or group_at < 0:
        raise ValueError(
            "funnel_windowed=True needs the shape SELECT keys..., "
            "windowFunnel(...)(...) AS alias FROM src [WHERE ...] "
            "GROUP BY keys [ORDER BY/LIMIT ...] — use the default "
            "fold translation for anything richer"
        )
    if having_at >= 0:
        raise ValueError(
            "funnel_windowed does not restructure HAVING — filter in "
            "an outer query"
        )
    sel_text = sql[len("SELECT"): from_at]
    src_end = where_at if where_at >= 0 else group_at
    src_text = sql[from_at + len("FROM"): src_end]
    where_text = (
        sql[where_at + len("WHERE"): group_at] if where_at >= 0 else None
    )
    keys_end = tail_at if tail_at >= 0 else len(sql)
    m_gb = re.match(r"GROUP\s+BY", sql[group_at:], re.IGNORECASE)
    keys_text = sql[group_at + m_gb.end(): keys_end].strip().rstrip(";")
    tail_text = (" " + sql[tail_at:].rstrip().rstrip(";")
                 if tail_at >= 0 else "")
    keys = [k.strip() for k in _split_top_level(keys_text)]
    if not keys or not all(re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
        raise ValueError(
            "funnel_windowed needs plain-column GROUP BY keys "
            "(alias expressions in a subquery first)"
        )
    alias = None
    others: list[str] = []
    for item in _split_top_level(sel_text):
        item = item.strip()
        am = re.match(
            r"^windowFunnel\b.*\)\s+AS\s+([A-Za-z_]\w*)$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if am:
            alias = am.group(1)
        elif re.fullmatch(r"[A-Za-z_]\w*", item) and item in keys:
            others.append(item)
        else:
            raise ValueError(
                f"funnel_windowed cannot carry select item {item!r} — "
                "only GROUP BY keys and the aliased windowFunnel"
            )
    if alias is None:
        raise ValueError(
            "funnel_windowed needs the windowFunnel aliased "
            "(... AS level)"
        )

    src = src_text.strip()
    where = where_text
    tail = tail_text
    klist = ", ".join(keys)
    win_us = f"(CAST({w} AS BIGINT) * 1000000)"
    lo = "1 FOLLOWING" if strict else "CURRENT ROW"
    per_row = ", ".join(
        f"IF({c}, {i + 1}, NULL)" for i, c in enumerate(conds)
    )
    nxt_cols = ", ".join(
        f"MIN(CASE WHEN __wfw_stage = {k} THEN __wfw_t END) OVER ("
        f"PARTITION BY {klist} ORDER BY __wfw_t RANGE BETWEEN {lo} "
        f"AND UNBOUNDED FOLLOWING) AS __wfw_n{k}"
        for k in range(2, n + 1)
    )
    maps = ", ".join(
        f"__wfw_m{k} AS (SELECT {klist}, __wfw_t AS __wfw_mt, "
        f"MIN(__wfw_n{k + 1}) AS __wfw_v{k + 1} FROM __wfw_nxt "
        f"WHERE __wfw_stage = {k} GROUP BY {klist}, __wfw_t)"
        for k in range(2, n)
    )
    # chain value for level k as seen from the anchor row `s`
    chain_val = {2: "__wfw_s.__wfw_n2"}
    for k in range(3, n + 1):
        chain_val[k] = f"__wfw_m{k - 1}.__wfw_v{k}"
    joins = []
    for k in range(2, n):
        prev = chain_val[k]
        on_keys = " AND ".join(
            f"__wfw_m{k}.{c} <=> __wfw_s.{c}" for c in keys
        )
        joins.append(
            f"LEFT JOIN __wfw_m{k} ON {on_keys} "
            f"AND __wfw_m{k}.__wfw_mt = {prev}"
        )
    branches = " ".join(
        f"WHEN {chain_val[k]} IS NOT NULL AND {chain_val[k]} - "
        f"__wfw_s.__wfw_t <= {win_us} THEN {k}"
        for k in range(n, 1, -1)
    )
    s_keys = ", ".join(f"__wfw_s.{c} AS {c}" for c in keys)
    g_on = " AND ".join(f"__wfw_l.{c} <=> __wfw_g.{c}" for c in keys)
    g_keys = ", ".join(f"__wfw_g.{c} AS {c}" for c in keys)
    g_grp = ", ".join(f"__wfw_g.{c}" for c in keys)
    where_sql = f" WHERE {where.strip()}" if where else ""
    return (
        f"WITH __wfw_src AS (SELECT * FROM {src}{where_sql}), "
        f"__wfw_ev AS (SELECT {klist}, "
        f"unix_micros(CAST({ts} AS TIMESTAMP)) AS __wfw_t, __wfw_stage "
        f"FROM __wfw_src LATERAL VIEW explode(filter(array({per_row}), "
        f"__wfw_x -> __wfw_x IS NOT NULL)) __wfw_e AS __wfw_stage), "
        f"__wfw_nxt AS (SELECT {klist}, __wfw_t, __wfw_stage, "
        f"{nxt_cols} FROM __wfw_ev), "
        + (maps + ", " if maps else "")
        + f"__wfw_lvl AS (SELECT {s_keys}, CASE {branches} ELSE 1 END "
        f"AS __wfw_l FROM (SELECT * FROM __wfw_nxt WHERE "
        f"__wfw_stage = 1) __wfw_s {' '.join(joins)}) "
        f"SELECT {g_keys}, CAST(COALESCE(MAX(__wfw_l.__wfw_l), 0) "
        f"AS INT) AS {alias} FROM (SELECT DISTINCT {klist} FROM "
        f"__wfw_src) __wfw_g LEFT JOIN __wfw_lvl __wfw_l ON {g_on} "
        f"GROUP BY {g_grp}{tail}"
    )


_SEQ_PATTERN_TOKEN = re.compile(r"\(\?(\d+)\)|\.\*|\.")


def _sequence_regex(pattern: str, n_conds: int) -> str:
    """ClickHouse sequenceMatch pattern -> character regex: ``(?N)``
    becomes the N-th condition's letter, ``.*`` / ``.`` pass through.
    ``(?t op value)`` time constraints need automaton state a regex
    cannot carry — loud."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        m = _SEQ_PATTERN_TOKEN.match(pattern, i)
        if not m:
            hint = (
                "time constraints ((?t op value)) need operators."
                "funnel / chagg2 window logic"
                if pattern[i:].startswith("(?t")
                else "supported tokens are (?N), .* and ."
            )
            raise ValueError(
                f"ClickHouse sequenceMatch pattern {pattern!r} has no "
                f"Spark translation at {pattern[i:]!r} — {hint}"
            )
        if m.group(1) is not None:
            k = int(m.group(1))
            if not 1 <= k <= n_conds:
                raise ValueError(
                    f"sequenceMatch pattern references condition {k} "
                    f"but only {n_conds} condition(s) were passed"
                )
            out.append(chr(ord("a") + k - 1))
        elif m.group(0) == ".*":
            # LAZY: ClickHouse's automaton completes a chain at the
            # earliest opportunity and sequenceCount resumes AFTER each
            # completed chain — greedy '.*' would swallow to the last
            # terminator and undercount ('(?1).*(?2)' over abab must
            # count 2, not 1). Existence (sequenceMatch) is
            # greediness-independent.
            out.append(".*?")
        else:
            out.append(m.group(0))
        i = m.end()
    return "".join(out)


def _sequence_match_expr(
    p_parts: list[str], x_parts: list[str], count: bool = False
) -> str:
    """``sequenceMatch('pat')(ts, c1, ..., cn)`` -> regexp over the
    time-ordered condition-character string (and ``sequenceCount`` ->
    the number of leftmost non-overlapping matches, ClickHouse's own
    counting rule).

    ClickHouse skips rows matching no condition, so the string holds
    one letter per matching row in (ts) order and the ``(?N)``/
    ``.*``/``.`` pattern subset maps 1:1 onto an unanchored regex
    search. Caveat: a row satisfying SEVERAL conditions contributes
    its FIRST match's letter, while ClickHouse stores a bitmask its
    automaton can backtrack across — with mutually-exclusive
    conditions (the common event_type = '...' shape) the two are
    identical; overlapping conditions may diverge and deserve the
    first-class operators in ``operators.funnel``.
    """
    if len(p_parts) != 1 or not (
        p_parts[0].startswith("'") and p_parts[0].endswith("'")
    ):
        raise ValueError(
            "sequenceMatch/sequenceCount need a single string-literal "
            "pattern — '(?1)(?2)' style"
        )
    if len(x_parts) < 2:
        raise ValueError(
            "sequenceMatch/sequenceCount need (timestamp, cond1, ...)"
        )
    ts, conds = x_parts[0], x_parts[1:]
    if len(conds) > 26:
        raise ValueError(
            "sequenceMatch translation supports at most 26 conditions"
        )
    regex = _sequence_regex(p_parts[0][1:-1], len(conds))
    t = f"unix_micros(CAST({ts} AS TIMESTAMP))"
    chain = " ".join(
        f"WHEN {c} THEN named_struct('t', {t}, 'c', "
        f"'{chr(ord('a') + i)}')"
        for i, c in enumerate(conds)
    )
    # collect_list drops the NULL CASE result, implementing
    # ClickHouse's skip-undescribed-rows rule for free.
    ev = (
        f"concat_ws('', transform(array_sort(collect_list("
        f"CASE {chain} END)), __sm_e -> __sm_e.c))"
    )
    if count:
        return (
            f"CAST(size(regexp_extract_all({ev}, '{regex}', 0)) "
            f"AS BIGINT)"
        )
    return f"CAST(regexp_like({ev}, '{regex}') AS INT)"


_TRUNC_UNITS = {
    "toStartOfMinute": "minute",
    "toStartOfHour": "hour",
    "toStartOfDay": "day",
    # toStartOfWeek is NOT here: ClickHouse's default mode 0 starts
    # weeks on SUNDAY while date_trunc('week') starts them on Monday —
    # it gets a mode-aware handler (silent-wrong-results class, same
    # as toDayOfWeek's ISO offset)
    "toStartOfMonth": "month",
    "toStartOfYear": "year",
}


def _to_start_of_week(a: list[str]) -> str:
    if len(a) > 2:
        # same loud-on-untranslatable convention as modes 2-9: a
        # timezone argument silently discarded would shift the week
        # boundary — the exact silent-divergence class this handler
        # exists to fix
        raise ValueError(
            "toStartOfWeek with a timezone argument has no Spark "
            "translation — convert with from_utc_timestamp/"
            "to_utc_timestamp explicitly, then truncate"
        )
    mode = a[1].strip() if len(a) > 1 else "0"
    if mode == "0":
        # Sunday start: weekday() is Monday=0..Sunday=6, so days since
        # the last Sunday = (weekday + 1) % 7; ClickHouse returns Date
        return f"(CAST({a[0]} AS DATE) - ((weekday({a[0]}) + 1) % 7))"
    if mode == "1":
        return f"CAST(date_trunc('week', {a[0]}) AS DATE)"
    raise ValueError(
        "toStartOfWeek: only modes 0 (Sunday start, the ClickHouse "
        "default) and 1 (Monday start) translate; modes 2-9 "
        "(year-boundary variants) have no Spark equivalent — "
        f"got mode {mode!r}"
    )

def _count_capture_groups(pattern: str) -> int:
    """Number of CAPTURING groups in a regex (character classes and
    ``(?...)`` non-capturing/lookaround constructs excluded) — both
    RE2 (ClickHouse) and java.util.regex (Spark) number plain ``(``
    groups identically, which is what makes the static expansion in
    ``_extract_groups`` dialect-safe."""
    n = 0
    i = 0
    in_class = False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and pattern[i + 1 : i + 2] != "?":
            n += 1
        i += 1
    return n


def _null_propagating(fn: str):
    """Wrap ``fn(args...)`` so any NULL argument yields NULL —
    ClickHouse's ordinary-function convention for greatest/least,
    where Spark's builtins skip NULLs instead."""

    def handler(args: list[str]) -> str:
        if len(args) < 2:
            return f"{fn}({', '.join(args)})"
        guard = " OR ".join(f"({a}) IS NULL" for a in args)
        return (
            f"(CASE WHEN {guard} THEN NULL "
            f"ELSE {fn}({', '.join(args)}) END)"
        )

    return handler


def _extract_one(a: list[str]) -> str:
    """ClickHouse 2-arg ``extract(haystack, pattern)``: returns the
    FIRST subpattern's match if the regex has capture groups, else
    the WHOLE match. For a literal pattern the group count is
    countable at translate time (the extractGroups machinery), so
    group-less patterns get regexp_extract index 0 — the r13 probe
    found the old unconditional index 1 made Spark throw
    'group count is 0' on them. Non-literal patterns keep index 1
    (the dominant spelling); a group-less one still fails LOUDLY at
    runtime, never silently. Standard SQL ``EXTRACT(unit FROM ts)``
    has one comma-free argument and passes through untouched."""
    if len(a) != 2:
        return f"extract({', '.join(a)})"
    m = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip(), re.DOTALL)
    if m is None:
        return f"regexp_extract({a[0]}, {a[1]}, 1)"
    lit = m.group(1).replace("''", "'")
    idx = 1 if _count_capture_groups(lit) >= 1 else 0
    return f"regexp_extract({a[0]}, {a[1]}, {idx})"


def _extract_groups(a: list[str]) -> str:
    """extractGroups(s, 'pattern') — r13 promotion for LITERAL
    patterns: the group count is countable at translate time, so the
    array of first-match captures is ``array(regexp_extract(s, p, 1),
    .., regexp_extract(s, p, N))``, guarded by ``s RLIKE p`` so a
    non-matching row yields ClickHouse's empty array (Spark's
    regexp_extract would yield '' per group instead). Non-literal
    patterns (group count unknowable) and named groups (RE2 spells
    ``(?P<name>``, Java ``(?<name>`` — a syntax divergence, and they
    still capture) stay loud."""
    if len(a) != 2:
        raise ValueError(
            "extractGroups takes (haystack, pattern) — got "
            f"{len(a)} arguments"
        )
    pat = a[1].strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", pat, re.DOTALL)
    if not m:
        raise ValueError(
            "ClickHouse extractGroups with a non-literal pattern has "
            "no Spark translation — the capture-group count must be "
            "countable at translate time; inline the pattern as a "
            "string literal"
        )
    lit = m.group(1).replace("''", "'")
    if "(?P<" in lit or re.search(r"\(\?<[A-Za-z]", lit):
        raise ValueError(
            "extractGroups with NAMED capture groups has no Spark "
            "translation — RE2 spells (?P<name>..) where Java wants "
            "(?<name>..); use plain numbered groups"
        )
    n = _count_capture_groups(lit)
    if n == 0:
        raise ValueError(
            "extractGroups needs at least one capture group in its "
            "pattern"
        )
    parts = ", ".join(
        f"regexp_extract({a[0]}, {pat}, {i})" for i in range(1, n + 1)
    )
    return (
        f"(CASE WHEN {a[0]} RLIKE {pat} THEN array({parts}) "
        f"ELSE array() END)"
    )


def _first_sunday_doy(d: str) -> str:
    """Day-of-year of the first Sunday of ``d``'s year (the mode-0
    week-1 anchor). Spark's dayofweek() is 1=Sunday..7=Saturday."""
    return f"(1 + ((8 - dayofweek(trunc({d}, 'YYYY'))) % 7))"


def _to_week(a: list[str]) -> str:
    """toWeek(date[, mode]) — r13 promotion of the two common modes.

    Mode 0 (the ClickHouse/MySQL default): Sunday-start weeks numbered
    0-53, week 1 beginning at the year's FIRST SUNDAY, earlier days
    week 0 — the closed form over dayofyear and the first-Sunday
    anchor. Mode 3 is exactly ISO week -> weekofyear(). Other modes
    (year-boundary/start-day variants) and a timezone argument stay
    loud: a silently wrong week number re-buckets every downstream
    aggregate (the toStartOfWeek silent-divergence class)."""
    if len(a) > 2:
        raise ValueError(
            "toWeek with a timezone argument has no Spark translation "
            "— convert with from_utc_timestamp/to_utc_timestamp "
            "explicitly, then bucket"
        )
    mode = a[1].strip() if len(a) > 1 else "0"
    d = f"CAST({a[0]} AS DATE)"
    if mode == "0":
        fs = _first_sunday_doy(d)
        return (
            f"(CASE WHEN dayofyear({d}) < {fs} THEN 0 "
            f"ELSE (dayofyear({d}) - {fs}) DIV 7 + 1 END)"
        )
    if mode == "3":
        return f"weekofyear({d})"
    raise ValueError(
        "toWeek: only modes 0 (Sunday start, the ClickHouse default) "
        "and 3 (ISO) translate; the other MySQL week modes have no "
        f"Spark equivalent here — got mode {mode!r}"
    )


def _to_year_week(a: list[str]) -> str:
    """toYearWeek(date[, mode]) -> year*100 + week with MySQL
    YEARWEEK attribution: mode-0 week-0 days belong to the PREVIOUS
    year's last week (YEARWEEK('1987-01-01') = 198652), so the
    previous-year branch counts weeks from the previous year's first
    Sunday as a DATE. Mode 3 is ISO: extract(YEAROFWEEK) pairs with
    weekofyear so the year flips with the ISO week, not the calendar
    year. Other modes / timezone stay loud (see _to_week)."""
    if len(a) > 2:
        raise ValueError(
            "toYearWeek with a timezone argument has no Spark "
            "translation — convert explicitly, then bucket"
        )
    mode = a[1].strip() if len(a) > 1 else "0"
    d = f"CAST({a[0]} AS DATE)"
    if mode == "3":
        return f"(extract(YEAROFWEEK FROM {d}) * 100 + weekofyear({d}))"
    if mode == "0":
        fs = _first_sunday_doy(d)
        jan1_prev = f"add_months(trunc({d}, 'YYYY'), -12)"
        fs_prev = (
            f"date_add({jan1_prev}, "
            f"(8 - dayofweek({jan1_prev})) % 7)"
        )
        return (
            f"(CASE WHEN dayofyear({d}) < {fs} "
            f"THEN (year({d}) - 1) * 100 + "
            f"(datediff({d}, {fs_prev}) DIV 7 + 1) "
            f"ELSE year({d}) * 100 + "
            f"((dayofyear({d}) - {fs}) DIV 7 + 1) END)"
        )
    raise ValueError(
        "toYearWeek: only modes 0 (the ClickHouse default) and 3 "
        "(ISO) translate; the other MySQL week modes have no Spark "
        f"equivalent here — got mode {mode!r}"
    )


_INT_CASTS = {
    "toUInt8": "INT",
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toUInt64": "BIGINT",
    "toInt8": "INT",
    "toInt16": "INT",
    "toInt32": "INT",
    "toInt64": "BIGINT",
    "toFloat32": "FLOAT",
    "toFloat64": "DOUBLE",
    "toString": "STRING",
}

# -If combinator -> fn(CASE WHEN cond THEN x END): every Spark
# aggregate here ignores NULLs, which is exactly ClickHouse's
# condition-filtered accumulation.
_COND_AGGS = {
    "sumIf": "sum",
    "avgIf": "avg",
    "minIf": "min",
    "maxIf": "max",
    "stddevPopIf": "stddev_pop",
    "stddevSampIf": "stddev_samp",
    "varPopIf": "var_pop",
    "varSampIf": "var_samp",
    "groupArrayIf": "collect_list",
    "groupUniqArrayIf": "collect_set",
}


_UNSUPPORTED = (
    # (pattern, construct, hint)
    # LIMIT off, n BY / LIMIT n OFFSET off BY: TRANSLATED since
    # round 13 (same row_number() window as LIMIT n BY with the
    # rank range off+1..off+n); see _limit_by.
    (
        r"\btopK(?:Weighted)?\s*\(",
        "topK(k)(x) / topKWeighted (approximate heavy hitters)",
        "use operators.sketch.topk_heavy_hitters (space-saving, "
        "mergeable; has a weighted shape) or an exact count+row_number "
        "window",
    ),
    (
        r"\bdeltaSum(?:Timestamp)?\s*\(",
        "deltaSum (block-order positive-delta sum)",
        "the stored block order is undefined here — use "
        "operators.chagg.delta_sum_by_type's shape (lag() OVER an "
        "explicit ORDER BY, positive deltas summed)",
    ),
    # boundingRatio: TRANSLATED since round 12 (closed form
    # (max_by(y,x) - min_by(y,x)) / (max(x) - min(x)) — the hint this
    # entry used to give); see the round-12 promotion block.
    (
        r"\bmaxIntersections(?:Position)?\s*\(",
        "maxIntersections (peak concurrent intervals)",
        "use operators.chagg.max_concurrent_intervals (sweep-line "
        "+1/-1 boundary cumsum — exact and order-explicit)",
    ),
    (
        # generic: ClickHouse appends the combinator to ANY aggregate
        # name, so a curated prefix list leaks (groupUniqArrayState,
        # topKState, deltaSumState all passed through silently). No
        # Spark builtin ends in these suffixes, so the broad match is
        # safe inside dialect translation. Round 12 PROMOTES the
        # scalar pairs whose partial state is portable algebra —
        # count/sum/min/max (state == the aggregate itself) and avg
        # (state == (sum, count) struct) — to real translations (see
        # the round-12 promotion block); the negative lookahead
        # exempts exactly those. Sketch-backed states (uniqState,
        # quantileState, ...) stay loud: their binary formats are
        # engine-internal.
        r"\b(?!(?:count|sum|min|max|avg)(?:State|Merge)\s*\()"
        r"[A-Za-z]\w*(?:State|Merge|SimpleState|MergeState)\s*\(",
        "-State/-Merge aggregate combinators (non-scalar)",
        "partial-aggregate states of sketch aggregates are "
        "engine-internal formats; use the engine's mergeable sketch "
        "states (operators.sketch hll_state_merge_daily shape: "
        "explicit register arrays merged with greatest()) or "
        "re-aggregate from the base table. The scalar pairs "
        "countState/sumState/minState/maxState/avgState and their "
        "Merges ARE translated",
    ),
    (
        r"\b\w+ForEach\s*\(",
        "-ForEach aggregate combinator",
        "aggregate per array POSITION by exploding with posexplode "
        "and grouping on the position index",
    ),
    (
        r"\bmapApply\s*\(",
        "mapApply ((k,v) -> (k',v') tuple lambda)",
        "Spark splits the rewrite: transform_keys / transform_values "
        "(or map_from_entries over transform(map_entries(m), ...))",
    ),
    (
        r"\barrayAUC\s*\(",
        "arrayAUC",
        "rank-based AUC needs an explode + rank window over the "
        "(score, label) pairs — compose with posexplode + avg of "
        "positive-rank identity",
    ),
    (
        r"\b(?:welchTTest|studentTTest|mannWhitneyUTest)\s*\(",
        "welchTTest/studentTTest/mannWhitneyUTest",
        "p-values need the incomplete beta/normal CDF, not SQL — use "
        "operators.chagg2's ab_welch_ttest / ab_mann_whitney_u "
        "(moment/rank aggregates + the closed-form tail)",
    ),
    (
        r"\bexponentialMovingAverage\s*\(",
        "exponentialMovingAverage (block-order running state)",
        "use the events_hourly_ema shape — EMA over an explicit "
        "ORDER BY via the closed-form pow-weighted window",
    ),
    (
        r"\blargestTriangleThreeBuckets\s*\(",
        "largestTriangleThreeBuckets",
        "use operators.lttb.events_lttb_downsample (bucketed LTTB "
        "with explicit time order)",
    ),
    (
        r"\bsparkbar\s*\(",
        "sparkbar",
        "use the events_sparkbar_hourly shape (fixed-grid bins + "
        "unicode block rendering, deterministic)",
    ),
    (
        r"\bbar\s*\(",
        "bar(x, min, max, width)",
        "the eighth-block rounding convention cannot be verified "
        "char-exact here — render with the events_sparkbar_hourly "
        "block table (repeat('█', ...) + the fractional eighth)",
    ),
    (
        r"\bANY\s+(?:LEFT|RIGHT|INNER|FULL)?\s*JOIN\b",
        "ANY JOIN (first-match join)",
        "deduplicate the build side to one row per key first "
        "(argMax/FINAL latest-row window or operators.merge), then "
        "a plain join is the same thing",
    ),
    (
        r"\bASOF\s+(?:LEFT\s+)?JOIN\b",
        "ASOF JOIN",
        "use operators.asof.asof_join (backward/forward/nearest "
        "modes, the union-window plan)",
    ),
    (
        r"\b(?:SEMI|ANTI)\s+RIGHT\s+JOIN\b",
        "SEMI/ANTI RIGHT JOIN",
        "Spark has no right-sided semi/anti — swap the table order "
        "and use the LEFT SEMI/ANTI form",
    ),
    (
        # The statement-LEADING literal form is TRANSLATED since
        # round 12 (_with_constants inlines it before this scan); what
        # still lands here is a literal WITH in a NESTED scope or a
        # non-literal constant expression.
        r"\bWITH\s+(?:-?\d|')",
        "constant-expression WITH in a nested scope",
        "only the statement-leading WITH <literal> AS name form is "
        "inlined (textual substitution across an inner scope boundary "
        "could capture an unrelated identifier) — inline the constant "
        "or use the subquery CTE form WITH name AS (SELECT <literal>)",
    ),
    # toWeek: modes 0 (the ClickHouse default — first-Sunday closed
    # form) and 3 (ISO -> weekofyear) are TRANSLATED since round 13;
    # the other modes stay loud inside the handler (_to_week).
    (
        r"\bparseDateTimeBestEffort\w*\s*\(",
        "parseDateTimeBestEffort",
        "multi-format sniffing diverges silently — use "
        "to_timestamp(s, '<explicit format>') (coalesce several "
        "formats if the input is mixed)",
    ),
    (r"\bWITH\s+FILL\b", "WITH FILL", "use the gap-fill operator (events_hourly_gapfill shape)"),
    (
        r"\bfirstSignificantSubdomain\s*\(",
        "firstSignificantSubdomain",
        "needs a public-suffix list the engine does not ship; start "
        "from domain() and apply your own suffix table",
    ),
    # Block-order-dependent functions: ClickHouse evaluates these in
    # physical block order, which is undefined without ORDER BY on
    # both engines — the deterministic Spark form is an explicit
    # window, so point there instead of silently picking an order.
    (
        r"\bgroupArrayMoving(?:Sum|Avg)\s*\(",
        "groupArrayMovingSum/Avg (block-order moving aggregate)",
        "use sum()/avg() OVER (ORDER BY <key> ROWS BETWEEN n-1 "
        "PRECEDING AND CURRENT ROW) — an explicit, deterministic "
        "order",
    ),
    (
        r"\bneighbor\s*\(",
        "neighbor(col, offset) (block-order lookup)",
        "use lag()/lead() OVER (ORDER BY <key>) — an explicit, "
        "deterministic order",
    ),
    (
        r"\brunningAccumulate\s*\(",
        "runningAccumulate (block-order running state)",
        "use the aggregate OVER (ORDER BY <key> ROWS UNBOUNDED "
        "PRECEDING) window form",
    ),
    (
        r"\brunningDifference\s*\(",
        "runningDifference (block-order delta)",
        "use (x - lag(x) OVER (ORDER BY <key>)) — an explicit, "
        "deterministic order",
    ),
    (
        r"\bformatReadable\w*\s*\(",
        "formatReadableSize/Quantity/TimeDelta",
        "human-readable rendering is presentation, not relational — "
        "format client-side, or build a CASE chain over pow(1024, n) "
        "thresholds",
    ),
    # entropy(x): TRANSLATED since round 13 for the single-column
    # form — Shannon entropy in bits over the group's value
    # distribution, as the run-length closed form over the sorted
    # group (log2(n) - sum(c*log2(c))/n; see _entropy_expr). The
    # multi-column tuple form stays loud inside the handler.
    # quantileExactInclusive/Exclusive (+ plurals): TRANSLATED since
    # round 13 — ClickHouse documents them as Excel PERCENTILE.INC
    # (= percentile_cont = Spark's percentile()) and PERCENTILE.EXC
    # (Hyndman-Fan R6, the h = p*(n+1) closed form); see the
    # round-13b promotion block. Low/High stay loud below.
    (
        r"\bquantiles?Exact(?:Low|High)\s*\(",
        "quantileExactLow/High",
        "these pick exact ELEMENTS under an index convention this "
        "translator cannot verify without a live server — "
        "quantileExactInclusive/Exclusive translate exactly "
        "(percentile_cont / the documented R6 closed form); for an "
        "element pick use an exact rank window "
        "(row_number() = ceil/floor(p * n))",
    ),
    (
        r"\b(?:IPv6NumToString|IPv6StringToNum|toIPv6|isIPv6String"
        r"|IPv6CIDRToRange)\s*\(",
        "IPv6 address family",
        "the IPv4 family translates (pure int arithmetic); IPv6 needs "
        "128-bit binary arithmetic with no Spark builtin — normalize "
        "IPv6 upstream or add a vectorized UDF",
    ),
    # extractGroups: TRANSLATED since round 13 for LITERAL patterns
    # (the group count is statically countable -> one regexp_extract
    # per group, RLIKE-guarded for the no-match empty array);
    # non-literal / named-group patterns stay loud in the handler
    # (_extract_groups).
    (
        r"\bto(?:Column)?TypeName\s*\(",
        "toTypeName (ClickHouse type introspection)",
        "Spark's typeof() exists but reports SPARK type names "
        "(BIGINT, not UInt64) — a silent vocabulary change; use "
        "typeof() deliberately if Spark names are what you want",
    ),
    (
        r"\bemptyArrayToSingle\s*\(",
        "emptyArrayToSingle",
        "the element-type default ([0]/['']) cannot be inferred at "
        "translate time — use CASE WHEN size(a) = 0 THEN "
        "array(<default>) ELSE a END with your element type's default",
    ),
    # gcd/lcm: TRANSLATED since round 12 (bounded-Euclid aggregate()
    # fold — 96 iterations covers the 64-bit Fibonacci worst case);
    # see the round-12 promotion block.
    (
        r"\b(?:erf|erfc|lgamma|tgamma)\s*\(",
        "erf/erfc/lgamma/tgamma special functions",
        "no Spark builtin — the engine's stat operators "
        "(ab_welch_ttest shape) inline the Abramowitz-Stegun erf "
        "polynomial in SQL; reuse that expansion if you need erf",
    ),
    (
        r"\breplaceRegexpOne\s*\(",
        "replaceRegexpOne (first-match-only regexp replace)",
        "Spark's regexp_replace replaces EVERY match — a silent "
        "divergence; use replaceRegexpAll if all-matches is "
        "acceptable, or anchor the pattern so it can match only once",
    ),
    (
        # The AS-form type: without this guard the tuple() VALUE
        # rewrite (case-insensitive) mangles the type expression into
        # named_struct('_1', String, ...) — invalid SQL.
        r"\bAS\s+Tuple\s*\(",
        "CAST(.. AS Tuple(..))",
        "spell the Spark form: construct values with named_struct() "
        "and cast with the STRUCT<name: TYPE, ..> type syntax",
    ),
    # toYearWeek: modes 0 (default, with MySQL YEARWEEK's
    # previous-year attribution for week-0 days) and 3 (ISO) are
    # TRANSLATED since round 13; other modes stay loud
    # (_to_year_week).
    (
        r"\b(?:greatCircleDistance|geoDistance|greatCircleAngle"
        r"|pointInPolygon)\s*\(",
        "geo distance/containment family",
        "ClickHouse's Earth-radius and ellipsoid constants are not "
        "reproduced here — inline a haversine (2*R*asin(sqrt(...))) "
        "with YOUR radius convention, or precompute upstream",
    ),
    (
        r"\b(?:kolmogorovSmirnovTest|studentTTestOneSample|meanZTest"
        r"|minSampleSize\w*)\s*\(",
        "kolmogorovSmirnov/one-sample-t/z-test family",
        "p-values need non-SQL special functions — use the "
        "operators.chagg2 test shapes (moment aggregates + "
        "closed-form tails) as the template",
    ),
    (
        r"\bquantileInterpolatedWeighted\s*\(",
        "quantileInterpolatedWeighted",
        "ClickHouse's weight-interpolation convention has no Spark "
        "analog — quantileExactWeighted translates exactly (first "
        "element whose cumulative weight reaches p*total, no "
        "interpolation); percentile(x, p, w) interpolates over the "
        "weight-expanded multiset under a DIFFERENT convention — "
        "pick one deliberately",
    ),
    (
        r"\bgroupArrayLast\s*\(",
        "groupArrayLast (block-order tail window)",
        "block order is undefined here — collect over an explicit "
        "window: slice(sort_array(collect_list(struct(ord, x)), "
        "false), 1, n)",
    ),
    (
        r"\bgroupArraySample\s*\(",
        "groupArraySample (seeded reservoir)",
        "ClickHouse's reservoir RNG is not reproducible here — use "
        "the engine's deterministic sha-bucket sampling "
        "(operators.sampling) or TABLESAMPLE",
    ),
    (
        r"\brandConstant\s*\(",
        "randConstant (per-block constant random)",
        "Spark rand() is per-row — compute one rand() in a 1-row "
        "subquery and cross join it if you need a per-query constant",
    ),
    # Table functions that reach outside the query: this engine's
    # scans are Spark's own spark.read readers (parquet/csv/json/orc/
    # jdbc) — point there instead of parsing past them.
    (
        r"\b(?:remote|remoteSecure|cluster|clusterAllReplicas)\s*\(",
        "remote()/cluster() table functions",
        "distribution is Spark's job here; read the table with "
        "spark.read (format('jdbc') for a live ClickHouse server)",
    ),
    (
        r"\b(?:s3|url|file|hdfs)\s*\(\s*'",
        "s3()/url()/file()/hdfs() table functions",
        "use spark.read against the path/URL (spark.read.parquet, "
        ".csv, .json; format explicit)",
    ),
    (
        r"\bgenerateRandom\s*\(",
        "generateRandom() table function",
        "seedless randomness breaks replay determinism; generate "
        "fixtures with a seeded hash over range() instead",
    ),
    # ClickHouse DDL/DML lands on this engine's write-path modules, not
    # spark.sql — recognize the statements and point at the analogue
    # instead of letting Spark's parser produce an unrelated error.
    (
        r"\bALTER\s+TABLE\s+\w+\s+UPDATE\b",
        "ALTER TABLE ... UPDATE (mutation)",
        "use operators.merge.merge_upsert (read-modify-write)",
    ),
    (
        r"\bALTER\s+TABLE\s+\w+\s+DELETE\b",
        "ALTER TABLE ... DELETE (mutation)",
        "use sinks.delete (anti-filter rewrite, count-verified)",
    ),
    (
        r"\bOPTIMIZE\s+TABLE\b",
        "OPTIMIZE TABLE",
        "use IdempotentParquetSink.compact (ledgered small-file "
        "compaction)",
    ),
    (
        r"\bENGINE\s*=\s*\w*MergeTree",
        "CREATE TABLE ... ENGINE=MergeTree",
        "use plans.migrations (versioned DDL runner, goose analogue)",
    ),
    (
        r"\bCREATE\s+MATERIALIZED\s+VIEW\b",
        "CREATE MATERIALIZED VIEW",
        "use operators.rollup.incremental_rollup_events "
        "(continuous aggregates with mergeable state)",
    ),
    (
        r"\bINSERT\s+INTO\b",
        "INSERT INTO",
        "use sinks (IdempotentParquetSink / ClickHouseJdbcSink) — the "
        "write path is batch-ledgered, not statement-based",
    ),
    (
        r"\bdictGet\w*\s*\(",
        "dictGet*",
        "model the dictionary as a broadcast dimension join "
        "(tables.SMALL_DIMS pattern)",
    ),
    # Parametric aggregates whose faithful translation restructures the
    # query (explode + re-aggregate or pattern-automaton state), which
    # a textual rewriter must not do silently — each has a first-class
    # operator; point there.
    (
        r"\b(?:sum|min|max|avg)Map\s*\(",
        "sumMap/minMap/maxMap/avgMap (map-valued aggregates)",
        "use operators.chagg.user_type_sum_map / "
        "chagg2.user_type_minmax_map shapes (explode + groupBy + "
        "map_from_entries — same result, explicit shuffle)",
    ),
    (
        r"\bhistogram\s*\(",
        "histogram(n)(x) (adaptive-bin histogram)",
        "use operators.sketch.value_histogram_quantiles (fixed-grid "
        "histogram + quantile readout, mergeable and deterministic)",
    ),
    (
        r"\bgroupBitmap\w*\s*\(",
        "groupBitmap* (roaring-bitmap aggregates)",
        "use count(DISTINCT ...) / approx_count_distinct, or "
        "operators.sketch HLL/KMV states for mergeable set sizes",
    ),
    # Hash-value compatibility: these produce DIFFERENT values than any
    # Spark builtin, and they are used for bucketing/sampling where a
    # silent value change silently reshuffles every bucket.
    (
        # xxHash64/32 included: Spark's xxhash64() exists but hashes
        # the INTERNAL ROW ENCODING with seed 42 — near-identical name,
        # different values, the worst silent-divergence shape.
        r"\b(?:sipHash64|sipHash128|cityHash64|farmHash64|"
        r"farmFingerprint64|murmurHash2_32|murmurHash2_64|"
        r"murmurHash3_32|murmurHash3_64|murmurHash3_128|"
        r"intHash32|intHash64|halfMD5|javaHash|hiveHash|"
        r"xxHash64|xxHash32|xxh3)\s*\(",
        "sipHash/cityHash/farmHash/murmurHash/intHash/halfMD5/xxHash",
        "no Spark builtin reproduces these exact values; for "
        "engine-portable deterministic bucketing use the sha2-prefix "
        "hash (operators.sampling.hash_bucket — identical in Spark "
        "and DuckDB), or xxhash64() if only in-engine stability "
        "matters",
    ),
    (
        r"\b(?:rowNumberInBlock|rowNumberInAllBlocks|blockNumber"
        r"|blockSize)\s*\(",
        "rowNumberInBlock/blockNumber (physical block introspection)",
        "block boundaries do not exist in Spark's model — use "
        "row_number() OVER an explicit ORDER BY",
    ),
    (
        r"\b(?:hostName|transactionID|serverTimezone|timezoneOf"
        r"|toTimezone|currentProfiles|currentRoles|sleep"
        r"|sleepEachRow)\s*\(",
        "server/timezone introspection family",
        "these read ClickHouse server state; Spark sessions run in "
        "the session timezone — use current_timezone()/"
        "current_database() deliberately if Spark's values are wanted",
    ),
    (
        r"\bbase58(?:Encode|Decode)\s*\(",
        "base58Encode/Decode",
        "no Spark builtin — use base64Encode/Decode (translated) or "
        "encode upstream",
    ),
    (
        r"\bbitmap\w+\s*\(",
        "roaring-bitmap function family",
        "bitmap states are engine-internal — aggregate with "
        "collect_set/array functions, or count with the sketch "
        "operators (operators.sketch)",
    ),
    (
        r"\bUUID(?:StringToNum|NumToString)\s*\(",
        "UUID binary representation conversion",
        "Spark has no 16-byte UUID type — keep UUIDs as strings "
        "(uuid() generates them) or unhex(replace(u, '-', '')) for "
        "the raw bytes",
    ),
    (
        r"\btoDecimal256\w*\s*\(",
        "toDecimal256 (76-digit decimal)",
        "Spark decimals cap at 38 digits — use toDecimal128 (-> "
        "DECIMAL(38, s)) or split the value",
    ),
    (
        r"\b\w+Resample\s*\(",
        "-Resample aggregate combinator",
        "bucket explicitly: GROUP BY the resample key's CASE/width_"
        "bucket bins — same result, visible plan",
    ),
    (
        r"\barrayRandomSample\s*\(",
        "arrayRandomSample (seeded per-row sampling)",
        "ClickHouse's RNG is not reproducible here — use "
        "slice(shuffle(arr), 1, k) if nondeterminism is acceptable, "
        "or a sha-bucket filter for a deterministic sample",
    ),
    (
        # star modifiers: * EXCEPT translates natively (Spark 3.4+),
        # APPLY/REPLACE/COLUMNS need the schema at translate time.
        r"\*\s*APPLY\s*\(",
        "SELECT * APPLY(fn) star modifier",
        "expansion needs the schema — list the aggregated columns, or "
        "build the projection programmatically from df.columns",
    ),
    (
        r"\*\s*REPLACE\s*\(",
        "SELECT * REPLACE(expr AS col) star modifier",
        "Spark's star has EXCEPT but not REPLACE — project "
        "* EXCEPT (col) plus the replacement expression aliased to "
        "the column name",
    ),
    (
        r"\bCOLUMNS\s*\(\s*'",
        "COLUMNS('regex') dynamic column matcher",
        "expansion needs the schema — select from df.columns with a "
        "regex filter in the host language",
    ),
    (
        r"\bJSON(?:Type|AllPaths\w*|ExtractArrayRaw|"
        r"ExtractKeysAndValues\w*)\s*\(",
        "JSONType/JSONAllPaths/JSONExtractArrayRaw/KeysAndValues",
        "ClickHouse-specific JSON introspection shapes — compose "
        "get_json_object + from_json with an explicit schema "
        "(JSONExtractRaw/JSONExtractKeys translate)",
    ),
    (
        r"\b(?:stem|lemmatize|synonyms|detectLanguage\w*"
        r"|detectCharset|detectTonality|detectProgrammingLanguage)"
        r"\s*\(",
        "experimental NLP function family",
        "model/dictionary-backed NLP is not relational — the engine's "
        "text operators (langid_predict heuristic, operators/ngrams "
        "tokenization) are the Spark-native path; heavier NLP belongs "
        "in an Arrow-batched mapInPandas stage",
    ),
    (
        r"\b(?:damerauLevenshteinDistance|jaroSimilarity"
        r"|jaroWinklerSimilarity|stringJaccardIndex"
        r"|byteHammingDistance|editDistanceUTF8)\s*\(",
        "extended string-distance family",
        "editDistance translates (-> levenshtein); the others have no "
        "Spark builtin — operators/fuzzy.py's deletion-neighborhood "
        "matcher covers the near-match join use case",
    ),
    # --- probe-hunt batch 10 ---
    (
        r"\bngram(?:Distance|Search)(?:CaseInsensitive)?(?:UTF8)?\s*\(",
        "ngramDistance/ngramSearch",
        "no Spark builtin computes 4-gram profile distance; "
        "operators/fuzzy.py (deletion neighborhoods) or "
        "dedup_ngram_jaccard cover the fuzzy-match use cases",
    ),
    # arrayFill/arrayReverseFill: TRANSLATED since round 13 for the
    # single-array form (carry-forward/backward fold over the array —
    # the documented ClickHouse scan, consecutive gaps carry the
    # ALREADY-replaced value); multi-array conditions stay loud
    # inside the handler. arraySplit stays loud below.
    (
        r"\barray(?:Reverse)?Split\s*\(",
        "arraySplit/arrayReverseSplit (stateful array scans)",
        "no Spark builtin carries values between elements; express "
        "the scan as aggregate() explicitly (see the arrayCumSum "
        "translation for the accumulating-fold shape)",
    ),
    (
        r"\bgroupArrayInsertAt\s*\(",
        "groupArrayInsertAt (position-keyed gather)",
        "aggregate to (pos, value) pairs and sort_array(collect_list("
        "struct(pos, value))) — same result with explicit ordering",
    ),
    (
        r"\b(?:proportionsZTest|minSampleSizeConversion"
        r"|minSampleSizeContinuous|meanZTest)\s*\(",
        "z-test / sample-size planning family",
        "use operators/chagg2.py's exact Welch t-test / Mann-Whitney "
        "shapes, or compute the closed form from count/avg/stddev "
        "aggregates",
    ),
    # corrMatrix/covarSampMatrix/covarPopMatrix: TRANSLATED since
    # round 13 — each is pure syntax sugar over the n^2 pairwise
    # corr/covar_samp/covar_pop streaming aggregates (which already
    # pass through by name), expanded to a nested array literal in
    # argument order; see the round-13b promotion block.
    (
        r"\b(?:byteSize|defaultValueOfArgumentType|"
        r"defaultValueOfTypeName|tupleToNameValuePairs)\s*\(",
        "type/value introspection family",
        "these read ClickHouse's internal representation; no Spark "
        "equivalent exists",
    ),
    (
        r"\bbitSlice\s*\(",
        "bitSlice (sub-byte string slicing)",
        "Spark has no bit-addressed strings; use substring for byte "
        "granularity or getbit() per bit",
    ),
    (
        r"\bkostikConsistentHash\s*\(",
        "kostikConsistentHash",
        "no Spark builtin reproduces these exact values (same class "
        "as the sipHash/cityHash family) — use pmod(<portable hash>, "
        "n) for engine-portable slot assignment",
    ),
    (
        r"\btoStartOfNanosecond\s*\(",
        "toStartOfNanosecond",
        "Spark timestamps are microsecond-precision; nanosecond "
        "truncation cannot be represented (Millisecond/Microsecond "
        "variants translate)",
    ),
    # --- probe-hunt batch 13 ---
    (
        r"\b(?:splitByNonAlpha|tokens)\s*\(",
        "splitByNonAlpha/tokens (tokenizer-defined splitting)",
        "the separator class is ClickHouse-version-defined — use "
        "splitByRegexp with an explicit character class (translates), "
        "or functions.tokens for the repo's whitespace convention",
    ),
    (
        r"\b(?:geoToH3|h3[A-Z]\w*|geohash(?:Encode|Decode|esInBox)"
        r"|readWKT\w+|polygonsWithin\w*|svg)\s*\(",
        "H3 / geohash / WKT geo family",
        "no Spark builtin; for bucketing use an explicit lat/lon grid "
        "(floor division) — it is deterministic and joinable",
    ),
    (
        r"\bnormalizeUTF8NF(?:C|D|KC|KD)\s*\(",
        "Unicode normalization family",
        "Spark has no NFC/NFD builtin; normalize upstream at ingest "
        "or in an Arrow UDF if the corpus genuinely mixes forms",
    ),
    (
        r"\b(?:normalizeQuery|normalizedQueryHash)\s*\(",
        "query-fingerprinting family",
        "these canonicalize ClickHouse SQL text server-side; no Spark "
        "equivalent",
    ),
    (
        r"\btoValidUTF8\s*\(",
        "toValidUTF8",
        "Spark strings are validated on read (invalid sequences are "
        "already replaced); a byte-level re-validation has no Spark "
        "spelling",
    ),
    (
        r"\b(?:punycode|idna)(?:Encode|Decode)\w*\s*\(",
        "punycode/IDNA family",
        "no Spark builtin; decode internationalized domains upstream "
        "or in an Arrow UDF",
    ),
    (
        r"\b(?:generateULID|serverUUID)\s*\(",
        "ULID/server-UUID generators",
        "uuid() exists in Spark but is nondeterministic per retry — "
        "for reproducible ids derive from row content "
        "(functions.sha256_hex / portable_hash64)",
    ),
    # --- probe-hunt batch 12 ---
    (
        r"\bnonNegativeDerivative\s*\(",
        "nonNegativeDerivative (window rate-of-change)",
        "compute (v - lag(v)) / (ts - lag(ts)) OVER an explicit window "
        "and clamp with greatest(..., 0) — the CH function is that "
        "expression with implicit ordering",
    ),
    (
        r"\b(?:cramersV|cramersVBiasCorrected|theilsU|contingency"
        r"|rankCorr)\s*\(",
        "association-statistic aggregate family",
        "these need multi-stage shapes, provided first-class: "
        "events_cramers_v (+ contingency + bias-corrected V), "
        "events_theils_u, events_rank_corr in operators/chagg2.py — "
        "hash-exact vs DuckDB",
    ),
    (
        r"\bcategoricalInformationValue\s*\(",
        "categoricalInformationValue",
        "provided first-class as props_information_value "
        "(operators/corr.py) — per-category WoE x (p_good - p_bad)",
    ),
    (
        r"\bstochastic(?:Linear|Logistic)Regression\s*\(",
        "stochasticLinearRegression/stochasticLogisticRegression",
        "in-engine SGD training has no Spark-SQL translation — "
        "events_ols_fit (exact closed-form OLS) and "
        "quality_classifier_nb (the trained quality filter) cover the "
        "modeling use cases",
    ),
    (
        r"\b(?:max|min|sum|avg)MappedArrays\s*\(",
        "*MappedArrays (parallel-array map aggregates)",
        "use the minMap/maxMap/sumMap shapes "
        "(user_type_minmax_map / user_type_sum_map): explode to "
        "(key, value), groupBy, re-gather",
    ),
    (
        r"\bmultiFuzzyMatch\w*\s*\(",
        "multiFuzzyMatch* (hyperscan fuzzy regex)",
        "no Spark analogue for edit-distance regex matching; "
        "operators/fuzzy.py's deletion-neighborhood matcher covers "
        "bounded-distance token matching",
    ),
    (
        r"\b(?:toFixedString|toStringCutToZero)\s*\(",
        "FixedString family",
        "FixedString is a ClickHouse storage type; Spark strings are "
        "unpadded — use rpad/substring deliberately if the padded "
        "bytes are really wanted",
    ),
    (
        r"\breinterpretAs\w+\s*\(",
        "reinterpretAs* (raw byte reinterpretation)",
        "byte-layout reinterpretation is engine-internal; decode "
        "explicitly (unhex/conv/CAST) instead",
    ),
    (
        r"\b(?:flameGraph|getSetting|isConstant)\s*\(",
        "server/query introspection (flameGraph/getSetting/isConstant)",
        "these read ClickHouse execution state; no Spark equivalent",
    ),
    (
        r"\bINTO\s+OUTFILE\b",
        "INTO OUTFILE (client-side file export)",
        "write results through the engine's sinks "
        "(sinks/parquet_sink.py or df.write) — the clause is a "
        "clickhouse-client feature, not a query semantic",
    ),
    (
        r"\bPASTE\s+JOIN\b",
        "PASTE JOIN (positional row pairing)",
        "give both sides an explicit position with "
        "functions.with_global_index and equi-join on it — positional "
        "pairing without a key is nondeterministic under shuffling",
    ),
)


def _depth_at(sql: str, idx: int) -> int:
    """Paren nesting depth at index (quote-aware)."""
    depth = 0
    i = 0
    while i < idx:
        c = sql[i]
        if c == "'":
            i += 1
            while i < idx and sql[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return depth


def _top_level_search(sql: str, pattern: str) -> re.Match | None:
    """First match of pattern outside strings and parentheses."""
    for m in re.finditer(pattern, sql, flags=re.IGNORECASE):
        if not _in_string(sql, m.start()) and _depth_at(sql, m.start()) == 0:
            return m
    return None


def _qualify(sql: str) -> str:
    """Translate a top-level ``QUALIFY <pred>``: Spark has no QUALIFY,
    but filtering the SELECT's output in a wrapping subquery is
    equivalent as long as the predicate references OUTPUT COLUMNS (a
    window alias). A predicate with an inline OVER(...) cannot be
    hoisted that way and goes loud with the aliasing fix."""
    m = _top_level_search(sql, r"\bQUALIFY\b")
    if m is None:
        return sql
    rest = sql[m.end() :]
    end = _next_clause(rest)
    pred = rest[:end].strip()
    tail = rest[end:]
    if re.search(r"\bOVER\s*\(", pred, flags=re.IGNORECASE):
        raise ValueError(
            "QUALIFY with an inline window expression has no direct "
            "Spark translation — alias the window function in the "
            "SELECT list and QUALIFY the alias"
        )
    head = sql[: m.start()].rstrip()
    out = f"SELECT * FROM ({head}) AS __qualify WHERE {pred}"
    return f"{out} {tail.strip()}".rstrip()


_LIMIT_COMMA_PAT = re.compile(
    # MySQL-style LIMIT offset, count — ClickHouse supports it and
    # Spark does not; the BY form (LIMIT n, m BY) is already loud
    r"\bLIMIT\s+(\d+)\s*,\s*(\d+)(?!\s*(?:,|BY\b))",
    re.IGNORECASE,
)


def _limit_offset_comma(sql: str) -> str:
    out = sql
    pos = 0
    while True:
        m = _LIMIT_COMMA_PAT.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.start() + 1
            continue
        repl = f"LIMIT {m.group(2)} OFFSET {m.group(1)}"
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


def _limit_by(sql: str) -> str:
    """Translate ClickHouse ``ORDER BY o LIMIT n BY a, b [LIMIT m]``.

    LIMIT BY keeps the first n rows per distinct by-tuple in ORDER BY
    order — exactly a row_number() window:

        SELECT * EXCEPT (__limit_by_rn) FROM (
          SELECT *, row_number() OVER (
            PARTITION BY a, b ORDER BY o) AS __limit_by_rn
          FROM (<body>) __limit_by_src
        ) WHERE __limit_by_rn <= n ORDER BY o [LIMIT m]

    Scoped translation: requires a top-level ORDER BY (without one the
    per-group pick is nondeterministic on BOTH engines — loud error),
    a single SELECT (no top-level set operations), and order
    expressions drawn from the select output (they must survive into
    the outer sort). At scale the window partitions on the by-tuple —
    one hash shuffle, per-group state of one counter.
    """
    m = _top_level_search(
        sql, r"\bLIMIT\s+(\d+)(?:\s*,\s*(\d+)|\s+OFFSET\s+(\d+))?\s+BY\b"
    )
    if not m:
        return sql
    # Three ClickHouse spellings (r13 promotion of the offset forms):
    #   LIMIT n BY ...            -> rows 1..n per group
    #   LIMIT off, n BY ...       -> rows off+1..off+n (MySQL comma order)
    #   LIMIT n OFFSET off BY ... -> same, explicit keyword
    if m.group(2) is not None:
        off, n = int(m.group(1)), int(m.group(2))
    elif m.group(3) is not None:
        n, off = int(m.group(1)), int(m.group(3))
    else:
        off, n = 0, int(m.group(1))
    om = None
    for cand in re.finditer(r"\bORDER\s+BY\b", sql[: m.start()], re.IGNORECASE):
        if not _in_string(sql, cand.start()) and _depth_at(sql, cand.start()) == 0:
            om = cand
    if om is None:
        raise ValueError(
            "ClickHouse LIMIT BY without a top-level ORDER BY is "
            "nondeterministic — add an ORDER BY to make the per-group "
            "selection well-defined"
        )
    body = sql[: om.start()].strip()
    if _top_level_search(body, r"\b(UNION|EXCEPT|INTERSECT)\b"):
        raise ValueError(
            "LIMIT BY over a set operation is outside the translation "
            "scope — wrap the union in a subquery"
        )
    order = sql[om.end() : m.start()].strip()
    rest = sql[m.end() :].strip()
    cut = _next_clause(rest)
    by = rest[:cut].strip().rstrip(";").strip()
    tail = rest[cut:].strip()
    if not by:
        raise ValueError("LIMIT BY needs at least one expression")
    # off == 0 keeps the historical single-bound text (differential
    # corpus pins translation strings byte-exact)
    bound = (
        f"__limit_by_rn <= {n}"
        if off == 0
        else f"__limit_by_rn > {off} AND __limit_by_rn <= {off + n}"
    )
    out = (
        f"SELECT * EXCEPT (__limit_by_rn) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {by} ORDER BY {order})"
        f" AS __limit_by_rn FROM ({body}) __limit_by_src"
        f") WHERE {bound} ORDER BY {order}"
    )
    if tail:
        out = f"{out} {tail}"
    return out


# NB: the word boundary sits INSIDE the alternation — a leading \b
# before ',' cannot match after whitespace ('FROM a , b SAMPLE 0.5')
# and the construct would pass through to an opaque Spark parse error.
# The alias group refuses FINAL so 'FROM t FINAL SAMPLE f' (ClickHouse's
# documented clause order) is left for _final's combined handler instead
# of silently swallowing FINAL as a table alias.
_SAMPLE_PAT = re.compile(
    r"(\bFROM|\bJOIN|,)\s+([\w.]+)(?:\s+(?:AS\s+)?(?!FINAL\b)(\w+))?"
    r"\s+SAMPLE\s+(\d+(?:\.\d+)?|\.\d+)",
    re.IGNORECASE,
)
_SAMPLE_SPACE = 65536  # 16^4: the sha2 hex-prefix value space


def _sample_pred(tbl: str, frac_s: str, sample_keys: dict[str, str] | None) -> str:
    """The deterministic hash-filter predicate for ``SAMPLE f`` on
    ``tbl`` (shared by the standalone SAMPLE rewrite and the combined
    ``FINAL SAMPLE`` form). Loud without a declared sampling key."""
    frac = float(frac_s)
    if not 0 < frac <= 1:
        raise ValueError(
            "ClickHouse SAMPLE row-count form has no Spark "
            "translation — use the fractional form (0 < f <= 1)"
        )
    bare = tbl.rsplit(".", 1)[-1]
    key = (sample_keys or {}).get(tbl) or (sample_keys or {}).get(bare)
    if key is None:
        raise ValueError(
            f"ClickHouse SAMPLE has no Spark translation without a "
            f"sampling key for table {tbl!r} — pass "
            f"sample_keys={{{bare!r}: '<column>'}} (the table DDL's "
            f"SAMPLE BY expression)"
        )
    thresh = round(frac * _SAMPLE_SPACE)
    return (
        f"(conv(substring(sha2(CAST({key} AS STRING), 256), 1, 4), "
        f"16, 10) % {_SAMPLE_SPACE}) < {thresh}"
    )


def _sample(sql: str, sample_keys: dict[str, str] | None) -> str:
    """Translate ``FROM t SAMPLE f`` (fractional form) into a
    deterministic hash filter on the table's declared sampling key.

    ClickHouse samples by a DDL-declared sampling expression; there is
    no way to infer that key from the query text, so the caller passes
    ``sample_keys={"events": "user_id"}`` — mirroring the DDL — and
    the table reference becomes::

        (SELECT * FROM t WHERE
           (conv(substring(sha2(CAST(key AS STRING), 256), 1, 4), 16,
                 10) % 65536) < round(f * 65536)) t

    Same hash family as ``operators.sampling.hash_bucket``: stable
    across runs/engines, key-consistent (all rows of one key are kept
    or dropped together, matching ClickHouse's coordinated-subsample
    semantics). Without a key for the sampled table the construct
    stays a loud error; the row-count form (``SAMPLE 1000000``) is
    untranslatable (needs table statistics) and always errors.
    """
    out = sql
    pos = 0
    while True:
        m = _SAMPLE_PAT.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        prefix, tbl, alias, frac_s = (
            m.group(1), m.group(2), m.group(3), m.group(4),
        )
        if re.match(r"\s+OFFSET\b", out[m.end():], re.IGNORECASE):
            # Without this guard the SAMPLE prefix is rewritten and the
            # dangling 'OFFSET f2' surfaces as an opaque Spark parse
            # error instead of the module's explanatory contract.
            raise ValueError(
                "ClickHouse 'SAMPLE f OFFSET f2' has no Spark "
                "translation — the offset selects a different slice of "
                "the sampling-key hash space; shift the hash window "
                "manually or drop OFFSET for the plain fractional form"
            )
        # Key lookup is on the underlying TABLE name (aliased
        # references — FROM events AS e SAMPLE 0.1 — used to resolve
        # to the alias, and the suggested sample_keys={'e': ...} then
        # generated SQL selecting from the non-existent table 'e').
        bare = tbl.rsplit(".", 1)[-1]
        pred = _sample_pred(tbl, frac_s, sample_keys)
        repl = (
            f"{prefix} (SELECT * FROM {tbl} WHERE {pred}) {alias or bare}"
        )
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


# Optional trailing SAMPLE group: ClickHouse's documented clause order
# is FROM t [alias] FINAL [SAMPLE f], so the combined form is handled
# here (sample predicate INSIDE the latest-row window — ClickHouse also
# samples the physical read before the FINAL merge; with the sampling
# key contained in the ORDER BY key, the two orders agree).
_FINAL_PAT = re.compile(
    r"(\bFROM|\bJOIN|,)\s+([\w.]+)(?:\s+(?:AS\s+)?(?!FINAL\b)(\w+))?\s+FINAL"
    r"(?:\s+SAMPLE\s+(\d+(?:\.\d+)?|\.\d+))?\b",
    re.IGNORECASE,
)


def _final(
    sql: str,
    final_keys: dict[str, tuple] | None,
    sample_keys: dict[str, str] | None = None,
) -> str:
    """Translate ``FROM t FINAL`` (ReplacingMergeTree collapse-on-read).

    FINAL returns one fully-merged row per ORDER BY key — the row with
    the greatest version. That metadata lives in the table DDL, not
    the query, so the caller passes
    ``final_keys={"orders": (("o_orderkey",), "o_version")}`` — (key
    columns, version column) — and the reference becomes the standard
    latest-row window::

        (SELECT * EXCEPT (__final_rn) FROM (
           SELECT *, row_number() OVER (PARTITION BY <keys>
             ORDER BY <version> DESC) AS __final_rn FROM t)
         WHERE __final_rn = 1) t

    A tie on (key, version) is nondeterministic in ClickHouse too
    (which dup survives a merge is undefined); declare a
    higher-resolution version column if that matters. Without an entry
    for the table the construct stays a loud error. At scale this is
    one hash shuffle on the key — the same cost ClickHouse pays in
    its merge, paid at read time.
    """
    out = sql
    pos = 0
    while True:
        m = _FINAL_PAT.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        prefix, tbl, alias, frac_s = (
            m.group(1), m.group(2), m.group(3), m.group(4),
        )
        bare = tbl.rsplit(".", 1)[-1]
        entry = (final_keys or {}).get(tbl) or (final_keys or {}).get(bare)
        if entry is None:
            raise ValueError(
                f"ClickHouse FINAL has no Spark translation without the "
                f"table's ORDER BY key and version column — pass "
                f"final_keys={{{bare!r}: (('<key>',), '<version>')}} "
                f"(or deduplicate explicitly: operators.merge)"
            )
        keys, version = entry
        part = ", ".join(keys)
        src = tbl
        if frac_s is not None:
            if re.match(r"\s+OFFSET\b", out[m.end():], re.IGNORECASE):
                raise ValueError(
                    "ClickHouse 'SAMPLE f OFFSET f2' has no Spark "
                    "translation — the offset selects a different "
                    "slice of the sampling-key hash space; shift the "
                    "hash window manually or drop OFFSET for the "
                    "plain fractional form"
                )
            # combined FINAL SAMPLE: sample first (the physical-read
            # order), collapse the sampled rows to latest-per-key
            src = f"{tbl} WHERE {_sample_pred(tbl, frac_s, sample_keys)}"
        repl = (
            f"{prefix} (SELECT * EXCEPT (__final_rn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY {part} "
            f"ORDER BY {version} DESC) AS __final_rn FROM {src}"
            f") WHERE __final_rn = 1) {alias or bare}"
        )
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


def _with_ties(sql: str) -> str:
    """Translate ``ORDER BY o LIMIT n WITH TIES``.

    WITH TIES extends the cut to every row tied (under the sort key)
    with the n-th row — which is exactly the rows whose ``rank()`` over
    the same ordering is <= n (the last included row's rank is <= n and
    ties share ranks):

        SELECT * EXCEPT (__ties_rank) FROM (
          SELECT *, rank() OVER (ORDER BY o) AS __ties_rank
          FROM (<body>)
        ) WHERE __ties_rank <= n ORDER BY o

    Requires a top-level ORDER BY (ties are undefined without one —
    loud error, matching ClickHouse which also rejects it). The rank
    window is as global as the ORDER BY the query already pays for.
    """
    m = _top_level_search(sql, r"\bLIMIT\s+(\d+)\s+WITH\s+TIES\b")
    if not m:
        return sql
    n = int(m.group(1))
    om = None
    for cand in re.finditer(r"\bORDER\s+BY\b", sql[: m.start()], re.IGNORECASE):
        if not _in_string(sql, cand.start()) and _depth_at(sql, cand.start()) == 0:
            om = cand
    if om is None:
        raise ValueError(
            "LIMIT WITH TIES requires a top-level ORDER BY (ClickHouse "
            "rejects it too)"
        )
    body = sql[: om.start()].strip()
    order = sql[om.end() : m.start()].strip()
    tail = sql[m.end() :].strip()
    out = (
        f"SELECT * EXCEPT (__ties_rank) FROM ("
        f"SELECT *, rank() OVER (ORDER BY {order}) AS __ties_rank"
        f" FROM ({body}) __ties_src"
        f") WHERE __ties_rank <= {n} ORDER BY {order}"
    )
    if tail:
        out = f"{out} {tail}"
    return out


_CH_PARAM = re.compile(r"\{(\w+)\s*:\s*[A-Za-z0-9()]+\}")


def _named_params(sql: str) -> str:
    """ClickHouse server-side parameter syntax ``{name:Type}`` ->
    Spark's named parameter marker ``:name``.

    The declared ClickHouse type is dropped: Spark's parameterized-sql
    API types the value from the bound Python object, and binding
    stays engine-side (values never enter the SQL text — the same
    injection-safety the reference gets from its driver's ``?``
    placeholders, `hashes.go:25`, `hashes_test.go:191-196`; plain
    ``?`` markers need no translation at all).
    """
    out = []
    last = 0
    for m in _CH_PARAM.finditer(sql):
        if _in_string(sql, m.start()):
            continue
        out.append(sql[last : m.start()])
        out.append(f":{m.group(1)}")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_ARRAY_JOIN_PAT = re.compile(
    r"\b(LEFT\s+)?ARRAY\s+JOIN\b", re.IGNORECASE
)


def _array_join(sql: str) -> str:
    """ClickHouse ``[LEFT] ARRAY JOIN expr AS alias`` -> Spark
    ``LATERAL VIEW [OUTER] explode(expr) __aj AS alias``.

    Identical semantics for a single array: one output row per
    element, LEFT keeping empty/NULL-array rows (with a NULL element)
    exactly as LATERAL VIEW OUTER does.

    The two-array form (``ARRAY JOIN a AS x, b AS y``) iterates the
    arrays IN PARALLEL — a zip, not a product — and translates to
    ``explode(zip_with(a, b, named_struct(...)))`` with the aliases
    rewritten to struct-field accesses throughout the query (CH's
    aliases shadow any same-named columns, so a whole-query
    word-boundary rewrite matches its scoping). Three or more arrays
    stay a loud error.
    """
    out = sql
    pos = 0
    while True:
        m = _ARRAY_JOIN_PAT.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        outer = "OUTER " if m.group(1) else ""
        rest = out[m.end() :]
        cut = _next_clause(rest)
        # The joined expression ends at the next clause keyword, a
        # top-level WHERE, or end-of-text.
        wm = re.search(r"\bWHERE\b", rest[:cut], re.IGNORECASE)
        if wm and not _in_string(rest, wm.start()):
            cut = wm.start()
        spec = rest[:cut].strip().rstrip(";").strip()
        tail = rest[cut:]
        parts = _split_top_level(spec)
        if len(parts) > 2:
            raise ValueError(
                "ARRAY JOIN over 3+ parallel arrays is outside the "
                "translation scope — nest zip_with explicitly"
            )
        parsed = []
        for p in parts:
            am = re.match(r"(?s)^(.*?)\s+AS\s+(\w+)$", p, re.IGNORECASE)
            if not am:
                raise ValueError(
                    "ARRAY JOIN translates only the aliased form: "
                    "ARRAY JOIN <expr> AS <alias>"
                )
            parsed.append((am.group(1).strip(), am.group(2)))
        tail = tail.lstrip()
        if len(parsed) == 1:
            expr, alias = parsed[0]
            repl = f"LATERAL VIEW {outer}explode({expr}) __aj AS {alias}"
            out = out[: m.start()] + repl + (f" {tail}" if tail else "")
            pos = m.start() + len(repl)
            continue
        (e1, a1), (e2, a2) = parsed
        zipped = (
            f"zip_with({e1}, {e2}, (__zl, __zr) -> "
            f"named_struct('{a1}', __zl, '{a2}', __zr))"
        )
        repl = f"LATERAL VIEW {outer}explode({zipped}) __aj AS __zip"
        head = out[: m.start()]
        rebuilt = head + repl + (f" {tail}" if tail else "")
        # CH aliases shadow columns query-wide; rewrite every
        # word-boundary use outside strings to the struct field.
        for alias in (a1, a2):
            pat = re.compile(rf"\b{re.escape(alias)}\b")
            res = []
            last = 0
            for am2 in pat.finditer(rebuilt):
                if _in_string(rebuilt, am2.start()) or rebuilt[
                    max(0, am2.start() - 1)
                ] in "'.":
                    continue
                # leave the named_struct('<alias>', ...) literals alone
                res.append(rebuilt[last : am2.start()])
                res.append(f"__zip.{alias}")
                last = am2.end()
            res.append(rebuilt[last:])
            rebuilt = "".join(res)
        out = rebuilt
        pos = len(head) + 1  # rescan conservatively after the head


# ClickHouse type names -> Spark SQL types (same widths as the
# to<Type>() cast family in _INT_CASTS — unsigned types widen).
_CH_TYPE_NAMES = {
    "UInt8": "INT",
    "UInt16": "INT",
    "UInt32": "BIGINT",
    "UInt64": "BIGINT",
    "Int8": "INT",
    "Int16": "INT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "String": "STRING",
    "FixedString": "STRING",
    "Date": "DATE",
    "Date32": "DATE",
    "DateTime": "TIMESTAMP",
    "DateTime64": "TIMESTAMP",
    "Bool": "BOOLEAN",
    "UUID": "STRING",
}

# Two patterns: the Nullable(...) form consumes its OWN closing paren;
# the bare form ends at a word boundary (an optional trailing-paren
# group would greedily eat the enclosing function's ')' —
# 'sum(x::UInt64)' then failed the balance check and skipped the cast).
_TYPE_ALT = "|".join(sorted(_CH_TYPE_NAMES, key=len, reverse=True))
_SUFFIX_CAST_NULLABLE_PAT = re.compile(
    rf"::\s*Nullable\s*\(\s*({_TYPE_ALT})\s*\)"
)
_SUFFIX_CAST_BARE_PAT = re.compile(rf"::\s*({_TYPE_ALT})\b")


def _suffix_casts(sql: str) -> str:
    """``x::UInt32`` / ``x::Nullable(String)`` -> ``x::BIGINT`` /
    ``x::STRING`` (Spark columns are nullable by default, so the
    Nullable wrapper drops). Case-sensitive on the type name, like
    ClickHouse itself."""
    out = sql
    for pat in (_SUFFIX_CAST_NULLABLE_PAT, _SUFFIX_CAST_BARE_PAT):
        pos = 0
        while True:
            m = pat.search(out, pos)
            if not m:
                break
            if _in_string(out, m.start()):
                pos = m.end()
                continue
            repl = f"::{_CH_TYPE_NAMES[m.group(1)]}"
            out = out[: m.start()] + repl + out[m.end() :]
            pos = m.start() + len(repl)
    return out


def _cast_fn_form(args: list[str]) -> str:
    """ClickHouse's 2-arg function form ``CAST(x, 'Type')`` -> the
    standard ``CAST(x AS T)``. The 1-arg (``AS``) form and anything
    that merely split oddly (e.g. generics) pass through unchanged."""
    if len(args) == 2:
        t = args[1].strip()
        if t.startswith("'") and t.endswith("'"):
            ch = t[1:-1].strip()
            inner = re.fullmatch(r"Nullable\s*\(\s*(.*?)\s*\)", ch)
            if inner:
                ch = inner.group(1)
            base = re.match(r"(\w+)", ch)
            if base and ch == base.group(1) and ch in _CH_TYPE_NAMES:
                # bare names only: DateTime('UTC') would silently drop
                # the timezone and FixedString(8) its padding — loud
                sp = _CH_TYPE_NAMES[ch]
            elif base and base.group(1).lower() == "decimal":
                sp = ch.upper()  # Decimal(p, s) is Spark-spellable
            else:
                raise ValueError(
                    f"ClickHouse CAST(x, {t}) has no Spark translation "
                    f"for type {ch!r} — use a Spark type name in the "
                    f"CAST(x AS T) form (parameterized types like "
                    f"DateTime('<tz>')/FixedString(n) carry semantics "
                    f"a bare Spark type would silently drop)"
                )
            return f"CAST({args[0]} AS {sp})"
    if len(args) == 1:
        # AS form with a ClickHouse type name: CAST(x AS Int64) would
        # otherwise reach Spark's parser verbatim (opaque
        # UNSUPPORTED_DATATYPE, the round-8 differential-corpus find).
        # Map KNOWN bare CH names through the same table as the
        # fn-form; Spark's own type names and parameterized types
        # (already loud or already valid) pass through.
        m = re.search(
            r"\s+AS\s+(?:Nullable\s*\(\s*(\w+)\s*\)|(\w+))\s*$",
            args[0],
            re.IGNORECASE,
        )
        if m:
            ch = m.group(1) or m.group(2)
            if ch in _CH_TYPE_NAMES:
                # Nullable(T) unwraps like the fn-form: every Spark
                # type is nullable
                return (
                    f"CAST({args[0][: m.start()]} AS "
                    f"{_CH_TYPE_NAMES[ch]})"
                )
    return f"CAST({', '.join(args)})"


def _distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (c1, c2) ... ORDER BY o`` -> the same
    query as ``LIMIT 1 BY c1, c2`` (ClickHouse documents DISTINCT ON
    as exactly that), reusing the LIMIT BY window machinery — which
    also enforces the deterministic-ORDER-BY contract. Works for the
    top-level SELECT (including after a CTE prologue); subquery
    occurrences are loud; string-literal occurrences are left alone
    like every other rewrite."""
    m = _top_level_search(sql, r"\bSELECT\s+DISTINCT\s+ON\s*\(")
    if not m:
        m2 = re.search(r"\bDISTINCT\s+ON\s*\(", sql, re.IGNORECASE)
        if m2 and not _in_string(sql, m2.start()):
            raise ValueError(
                "ClickHouse DISTINCT ON in a subquery has no Spark "
                "translation here — rewrite it as ORDER BY ... "
                "LIMIT 1 BY <cols> (top-level DISTINCT ON translates)"
            )
        return sql
    open_idx = m.end() - 1  # the pattern ends at the ON's paren
    close_idx = _find_matching_paren(sql, open_idx)
    cols = sql[open_idx + 1 : close_idx].strip()
    body = (
        sql[: m.start()] + "SELECT " + sql[close_idx + 1 :].lstrip()
    )
    ob = _top_level_search(body, r"\bORDER\s+BY\b")
    if ob:
        end = ob.end() + _next_clause(body[ob.end() :])
        return (
            f"{body[:end].rstrip()} LIMIT 1 BY {cols} "
            f"{body[end:].lstrip()}"
        ).rstrip()
    # no ORDER BY: still emit LIMIT 1 BY so _limit_by raises its
    # explanatory determinism error
    return f"{body.rstrip()} LIMIT 1 BY {cols}"


_WITH_LIT_ITEM = re.compile(
    r"(?P<lit>-?\d+(?:\.\d+)?|'(?:[^']|'')*')\s+AS\s+"
    r"(?P<name>[A-Za-z_]\w*)",
    re.IGNORECASE,
)


def _nested_select_spans(text: str) -> list[tuple[int, int]]:
    """``[start, end)`` spans of parenthesized SELECT scopes (derived
    tables, scalar subqueries, kept CTE bodies) — the inner scope
    boundaries across which WITH-constant substitution must not
    reach. Only the OUTERMOST span of each nest is recorded (anything
    inside it is already fenced)."""
    spans: list[tuple[int, int]] = []
    i = 0
    while i < len(text):
        ch = text[i]
        if ch == "'":
            i += 1
            while i < len(text) and text[i] != "'":
                i += 1
        elif ch == "(":
            j = i + 1
            j += re.match(r"\s*", text[j:]).end()
            after = text[j + 6 : j + 7]
            if text[j : j + 6].upper() == "SELECT" and not (
                after.isalnum() or after == "_"
            ):
                end = _find_matching_paren(text, i)
                spans.append((i, end + 1))
                i = end
        i += 1
    return spans


def _subst_alias(text: str, name: str, lit: str) -> str:
    """Replace word-boundary uses of a WITH-constant alias with the
    parenthesized literal, skipping string literals, qualified
    references (``t.name`` / ``name.x``), parameter markers, and
    alias-definition positions (``AS name``).

    Scope discipline (r12 ADVICE): substitution happens in the
    statement's OWN scope only. An unqualified use inside a nested
    SELECT scope (derived table, scalar subquery, kept CTE body) is
    LOUD — there the textual substitution could capture a real source
    column of the same name, and ClickHouse's own two analyzers
    disagree on which wins (the old analyzer substitutes the alias,
    the new one resolves the column first). Top-level uses pin the
    CLASSIC (old-analyzer) precedence: the WITH alias shadows a
    same-named column of a derived table, matching the reference
    dialect's traditional behavior."""
    pat = re.compile(rf"\b{re.escape(name)}\b")
    out, pos = text, 0
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.end()
            continue
        prev = out[m.start() - 1] if m.start() > 0 else ""
        nxt = out[m.end()] if m.end() < len(out) else ""
        if (prev and prev in ".:{") or (nxt and nxt in ".:}"):
            pos = m.end()
            continue
        if re.search(r"\bAS\s*$", out[: m.start()], re.IGNORECASE):
            pos = m.end()
            continue
        # spans recomputed per hit: earlier substitutions shift offsets
        if any(a <= m.start() < b for a, b in _nested_select_spans(out)):
            raise ValueError(
                f"ClickHouse constant-WITH alias '{name}' is referenced "
                "inside a nested SELECT scope — substituting across the "
                "scope boundary could capture a same-named source "
                "column (and ClickHouse's old/new analyzers disagree "
                "there): qualify the inner column, rename the alias, "
                "or inline the constant by hand"
            )
        repl = f"({lit})"
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


def _with_constants(sql: str) -> str:
    """ClickHouse scalar-constant WITH — ``WITH 100 AS k, 0.15 AS r
    SELECT x * r / k FROM t`` — inlined by substituting the
    (parenthesized) literal at every use of its alias, which is
    exactly ClickHouse's own semantics for the form (the alias names
    a constant expression, not a relation). Mixed lists keep their
    subquery-CTE items: ``WITH 3 AS k, t AS (SELECT ..) SELECT ..``
    keeps ``WITH t AS (..)``. Scoped deliberately to the
    statement-LEADING WITH, numeric/string literals only, and to the
    statement's OWN scope: a constant-WITH inside a nested scope, a
    non-literal constant expression, or an alias USE inside a nested
    SELECT scope (kept CTE body / derived table / scalar subquery)
    keeps the loud error — textual substitution across an inner scope
    boundary could capture an unrelated identifier (see
    ``_subst_alias``). Top-level uses follow ClickHouse's CLASSIC
    (old-analyzer) precedence: the alias shadows same-named derived
    columns; the new analyzer's column-first resolution diverges
    there, which is documented rather than guessed at."""
    lead_ws = sql[: len(sql) - len(sql.lstrip())]
    s = sql.lstrip()
    head = re.match(r"WITH\s+", s, re.IGNORECASE)
    if not head:
        return sql
    pos = head.end()
    consts: list[tuple[str, str]] = []  # (name, lit)
    kept: list[str] = []
    while True:
        pos += re.match(r"\s*", s[pos:]).end()
        m = _WITH_LIT_ITEM.match(s, pos)
        if m:
            consts.append((m.group("name"), m.group("lit")))
            pos = m.end()
        else:
            # non-constant item (subquery CTE): consume a balanced
            # chunk up to the next top-level comma / the main SELECT
            start, depth = pos, 0
            while pos < len(s):
                ch = s[pos]
                if ch == "'":
                    pos += 1
                    while pos < len(s) and s[pos] != "'":
                        pos += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif depth == 0 and ch == ",":
                    break
                elif (
                    depth == 0
                    and s[pos : pos + 6].upper() == "SELECT"
                    and not (s[pos - 1].isalnum() or s[pos - 1] == "_")
                    and s[start:pos].strip()
                ):
                    break
                pos += 1
            item = s[start:pos].strip()
            if not item:
                return sql  # malformed: leave for the loud scan
            kept.append(item)
        ws = re.match(r"\s*", s[pos:]).end()
        if pos + ws < len(s) and s[pos + ws] == ",":
            pos = pos + ws + 1
            continue
        rest = s[pos:].lstrip()
        break
    if not consts:
        return sql
    for name, lit in consts:
        rest = _subst_alias(rest, name, lit)
        kept = [_subst_alias(k, name, lit) for k in kept]
    prefix = f"WITH {', '.join(kept)} " if kept else ""
    return lead_ws + prefix + rest


def _clauses(
    sql: str,
    sample_keys: dict[str, str] | None = None,
    final_keys: dict[str, tuple] | None = None,
) -> str:
    """Clause-level rewrites: PREWHERE, trailing SETTINGS / FORMAT,
    LIMIT BY, SAMPLE, FINAL, ARRAY JOIN, loud errors for
    recognized-but-untranslatable constructs."""
    # Loud errors FIRST: a DDL/DML statement must hit its hint before
    # a clause rewriter (e.g. FINAL inside OPTIMIZE TABLE) munches it.
    for pat, construct, hint in _UNSUPPORTED:
        m0 = re.search(pat, sql, re.IGNORECASE)
        if m0 and not _in_string(sql, m0.start()):
            raise ValueError(
                f"ClickHouse {construct} has no Spark translation — {hint}"
            )
    out = _array_join(
        _final(_sample(sql, sample_keys), final_keys, sample_keys)
    )
    # Execution hints carry no semantics: strip a trailing SETTINGS
    # clause and a trailing FORMAT clause (output shaping is the
    # caller's job here). String-literal occurrences are left alone,
    # like every other rewrite in this module.
    out = _sub_unquoted(_SETTINGS_PAT, "", out)
    out = _sub_unquoted(_FORMAT_PAT, "", out)
    # GLOBAL IN / GLOBAL JOIN ask the cluster to broadcast the right
    # side to every shard — which is precisely how Spark already
    # distributes IN-subqueries and (small-side) joins. The keyword
    # carries no extra semantics here: drop it.
    out = _sub_unquoted(_GLOBAL_PAT, "", out)
    # GROUP BY a, b WITH TOTALS == one extra all-NULL grand-total row:
    # exactly GROUPING SETS ((a, b), ()).
    m = re.search(
        r"\bGROUP\s+BY\b(?P<cols>.*?)\s+WITH\s+TOTALS\b",
        out,
        flags=re.IGNORECASE | re.DOTALL,
    )
    if m and not _in_string(out, m.start()):
        cols = m.group("cols").strip()
        out = (
            out[: m.start()]
            + f"GROUP BY GROUPING SETS (({cols}), ())"
            + out[m.end() :]
        )
    # PREWHERE is ClickHouse's manual pushdown staging; Catalyst pushes
    # predicates itself, so it is semantically just WHERE. Merge with
    # an existing WHERE when both appear (PREWHERE precedes WHERE in
    # the CH grammar).
    m = re.search(r"\bPREWHERE\b", out, flags=re.IGNORECASE)
    if m and not _in_string(out, m.start()):
        w = re.search(r"\bWHERE\b", out[m.end() :], flags=re.IGNORECASE)
        if w:
            pre_cond = out[m.end() : m.end() + w.start()].strip()
            rest = out[m.end() + w.end() :].lstrip()
            # Parenthesize the WHERE condition too (it may contain OR);
            # its end is the next top-level clause keyword.
            end = _next_clause(rest)
            cond2 = rest[:end].strip()
            tail = rest[end:]
            out = (
                f"{out[: m.start()]}WHERE ({pre_cond}) AND ({cond2}) {tail}"
            ).rstrip()
        else:
            out = out[: m.start()] + "WHERE" + out[m.end() :]
    # ClickHouse spells semi/anti joins with the qualifier first
    # (SEMI LEFT JOIN); Spark wants LEFT SEMI JOIN — same semantics,
    # word order only. Right-sided semi/anti and ANY/ASOF joins are
    # loud (_UNSUPPORTED).
    out = _sub_unquoted(
        re.compile(r"\bSEMI\s+LEFT\s+(?:OUTER\s+)?JOIN\b", re.IGNORECASE),
        "LEFT SEMI JOIN",
        out,
    )
    out = _sub_unquoted(
        re.compile(r"\bANTI\s+LEFT\s+(?:OUTER\s+)?JOIN\b", re.IGNORECASE),
        "LEFT ANTI JOIN",
        out,
    )
    out = _suffix_casts(out)
    out = _qualify(out)
    out = _limit_offset_comma(out)
    return _with_ties(_limit_by(_distinct_on(_named_params(out))))


_CLAUSE_KW = re.compile(
    r"\b(GROUP\s+BY|ORDER\s+BY|HAVING|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT|QUALIFY)\b",
    re.IGNORECASE,
)


def _next_clause(sql: str) -> int:
    """Index of the first top-level clause keyword (len(sql) if none),
    skipping quoted strings and parenthesized subexpressions."""
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
            i += 1
            continue
        if c == "(":
            i = _find_matching_paren(sql, i) + 1
            continue
        m = _CLAUSE_KW.match(sql, i)
        if m:
            return i
        i += 1
    return n


# --- URL + IPv4 function families ------------------------------------------
# ClickHouse URL functions tolerate scheme-less URLs and return '' for
# missing components; Spark's parse_url wants a full URL and returns
# NULL, so host/path/port pieces are regexp_extract-based (Spark's
# regexp_extract returns '' on no match — the exact CH contract).
# Regex literals are emitted through Spark's string parser, hence the
# doubled backslashes.
_URL_SCHEME = r"'^([a-zA-Z][a-zA-Z0-9+.\\-]*):'"
_URL_AUTH = r"(?:(?:[a-zA-Z][a-zA-Z0-9+.\\-]*:)?//)?(?:[^/?#@]*@)?"
_URL_HOST = f"'^{_URL_AUTH}([^/:?#]+)'"
_URL_PORT = f"'^{_URL_AUTH}[^/:?#]+:([0-9]+)'"
_URL_PATH = f"'^{_URL_AUTH}[^/?#]*(/[^?#]*)'"
_URL_PATHFULL = f"'^{_URL_AUTH}[^/?#]*([/?#].*)$'"
_IP_OCTET = r"(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"


def _fold_arg(fname: str, args: list[str]) -> str:
    """The source array for the fold family. The 2-arg higher-order
    ClickHouse form (``arraySum(x -> .., arr)``) maps the lambda
    first — ``transform(arr, lam)`` is the exact Spark spelling
    (r13 promotion; previously loud). Multi-array lambdas stay
    loud."""
    if len(args) == 1:
        return args[0]
    if len(args) == 2 and "->" in args[0]:
        return f"transform({args[1]}, {args[0]})"
    raise ValueError(
        f"ClickHouse {fname} over multiple arrays has no Spark "
        "translation — zip_with the arrays into structs first, then "
        f"the 1-arg {fname}"
    )


def _nest_binary(fn: str, args: list[str]) -> str:
    """Fold an n-ary ClickHouse call into nested binary Spark calls:
    f(a, b, c) -> f(f(a, b), c)."""
    if len(args) == 1:
        return args[0]
    out = args[0]
    for nxt in args[1:]:
        out = f"{fn}({out}, {nxt})"
    return out


def _ipv4_cidr_range(args: list[str]) -> str:
    ip, c = args[0], args[1]
    width = f"shiftleft(CAST(1 AS BIGINT), 32 - ({c}))"
    lower = f"((({ip}) DIV {width}) * {width})"
    return (
        f"named_struct('lower', {lower}, 'upper', {lower} + {width} - 1)"
    )


def _url_ip_functions(out: str) -> str:
    out = _rewrite_calls(
        out, "protocol", lambda a: f"regexp_extract({a[0]}, {_URL_SCHEME}, 1)"
    )
    out = _rewrite_calls(
        out,
        "domainWithoutWWW",
        lambda a: (
            f"regexp_replace(regexp_extract({a[0]}, {_URL_HOST}, 1),"
            f" '^www\\\\.', '')"
        ),
    )
    out = _rewrite_calls(
        out, "domain", lambda a: f"regexp_extract({a[0]}, {_URL_HOST}, 1)"
    )
    out = _rewrite_calls(
        out,
        "topLevelDomain",
        lambda a: (
            f"regexp_extract(regexp_extract({a[0]}, {_URL_HOST}, 1),"
            f" '\\\\.([^.]+)$', 1)"
        ),
    )
    out = _rewrite_calls(
        out, "pathFull", lambda a: f"regexp_extract({a[0]}, {_URL_PATHFULL}, 1)"
    )
    out = _rewrite_calls(
        out, "path", lambda a: f"regexp_extract({a[0]}, {_URL_PATH}, 1)"
    )
    out = _rewrite_calls(
        out,
        "queryStringAndFragment",
        # CH drops the leading '?' but keeps the '#' separator; with no
        # query string at all, the fragment (including '#') is returned.
        # The '?' must occur BEFORE any '#': a '?' inside the fragment
        # ('http://x/a#f?x') is fragment text, not a query string. The
        # scan class excludes '?' itself ('^[^#?]*') so the match
        # anchors at the FIRST '?' — with greedy '[^#]*' the regex
        # engine backtracks to the LAST '?', truncating query strings
        # that contain a literal '?' ('?q=1?x=2' must yield 'q=1?x=2').
        lambda a: (
            f"coalesce(nullif(regexp_extract({a[0]}, '^[^#?]*\\\\?(.*)$', 1),"
            f" ''), regexp_extract({a[0]}, '(#.*)$', 1))"
        ),
    )
    out = _rewrite_calls(
        out,
        "queryString",
        lambda a: f"regexp_extract({a[0]}, '^[^#?]*\\\\?([^#]*)', 1)",
    )
    out = _rewrite_calls(
        out, "fragment", lambda a: f"regexp_extract({a[0]}, '#(.*)$', 1)"
    )
    out = _rewrite_calls(
        out,
        "extractURLParameter",
        lambda a: f"coalesce(parse_url({a[0]}, 'QUERY', {a[1]}), '')",
    )
    out = _rewrite_calls(
        out,
        "cutQueryStringAndFragment",
        lambda a: f"regexp_replace({a[0]}, '[?#].*$', '')",
    )
    out = _rewrite_calls(
        out,
        "cutQueryString",
        # query goes, fragment stays (cutQueryStringAndFragment above
        # is the drop-both form)
        lambda a: f"regexp_replace({a[0]}, '\\\\?[^#]*', '')",
    )
    out = _rewrite_calls(
        out, "cutFragment", lambda a: f"regexp_replace({a[0]}, '#.*$', '')"
    )
    out = _rewrite_calls(
        out,
        "netloc",
        lambda a: (
            f"regexp_extract({a[0]},"
            f" '^(?:(?:[a-zA-Z][a-zA-Z0-9+.\\\\-]*:)?//)?([^/?#]*)', 1)"
        ),
    )
    out = _rewrite_calls(
        out,
        "port",
        lambda a: (
            f"coalesce(CAST(nullif(regexp_extract({a[0]}, {_URL_PORT}, 1),"
            f" '') AS INT), {a[1] if len(a) > 1 else 0})"
        ),
    )
    out = _rewrite_calls(
        out,
        "decodeURLComponent",
        # CH does NOT treat '+' as space (RFC 3986); escape it before
        # Spark's form-decoding url_decode would — %XX sequences are
        # identical, so this makes the decode exact (the former bare
        # url_decode mapped 'a+b' to 'a b').
        lambda a: f"url_decode(replace({a[0]}, '+', '%2B'))",
    )
    out = _rewrite_calls(
        out,
        "encodeURLComponent",
        # CH percent-encodes per RFC 3986 (space -> %20, '*' encoded,
        # '~' kept); Spark's url_encode is java.net form-encoding
        # (space -> '+', '*' kept, '~' -> %7E) — patch the three
        # divergent classes for exact parity.
        lambda a: (
            f"replace(replace(replace(url_encode({a[0]}), "
            f"'+', '%20'), '*', '%2A'), '%7E', '~')"
        ),
    )
    out = _rewrite_calls(
        out,
        "IPv4NumToString",
        lambda a: (
            f"concat_ws('.',"
            f" CAST((({a[0]}) DIV 16777216) % 256 AS STRING),"
            f" CAST((({a[0]}) DIV 65536) % 256 AS STRING),"
            f" CAST((({a[0]}) DIV 256) % 256 AS STRING),"
            f" CAST(({a[0]}) % 256 AS STRING))"
        ),
    )
    for name in ("IPv4StringToNum", "toIPv4"):
        out = _rewrite_calls(
            out,
            name,
            lambda a: (
                f"aggregate(split({a[0]}, '\\\\.'), CAST(0 AS BIGINT),"
                f" (acc, x) -> acc * 256 + CAST(x AS BIGINT))"
            ),
        )
    out = _rewrite_calls(
        out,
        "isIPv4String",
        lambda a: (
            f"({a[0]} RLIKE '^({_IP_OCTET}\\\\.){{3}}{_IP_OCTET}$')"
        ),
    )
    out = _rewrite_calls(out, "IPv4CIDRToRange", _ipv4_cidr_range)
    return out


def translate(
    sql: str,
    sample_keys: dict[str, str] | None = None,
    final_keys: dict[str, tuple] | None = None,
    funnel_windowed: bool = False,
) -> str:
    """Translate the supported ClickHouse-dialect subset to Spark SQL.

    ``sample_keys`` maps table name -> sampling-key column (the table
    DDL's ``SAMPLE BY`` expression), enabling ``SAMPLE f`` translation.
    ``final_keys`` maps table name -> (key columns, version column)
    (the DDL's ORDER BY key + version), enabling ``FINAL`` translation.
    ``funnel_windowed=True`` emits windowFunnel as the RANGE-window
    cascade (scale path — no per-group collect_list state; see
    ``_window_funnel_windowed`` for shape requirements and the one
    documented strict_increase divergence) instead of ClickHouse's
    exact fold.

    Documented value divergences (deliberate, each noted at its
    rewrite site):

    - ``windowFunnel(...'strict_increase')`` under the windowed
      cascade: see ``_window_funnel_windowed``.
    - ``boundingRatio(x, y)`` on a single-point or constant-x group:
      the closed form divides by ``max(x) - min(x) = 0`` — Spark's
      non-ANSI division yields NULL where ClickHouse returns
      inf/nan. NULL is the chosen sentinel (it aggregates away).
    - ``gcd``/``lcm`` zero conventions: the fold returns the
      mathematical conventions ``gcd(0, n) = |n|``, ``gcd(0, 0) = 0``,
      ``lcm(0, n) = 0`` (matching DuckDB's builtins, which the
      differential corpus pins against) where ClickHouse documents
      throwing a division-by-zero error for zero arguments.
    - ``round(x[, n])`` at exact .5 ties: ClickHouse uses banker's
      rounding for FLOATS (round(2.5) = 2) but half-away-from-zero
      for Decimals; Spark's round is HALF_UP for both. The argument
      type is unknowable textually, so round passes through with
      Spark's tie behavior — spell ``roundBankers`` (-> bround) when
      the banker's convention is the point.
    - ``reverse(s)`` on strings: ClickHouse reverses BYTES (garbage
      on multibyte UTF-8; reverseUTF8 is its char-wise form); Spark
      reverses characters, i.e. reverse == reverseUTF8 here. Array
      reversal is identical in both.
    - ``locate``: passes through with Spark's (needle, haystack)
      order, which matches ClickHouse >= 23.8's MySQL-compatible
      signature; older servers used (haystack, needle) — spell
      ``position(haystack, needle)`` (arg-swapped by the
      translation) to be version-proof.
    - ``lower``/``upper``: ClickHouse's are ASCII-ONLY (multibyte
      code points pass through unchanged); Spark's are full Unicode,
      i.e. this engine treats lower as lowerUTF8 (which translates
      to the same builtin). Identical on ASCII text; spell the
      intent with lowerUTF8/upperUTF8 where it matters.
    """
    # Constant-WITH inlining runs FIRST: _clauses' loud scan rejects
    # any literal WITH it still sees (nested scopes stay loud).
    out = _clauses(_with_constants(sql), sample_keys, final_keys)
    out = _rewrite_calls(out, "arrayJoin", lambda a: f"explode({a[0]})")
    # ClickHouse's lookup-table transform(x, from, to[, default]) vs
    # Spark's lambda transform(arr, fn): the same name with unrelated
    # semantics — a silent-wrong-results hazard. Rewrite the 3/4-arg
    # lookup form to a CASE chain FIRST (before any rewrite below emits
    # Spark lambda transforms of its own); the 2-arg lambda form passes
    # through untouched.
    out = _rewrite_calls(out, "transform", _transform_lookup)
    # ClickHouse's 2-arg function-form CAST(x, 'Type'); the standard
    # AS form reconstructs unchanged (FIRST, before rewrites below
    # emit AS-form casts of their own).
    out = _rewrite_calls(out, "CAST", _cast_fn_form)
    # untuple(t) expands a struct into its fields; Spark spells that
    # t.* — valid only on a (qualified) column reference, so inline
    # struct expressions go loud instead of hitting a parse error.
    out = _rewrite_calls(
        out,
        "untuple",
        lambda a: f"{a[0].strip()}.*"
        if re.fullmatch(r"[\w.]+", a[0].strip())
        else _raise(
            ValueError(
                "ClickHouse untuple(<expression>) has no Spark "
                "translation — alias the struct in a subquery and "
                "untuple the column reference"
            )
        ),
    )

    out = _rewrite_calls(
        out, "count", lambda a: "count(*)" if not a else f"count({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "uniqExact", lambda a: f"count(DISTINCT {', '.join(a)})"
    )
    for fn in ("uniqHLL12", "uniqCombined64", "uniqCombined",
               "uniqTheta", "uniq"):
        out = _rewrite_calls(
            out, fn, lambda a: f"approx_count_distinct({', '.join(a)})"
        )
    out = _rewrite_calls(out, "argMax", lambda a: f"max_by({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "argMin", lambda a: f"min_by({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "countIf", lambda a: f"count_if({a[0]})")
    out = _rewrite_calls(
        out,
        "uniqExactIf",
        lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    out = _rewrite_calls(
        out,
        "uniqIf",
        lambda a: f"approx_count_distinct(CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    out = _rewrite_calls(
        out,
        "anyIf",
        # any_value over the NULL-masked column; ignoreNulls so the
        # masked-out rows can't be picked (arbitrary-pick semantics
        # match ClickHouse's — any() is nondeterministic there too).
        lambda a: f"any_value(CASE WHEN {a[1]} THEN {a[0]} END, true)",
    )
    out = _rewrite_calls(out, "anyLast", lambda a: f"any_value({a[0]})")
    out = _rewrite_calls(out, "any", lambda a: f"any_value({a[0]})")
    out = _rewrite_calls(
        out,
        "avgWeighted",
        lambda a: f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))",
    )
    out = _rewrite_calls(
        out,
        "countEqual",
        lambda a: f"size(filter({a[0]}, __ce -> __ce = {a[1]}))",
    )
    # round-13b promotion: arrayFill/arrayReverseFill — ClickHouse's
    # documented carry scan ("replaces arr[i] by arr[i-1] if func
    # returns 0; the first element is not replaced"), where the doc's
    # own example ([12, NULL, NULL] -> [12, 12, 12]) pins that
    # consecutive gaps carry the ALREADY-replaced value — exactly an
    # array-accumulating fold. The reverse form is the same fold over
    # reverse(arr), reversed back. slice(arr, 1, 0) is the typed
    # empty-array zero (array()'s element type would not unify). A
    # NULL condition takes the replace branch (CASE semantics) — the
    # UInt8-falsy convention. Multi-array conditions stay loud.
    out = _rewrite_calls(out, "arrayReverseFill", _array_reverse_fill)
    out = _rewrite_calls(out, "arrayFill", _array_fill)
    out = _rewrite_calls(
        out,
        "arrayCumSum",
        # running-sum scan as an array-accumulating fold
        lambda a: (
            f"aggregate({a[0]}, CAST(array() AS ARRAY<DOUBLE>), "
            f"(__cs_acc, __cs_x) -> __cs_acc || array(coalesce("
            f"try_element_at(__cs_acc, -1), CAST(0 AS DOUBLE)) + __cs_x))"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayCumSumNonNegative",
        # same scan, with ClickHouse's clamp: a running sum that dips
        # below zero is replaced by zero AND propagates as zero
        lambda a: (
            f"aggregate({a[0]}, CAST(array() AS ARRAY<DOUBLE>), "
            f"(__cn_acc, __cn_x) -> __cn_acc || array(greatest(coalesce("
            f"try_element_at(__cn_acc, -1), CAST(0 AS DOUBLE)) + __cn_x, "
            f"CAST(0 AS DOUBLE))))"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayDifference",
        # [0, a2-a1, a3-a2, ...] — ClickHouse's leading-zero convention
        lambda a: (
            f"concat(array(CAST(0 AS DOUBLE)), zip_with("
            f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0)), "
            f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0)), "
            f"(__df_x, __df_y) -> CAST(__df_x AS DOUBLE) - __df_y))"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayEnumerate",
        # NOT sequence(1, size(x)): Spark's sequence defaults to step
        # -1 when start > stop, so an empty array would yield [1, 0]
        # where ClickHouse yields [].
        lambda a: f"transform({a[0]}, (__ae_x, __ae_i) -> __ae_i + 1)",
    )
    out = _rewrite_calls(
        out,
        "hasAll",
        lambda a: f"forall({a[1]}, __ha -> array_contains({a[0]}, __ha))",
    )
    out = _rewrite_calls(
        out, "hasAny", lambda a: f"arrays_overlap({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(out, "arrayFlatten", lambda a: f"flatten({a[0]})")
    out = _rewrite_calls(
        out,
        "splitByString",
        # literal-quote the separator like splitByChar
        lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    )
    out = _rewrite_calls(out, "reverseUTF8", lambda a: f"reverse({a[0]})")
    out = _rewrite_calls(
        out,
        "toDecimal64",
        # literal scale only: the precision is part of the target type
        lambda a: f"CAST({a[0]} AS DECIMAL(18, {int(a[1])}))",
    )
    out = _rewrite_calls(
        out, "extractGroups", _extract_groups
    )
    out = _rewrite_calls(
        out, "extractAll", lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 1)"
    )
    out = _rewrite_calls(out, "multiSearchAny", _multi_search_any)
    # leftmost match offset over all needles (0 when none)
    out = _rewrite_calls(
        out,
        "multiSearchFirstPosition",
        lambda a: (
            f"coalesce(array_min(filter(transform({a[1]}, "
            f"__msn -> locate(__msn, {a[0]})), __msp -> __msp > 0)), 0)"
        ),
    )
    # 1-based index of the needle whose occurrence is LEFTMOST in the
    # haystack (not first in needle order), 0 when none
    out = _rewrite_calls(
        out,
        "multiSearchFirstIndex",
        lambda a: (
            f"coalesce(array_position(transform({a[1]}, "
            f"__msn -> locate(__msn, {a[0]})), "
            f"array_min(filter(transform({a[1]}, "
            f"__msn -> locate(__msn, {a[0]})), __msp -> __msp > 0))), 0)"
        ),
    )
    out = _rewrite_calls(
        out,
        "countMatchesCaseInsensitive",
        lambda a: (
            f"size(regexp_extract_all({a[0]}, "
            f"concat('(?i)', {a[1]}), 0))"
        ),
    )
    # "Stable" = numerically-stable accumulation order; the statistic
    # is identical, so the plain Spark aggregates apply
    out = _rewrite_calls(out, "corrStable", lambda a: f"corr({', '.join(a)})")
    out = _rewrite_calls(
        out, "covarPopStable", lambda a: f"covar_pop({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "covarSampStable", lambda a: f"covar_samp({', '.join(a)})"
    )
    # sum that wraps at the input width; Spark's non-ANSI sum wraps at
    # int64 — the documented best-effort twin of the sumKahan mapping
    out = _rewrite_calls(
        out, "sumWithOverflow", lambda a: f"sum({a[0]})"
    )
    # OrNull / OrZero parsing variants across the whole numeric cast
    # family (toInt64OrNull, toUInt32OrZero, toFloat64OrNull, ...)
    for ch_cast, sp_type in {**_INT_CASTS, "toFloat64": "DOUBLE"}.items():
        out = _rewrite_calls(
            out,
            f"{ch_cast}OrNull",
            lambda a, t=sp_type: f"try_cast({a[0]} AS {t})",
        )
        out = _rewrite_calls(
            out,
            f"{ch_cast}OrZero",
            lambda a, t=sp_type: (
                f"coalesce(try_cast({a[0]} AS {t}), CAST(0 AS {t}))"
            ),
        )
    out = _rewrite_calls(
        out, "concatAssumeInjective", lambda a: f"concat({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "arrayZip", lambda a: f"arrays_zip({', '.join(a)})"
    )
    out = _rewrite_calls(
        out,
        "arrayCompact",
        # drop CONSECUTIVE duplicates (not a distinct): keep element i
        # unless it null-safe-equals its predecessor
        lambda a: (
            f"filter({a[0]}, (__ac_x, __ac_i) -> __ac_i = 0 OR NOT "
            f"(__ac_x <=> element_at({a[0]}, __ac_i)))"
        ),
    )
    out = _rewrite_calls(
        out, "arrayPushBack", lambda a: f"concat({a[0]}, array({a[1]}))"
    )
    out = _rewrite_calls(
        out, "arrayPushFront", lambda a: f"concat(array({a[1]}), {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "arrayPopBack",
        lambda a: f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))",
    )
    out = _rewrite_calls(
        out,
        "arrayPopFront",
        lambda a: f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))",
    )
    out = _rewrite_calls(
        out,
        "range",
        # NOT sequence(): Spark's sequence steps -1 when start > stop,
        # (skip after FROM/JOIN: that position is the numbers()
        # rewrite's emitted Spark range() TVF, not CH's array range —
        # re-translating the emission must be a fixpoint)
        # so range(0) would yield [0, -1] where ClickHouse yields [].
        # transform over array_repeat is empty-safe for any bound.
        lambda a: (
            f"transform(array_repeat(0, CAST({a[0]} AS INT)), "
            f"(__rg_x, __rg_i) -> __rg_i)"
            if len(a) == 1
            else (
                f"transform(array_repeat(0, CAST(({a[1]}) - ({a[0]}) AS INT)), "
                f"(__rg_x, __rg_i) -> __rg_i + ({a[0]}))"
                if len(a) == 2
                # 3-arg stepped form: ceil((end-start)/step) elements,
                # value start + i*step. Works for negative steps too
                # (count stays positive when the walk converges, else
                # clamps to empty, matching CH). step=0 is a CH error
                # and surfaces here as a division error at run time.
                else (
                    f"transform(array_repeat(0, greatest(CAST(ceil("
                    f"(CAST({a[1]} AS DOUBLE) - ({a[0]})) / ({a[2]})"
                    f") AS INT), 0)), "
                    f"(__rg_x, __rg_i) -> __rg_i * ({a[2]}) + ({a[0]}))"
                )
            )
        ),
        skip_preceded_by=("from", "join"),
    )
    # groupArray(n)(x) (curried cap) BEFORE the plain form; both keep
    # Spark's collect_list non-determinism, matching ClickHouse's own
    # "values in any order" caveat for groupArray.
    out = _rewrite_curried(
        out, "groupArray", None, fmt="slice(collect_list({x}), 1, {p})"
    )
    out = _rewrite_calls(
        out, "groupArray", lambda a: f"collect_list({a[0]})"
    )
    out = _rewrite_calls(out, "groupUniqArray", lambda a: f"collect_set({a[0]})")
    out = _rewrite_calls(
        out, "roundBankers", lambda a: f"bround({', '.join(a)})"
    )
    out = _rewrite_calls(
        out,
        "toMonday",
        _tz_loud(
            "toMonday",
            lambda a: f"CAST(date_trunc('week', {a[0]}) AS DATE)",
        ),
    )
    out = _rewrite_calls(
        out,
        "timeSlot",
        # floor to the half-hour grid (the fixed-minute toStartOf*
        # variants below share the idiom)
        lambda a: (
            f"timestamp_seconds((unix_timestamp({a[0]}) DIV 1800) * 1800)"
        ),
    )
    for fn, secs in (
        ("toStartOfFifteenMinutes", 900),
        ("toStartOfTenMinutes", 600),
        ("toStartOfFiveMinutes", 300),
        ("toStartOfFiveMinute", 300),  # pre-22.6 ClickHouse spelling
    ):
        out = _rewrite_calls(
            out,
            fn,
            lambda a, s=secs: (
                f"timestamp_seconds((unix_timestamp({a[0]}) DIV {s}) * {s})"
            ),
        )
    out = _rewrite_calls(
        out,
        "positionCaseInsensitive",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    # Spark strings are UTF-8 native and locate() counts characters —
    # the UTF8-suffixed position variants are the plain ones.
    out = _rewrite_calls(
        out, "positionUTF8", lambda a: f"locate({a[1]}, {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "positionCaseInsensitiveUTF8",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    out = _rewrite_calls(out, "base64Encode", lambda a: f"base64({a[0]})")
    out = _rewrite_calls(
        out,
        "base64Decode",
        # unbase64 yields BINARY; ClickHouse returns String
        lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    )
    out = _rewrite_calls(
        out,
        "concatWithSeparator",
        lambda a: f"concat_ws({', '.join(a)})",
    )
    out = _rewrite_calls(
        out,
        "substringIndex",
        lambda a: f"substring_index({', '.join(a)})",
    )
    out = _rewrite_calls(
        out, "toISOWeek", lambda a: f"weekofyear({a[0]})"
    )
    # r13 promotions: default (mode 0) + ISO (mode 3) week numbering;
    # other modes stay loud inside the handlers.
    out = _rewrite_calls(out, "toYearWeek", _to_year_week)
    out = _rewrite_calls(out, "toWeek", _to_week)
    out = _rewrite_calls(
        out,
        "toYYYYMMDD",
        _tz_loud(
            "toYYYYMMDD",
            lambda a: f"CAST(date_format({a[0]}, 'yyyyMMdd') AS INT)",
        ),
    )
    out = _rewrite_calls(
        out,
        "toYYYYMMDDhhmmss",
        _tz_loud(
            "toYYYYMMDDhhmmss",
            lambda a: (
                f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)"
            ),
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayReverseSort",
        # plain form only: descending = reverse of ascending (Spark's
        # array_sort puts NULLs last, reversing puts them first —
        # matching ClickHouse, which sorts NULLs first descending)
        lambda a: f"reverse(array_sort({a[0]}))"
        if len(a) == 1
        else _raise(
            ValueError(
                "ClickHouse arrayReverseSort(func, arr) has no direct "
                "Spark translation — sort on the key with "
                "array_sort(transform(...)) and reverse, or negate "
                "the key"
            )
        ),
    )
    # interval constructors: calendar units via make_interval, clock
    # units via make_dt_interval (both add correctly to timestamps)
    for ch_iv, sp_iv in (
        ("toIntervalYear", "make_interval({x})"),
        ("toIntervalQuarter", "make_interval(0, 3 * ({x}))"),
        ("toIntervalMonth", "make_interval(0, {x})"),
        ("toIntervalWeek", "make_interval(0, 0, {x})"),
        ("toIntervalDay", "make_dt_interval({x})"),
        ("toIntervalHour", "make_dt_interval(0, {x})"),
        ("toIntervalMinute", "make_dt_interval(0, 0, {x})"),
        ("toIntervalSecond", "make_dt_interval(0, 0, 0, {x})"),
    ):
        out = _rewrite_calls(
            out, ch_iv, lambda a, f=sp_iv: f.format(x=a[0])
        )
    out = _rewrite_calls(
        out,
        "replaceRegexpAll",
        # caveat: backreference syntax differs (ClickHouse \\1 vs
        # Spark $1); plain patterns translate exactly
        lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    )
    out = _rewrite_calls(
        out, "replaceAll", lambda a: f"replace({a[0]}, {a[1]}, {a[2]})"
    )
    out = _rewrite_calls(out, "age", _age)
    out = _rewrite_calls(
        out,
        "numbers",
        # the numbers() table function; 1-arg count or 2-arg
        # (offset, count) — Spark's range() TVF with the CH column name.
        # The derived table is left unaliased so a caller-supplied alias
        # (FROM numbers(10) n) still parses; the price is that the
        # qualified form `numbers.number` does not resolve — alias it.
        lambda a: (
            f"(SELECT id AS number FROM range({a[0]}))"
            if len(a) == 1
            else f"(SELECT id AS number FROM range({a[0]}, ({a[0]}) + ({a[1]})))"
        ),
    )
    out = _url_ip_functions(out)
    for ch, sp in _COND_AGGS.items():
        out = _rewrite_calls(
            out,
            ch,
            lambda a, sp=sp: f"{sp}(CASE WHEN {a[1]} THEN {a[0]} END)",
        )
    out = _rewrite_calls(
        out,
        "medianIf",
        lambda a: f"percentile(CASE WHEN {a[1]} THEN {a[0]} END, 0.5)",
    )
    # -Distinct combinator and the countDistinct alias
    out = _rewrite_calls(
        out, "sumDistinct", lambda a: f"sum(DISTINCT {a[0]})"
    )
    out = _rewrite_calls(
        out, "avgDistinct", lambda a: f"avg(DISTINCT {a[0]})"
    )
    out = _rewrite_calls(
        out, "countDistinct", lambda a: f"count(DISTINCT {', '.join(a)})"
    )
    out = _rewrite_curried(
        out,
        "groupArraySorted",
        None,
        fmt="slice(sort_array(collect_list({x})), 1, {p})",
    )
    out = _rewrite_calls(
        out,
        "sumCount",
        lambda a: (
            f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"
        ),
    )
    # quantileExactWeighted(p)(x, w): ClickHouse does NOT interpolate —
    # it sorts the distinct values and returns the FIRST element whose
    # cumulative weight reaches p * total_weight. Spark's
    # percentile(x, p, w) linearly interpolates over the
    # weight-expanded multiset, which diverges at crossing levels
    # ((1,w=1),(2,w=1) at p=0.5 is 1 in ClickHouse, 1.5 under
    # percentile — the round-7 translation's silent divergence).
    # Reproduce the element selection: collect (v, w) pairs (nulls
    # skipped, as CH skips rows with a NULL argument), sort by value,
    # fold to the 1-based index of the first element with
    # running_weight >= p * sum(w) (falling back to the last element,
    # CH's it==end backstop), then element_at(...).v — the result
    # keeps the value column's own type, like ClickHouse. All
    # JVM-side array expressions; the pair list is per-group bounded
    # by the distinct-value count a CH user already accepts for this
    # exact-family aggregate.
    def _qew(p: list[str], x: list[str]) -> str:
        pair = (
            f"IF({x[0]} IS NOT NULL AND {x[1]} IS NOT NULL, "
            f"named_struct('v', {x[0]}, 'w', CAST({x[1]} AS DOUBLE)), "
            f"NULL)"
        )
        sorted_pairs = f"array_sort(collect_list({pair}))"
        zero = (
            f"named_struct('i', CAST(0 AS BIGINT), "
            f"'acc', CAST(0 AS DOUBLE), "
            f"'found', CAST(0 AS BIGINT), "
            f"'thr', CAST({p[0]} AS DOUBLE) * "
            f"sum(IF({x[0]} IS NOT NULL, CAST({x[1]} AS DOUBLE), NULL)))"
        )
        step = (
            "(s, e) -> CASE WHEN s.found > 0 THEN s "
            "WHEN s.acc + e.w >= s.thr THEN named_struct("
            "'i', s.i + 1, 'acc', s.acc + e.w, 'found', s.i + 1, "
            "'thr', s.thr) "
            "ELSE named_struct('i', s.i + 1, 'acc', s.acc + e.w, "
            "'found', CAST(0 AS BIGINT), 'thr', s.thr) END"
        )
        finish = "s -> IF(s.found > 0, s.found, s.i)"
        idx = f"aggregate({sorted_pairs}, {zero}, {step}, {finish})"
        return (
            f"(CASE WHEN size({sorted_pairs}) = 0 THEN NULL "
            f"ELSE element_at({sorted_pairs}, CAST({idx} AS INT)).v "
            f"END)"
        )

    out = _rewrite_curried_fn(out, "quantileExactWeighted", _qew)
    # --- round-13b promotion: the INTERPOLATING half of the exact
    # quantile family. ClickHouse's own documentation defines these by
    # public closed forms, so the translation is value-exact (unlike
    # bare quantileExact -> percentile, a documented divergence):
    # - quantileExactInclusive == Excel PERCENTILE.INC ==
    #   percentile_cont (Hyndman-Fan R7: h = p*(n-1), linear
    #   interpolation) — exactly Spark's percentile().
    # - quantileExactExclusive == Excel PERCENTILE.EXC (Hyndman-Fan
    #   R6: h = p*(n+1), truncate to n, clamp to [1, size], linearly
    #   interpolate a[n-1]..a[n]) — emitted as the closed form over
    #   array_sort(collect_list(..)) (the per-group materialization a
    #   CH user already accepts for this exact-family aggregate;
    #   Catalyst dedups the repeated collect_list aggregate).
    # Value pins: the Microsoft documentation examples
    # (PERCENTILE.INC({1,2,3,4}, 0.3) = 1.9;
    # PERCENTILE.EXC({1,2,3,6,6,6,7,8,9}, 0.25) = 2.5) are asserted
    # in tests/test_chsql.py. NULL arguments are skipped on both
    # engines; an all-NULL group yields NULL here (the sibling
    # translations' convention) where ClickHouse's exact family
    # errors on an empty set. quantileExactLow/High stay loud
    # (_UNSUPPORTED): their element-index convention is not publicly
    # specified as a closed form. Plural single-level forms follow
    # the family convention (quantiles(p)(x) emits the scalar).
    out = _rewrite_curried_fn(
        out, "quantilesExactExclusive", _qs_exact_exclusive
    )
    out = _rewrite_curried_fn(
        out, "quantileExactExclusive", _q_exact_exclusive
    )
    out = _rewrite_curried(out, "quantilesExactInclusive", "percentile")
    out = _rewrite_curried(out, "quantileExactInclusive", "percentile")
    # entropy(x) — Shannon entropy in bits of the group's value
    # distribution: -sum((c/n)*log2(c/n)) = log2(n) - sum(c*log2(c))/n
    # over value run-lengths, computed by a single fold over the
    # SORTED group (equal values are adjacent after array_sort). The
    # rewrite of log2(n)-... keeps n out of the lambda entirely.
    # O(group) per-group materialization vs ClickHouse's O(distinct)
    # hash map — the quantileExactWeighted contract class; DuckDB's
    # own entropy() aggregate (same log2 definition) is the
    # independent value check in pytest. Multi-column tuple
    # distributions stay loud inside the handler.
    out = _rewrite_calls(out, "entropy", _entropy_expr)
    out = _rewrite_curried(
        out,
        "quantilesTiming",
        None,
        fmt="percentile_approx(least({x}, 30000), {p})",
    )
    out = _rewrite_curried(out, "quantilesExact", "percentile")
    out = _rewrite_curried(out, "quantiles", "percentile_approx")
    out = _rewrite_curried(out, "quantileExact", "percentile")
    # approx-to-approx: same precedent as the bare quantile() mapping —
    # both sides are approximate by contract, algorithms differ
    # (t-digest vs Greenwald-Khanna), values track within the
    # families' own error bounds.
    for fn in ("quantileTDigest", "quantileBFloat16"):
        out = _rewrite_curried(out, fn, "percentile_approx")
    # quantileTiming is NOT just approx-to-approx: ClickHouse defines
    # it only on [0, 30000] (web-timing ms) and SATURATES above —
    # values > 30000 are counted as 30000, so its p99 of slow pages is
    # 30000 where an unclamped percentile would report the true tail.
    # Clamp the input to reproduce the saturation; negative input is
    # documented undefined behavior in ClickHouse and passes through.
    out = _rewrite_curried(
        out,
        "quantileTiming",
        None,
        fmt="percentile_approx(least({x}, 30000), {p})",
    )
    # quantileDeterministic(p)(x, det): the determinism tag makes CH's
    # reservoir sampling replay-stable; percentile_approx is already
    # deterministic, so the tag drops (approx-to-approx mapping).
    out = _rewrite_curried_fn(
        out,
        "quantileDeterministic",
        lambda p, x: f"percentile_approx({x[0]}, {p[0]})",
    )
    out = _rewrite_curried(out, "quantile", "percentile_approx")
    # anyHeavy: approximate heavy element; mode() is the exact analog
    # (same contract direction as quantileExact <- quantile).
    out = _rewrite_calls(out, "anyHeavy", lambda a: f"mode({a[0]})")
    # uniqUpTo(k)(x): exact distinct count saturating at k+1 — the
    # LEAST form is an exact translation of ClickHouse's contract.
    out = _rewrite_curried(
        out, "uniqUpTo", None, fmt="least(count(DISTINCT {x}), {p} + 1)"
    )
    # Sequence aggregates: pure aggregate-expression translations (see
    # the handlers' docstrings for the exact ClickHouse semantics each
    # reproduces and the documented divergence caveats).
    if funnel_windowed:
        out = _window_funnel_windowed(out)
    out = _rewrite_curried_fn(out, "windowFunnel", _window_funnel_expr)
    out = _rewrite_curried_fn(
        out,
        "sequenceMatch",
        lambda p, x: _sequence_match_expr(p, x, count=False),
    )
    out = _rewrite_curried_fn(
        out,
        "sequenceCount",
        lambda p, x: _sequence_match_expr(p, x, count=True),
    )
    out = _rewrite_calls(out, "retention", _retention_expr)
    out = _rewrite_calls(out, "median", lambda a: f"percentile({a[0]}, 0.5)")
    for ch, unit in _TRUNC_UNITS.items():
        out = _rewrite_calls(
            out,
            ch,
            _tz_loud(ch, lambda a, u=unit: f"date_trunc('{u}', {a[0]})"),
        )
    out = _rewrite_calls(out, "toStartOfWeek", _to_start_of_week)

    # --- probe-hunt batch 10 -------------------------------------------
    # sub-second truncation: Spark timestamps are micros internally
    out = _rewrite_calls(
        out,
        "toStartOfMillisecond",
        lambda a: (
            f"timestamp_micros((unix_micros({a[0]}) DIV 1000) * 1000)"
        ),
    )
    out = _rewrite_calls(
        out,
        "toStartOfMicrosecond",
        lambda a: f"timestamp_micros(unix_micros({a[0]}))",
    )
    # DateTime64 epoch extractors/constructors at each precision
    out = _rewrite_calls(
        out,
        "toUnixTimestamp64Milli",
        lambda a: f"(unix_micros({a[0]}) DIV 1000)",
    )
    out = _rewrite_calls(
        out, "toUnixTimestamp64Micro", lambda a: f"unix_micros({a[0]})"
    )
    out = _rewrite_calls(
        out,
        "toUnixTimestamp64Nano",
        lambda a: f"(unix_micros({a[0]}) * 1000)",
    )
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Milli", lambda a: f"timestamp_millis({a[0]})"
    )
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Micro", lambda a: f"timestamp_micros({a[0]})"
    )
    out = _rewrite_calls(
        out,
        "fromUnixTimestamp64Nano",
        lambda a: f"timestamp_micros(({a[0]}) DIV 1000)",
    )
    # timeSlots(start, duration[, size=1800]): slot starts from start
    # rounded down to size, stepping size, while <= start + duration
    out = _rewrite_calls(
        out,
        "timeSlots",
        lambda a: (
            f"sequence(timestamp_seconds((unix_timestamp({a[0]})"
            f" DIV ({a[2] if len(a) > 2 else 1800}))"
            f" * ({a[2] if len(a) > 2 else 1800})), "
            f"timestamp_seconds(((unix_timestamp({a[0]}) + ({a[1]}))"
            f" DIV ({a[2] if len(a) > 2 else 1800}))"
            f" * ({a[2] if len(a) > 2 else 1800})), "
            f"make_dt_interval(0, 0, 0, {a[2] if len(a) > 2 else 1800}))"
        ),
    )
    # variadic bit tests: 0/1 like bitTest
    out = _rewrite_calls(
        out,
        "bitTestAll",
        lambda a: (
            "(CASE WHEN "
            + " AND ".join(
                f"(shiftright({a[0]}, {b}) & 1) = 1" for b in a[1:]
            )
            + " THEN 1 ELSE 0 END)"
        ),
    )
    out = _rewrite_calls(
        out,
        "bitTestAny",
        lambda a: (
            "(CASE WHEN "
            + " OR ".join(
                f"(shiftright({a[0]}, {b}) & 1) = 1" for b in a[1:]
            )
            + " THEN 1 ELSE 0 END)"
        ),
    )
    # typed empty-array constructors
    for ch_t, sp_t in (
        ("UInt8", "INT"), ("UInt16", "INT"), ("UInt32", "BIGINT"),
        ("UInt64", "BIGINT"), ("Int8", "INT"), ("Int16", "INT"),
        ("Int32", "INT"), ("Int64", "BIGINT"), ("Float32", "FLOAT"),
        ("Float64", "DOUBLE"), ("String", "STRING"), ("Date", "DATE"),
        ("DateTime", "TIMESTAMP"),
    ):
        out = _rewrite_calls(
            out,
            f"emptyArray{ch_t}",
            lambda a, t=sp_t: f"CAST(array() AS ARRAY<{t}>)",
        )
    out = _rewrite_calls(
        out, "regexpExtract", lambda a: f"regexp_extract({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "isZeroOrNull", lambda a: f"(({a[0]}) IS NULL OR ({a[0]}) = 0)"
    )
    # index-pruning hint: a no-op predicate wrapper in ClickHouse;
    # Spark's pruning comes from the predicate itself
    out = _rewrite_calls(out, "indexHint", lambda a: f"({a[0]})")
    # arrayShingles(a, n): all length-n contiguous windows; empty when
    # n > size (slice-guarded so sequence() never runs backwards)
    out = _rewrite_calls(
        out,
        "arrayShingles",
        lambda a: (
            f"slice(transform(sequence(1, greatest(size({a[0]}) -"
            f" ({a[1]}) + 1, 1)), __sh -> slice({a[0]}, __sh, {a[1]})), "
            f"1, greatest(size({a[0]}) - ({a[1]}) + 1, 0))"
        ),
    )

    # elementwise map arithmetic (Map-typed args; ClickHouse also has a
    # legacy tuple-of-arrays form, which Spark's map_zip_with covers
    # once the data is an actual MAP)
    def _map_arith(op: str, a: list[str]) -> str:
        # zero-valued result keys are KEPT (ClickHouse's documented
        # mapSubtract example returns a 0 entry; only sumMap drops
        # zeros)
        expr = a[0]
        for nxt in a[1:]:
            expr = (
                f"map_zip_with({expr}, {nxt}, "
                f"(__mk, __m1, __m2) -> coalesce(__m1, 0) {op} "
                f"coalesce(__m2, 0))"
            )
        return expr

    out = _rewrite_calls(out, "mapAdd", lambda a: _map_arith("+", a))
    out = _rewrite_calls(out, "mapSubtract", lambda a: _map_arith("-", a))
    # strict cast: ClickHouse raises on overflow; Spark's behavior
    # follows spark.sql.ansi.enabled (documented best-effort mapping)
    out = _rewrite_calls(out, "accurateCast", _accurate_cast_strict)
    out = _rewrite_calls(
        out,
        "toYYYYMM",
        _tz_loud("toYYYYMM", lambda a: f"date_format({a[0]}, 'yyyyMM')"),
    )
    out = _rewrite_calls(
        out,
        "toDateTime",
        _tz_loud("toDateTime", lambda a: f"CAST({a[0]} AS TIMESTAMP)"),
    )
    out = _rewrite_calls(
        out, "toDate", _tz_loud("toDate", lambda a: f"CAST({a[0]} AS DATE)")
    )
    for ch, sp in _INT_CASTS.items():
        out = _rewrite_calls(
            out,
            ch,
            # toString(ts, 'tz') renders in an explicit timezone —
            # silently dropping the argument would shift the value
            # (r13 probe find); the numeric casts have no 2-arg form.
            lambda a, t=sp, f=ch: f"CAST({a[0]} AS {t})"
            if len(a) == 1
            else _raise(
                ValueError(
                    f"ClickHouse {f} with {len(a)} arguments has no "
                    "Spark translation — the timezone-rendering form "
                    "needs convert_timezone()/date_format spelled "
                    "deliberately"
                )
            ),
        )
    out = _rewrite_calls(
        out,
        "now",
        # now(tz) renders the clock in an explicit server timezone —
        # Spark timestamps carry no zone, so dropping the argument
        # would silently shift the rendered value (r13 probe find).
        lambda a: "current_timestamp()"
        if not a
        else _raise(
            ValueError(
                "ClickHouse now(timezone) has no Spark translation — "
                "Spark session time is zoneless; use now() and "
                "convert_timezone()/from_utc_timestamp deliberately"
            )
        ),
    )
    out = _rewrite_calls(out, "today", lambda a: "current_date()")
    out = _rewrite_calls(out, "notEmpty", lambda a: f"(length({a[0]}) > 0)")
    out = _rewrite_calls(out, "empty", lambda a: f"(length({a[0]}) = 0)")
    for ch, sp in _DATE_PARTS.items():
        out = _rewrite_calls(
            out, ch, _tz_loud(ch, lambda a, s=sp: f"{s}({a[0]})")
        )
    out = _rewrite_calls(
        out,
        "toDayOfWeek",
        # ClickHouse (ISO, default mode 0): Monday=1..Sunday=7; Spark
        # dayofweek: Sunday=1..Saturday=7. Spark's weekday() is
        # Monday=0, so weekday()+1 is the exact ISO convention; the
        # bare dayofweek mapping was a silent off-by-one on 6 of 7
        # days. Non-default modes renumber the week — loud.
        lambda a: (
            f"(weekday({a[0]}) + 1)"
            if len(a) == 1 or (len(a) == 2 and a[1].strip() == "0")
            else _raise(
                ValueError(
                    "ClickHouse toDayOfWeek(ts, mode[, tz]) has no "
                    "Spark translation for mode != 0 or an explicit "
                    "timezone — rewrite with weekday()/dayofweek() "
                    "arithmetic (convert_timezone() first for the tz)"
                )
            )
        ),
    )
    out = _rewrite_calls(out, "multiIf", _multi_if)
    out = _rewrite_calls(out, "match", lambda a: f"({a[0]} RLIKE {a[1]})")
    out = _rewrite_calls(out, "extract", _extract_one)
    out = _rewrite_calls(out, "has", lambda a: f"array_contains({a[0]}, {a[1]})")
    out = _rewrite_calls(
        out,
        "splitByChar",
        # \Q...\E-quote the separator so regex metachars ('.', '|')
        # split literally, matching ClickHouse's char semantics.
        lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
    )
    # NOTE: ifNull/assumeNotNull are handled once, later, in the scalar
    # tail — the assumeNotNull handler there parenthesizes its argument
    # (an earlier unparenthesized duplicate here turned
    # 'assumeNotNull(a + b) * 2' into 'a + b * 2').
    # Vector distance family — the same left-to-right double folds as
    # operators.similarity's _dot/_norm (exact, order-fixed).
    _d0 = "CAST(0 AS DOUBLE)"
    out = _rewrite_calls(
        out,
        "cosineDistance",
        lambda a: (
            f"(1.0 - aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__vx, __vy) -> CAST(__vx AS DOUBLE) * __vy), {_d0}, "
            f"(__vs, __vv) -> __vs + __vv) / "
            f"(sqrt(aggregate({a[0]}, {_d0}, "
            f"(__vs, __vv) -> __vs + CAST(__vv AS DOUBLE) * __vv)) * "
            f"sqrt(aggregate({a[1]}, {_d0}, "
            f"(__vs, __vv) -> __vs + CAST(__vv AS DOUBLE) * __vv))))"
        ),
    )
    for fn in ("dotProduct", "arrayDotProduct"):
        out = _rewrite_calls(
            out,
            fn,
            lambda a: (
                f"aggregate(zip_with({a[0]}, {a[1]}, "
                f"(__vx, __vy) -> CAST(__vx AS DOUBLE) * __vy), {_d0}, "
                f"(__vs, __vv) -> __vs + __vv)"
            ),
        )
    out = _rewrite_calls(
        out,
        "L2Distance",
        lambda a: (
            f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__vx, __vy) -> (CAST(__vx AS DOUBLE) - __vy) * "
            f"(CAST(__vx AS DOUBLE) - __vy)), {_d0}, "
            f"(__vs, __vv) -> __vs + __vv))"
        ),
    )
    out = _rewrite_calls(
        out,
        "L2SquaredDistance",
        # the L2 fold without the sqrt
        lambda a: (
            f"aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__vx, __vy) -> (CAST(__vx AS DOUBLE) - __vy) * "
            f"(CAST(__vx AS DOUBLE) - __vy)), {_d0}, "
            f"(__vs, __vv) -> __vs + __vv)"
        ),
    )
    out = _rewrite_calls(
        out,
        "L1Distance",
        lambda a: (
            f"aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__vx, __vy) -> abs(CAST(__vx AS DOUBLE) - __vy)), "
            f"{_d0}, (__vs, __vv) -> __vs + __vv)"
        ),
    )
    out = _rewrite_calls(
        out,
        "LinfDistance",
        lambda a: (
            f"array_max(zip_with({a[0]}, {a[1]}, "
            f"(__vx, __vy) -> abs(CAST(__vx AS DOUBLE) - __vy)))"
        ),
    )
    out = _rewrite_calls(
        out,
        "L2Norm",
        lambda a: (
            f"sqrt(aggregate({a[0]}, {_d0}, "
            f"(__vs, __vv) -> __vs + CAST(__vv AS DOUBLE) * __vv))"
        ),
    )
    for fn in ("editDistance", "levenshteinDistance"):
        out = _rewrite_calls(
            out, fn, lambda a: f"levenshtein({a[0]}, {a[1]})"
        )
    out = _rewrite_calls(
        out,
        "hasToken",
        # token-boundary containment: CH tokens are alphanumeric runs,
        # so a literal alphanumeric needle embeds in a boundary regex
        # verbatim (\b would wrongly treat '_' as a token character)
        # Caveat: ClickHouse tokenizes on non-alphanumeric ASCII
        # BYTES, so non-ASCII haystack characters are token characters
        # there but match [^0-9A-Za-z] here — divergent only when
        # non-ASCII text directly abuts the needle. Needles must be
        # ASCII alphanumeric (ClickHouse itself rejects separators
        # inside the needle; a Unicode needle would make the ASCII
        # boundary classes wrong).
        lambda a: (
            f"regexp_like({a[0]}, '(^|[^0-9A-Za-z])"
            f"{a[1][1:-1]}([^0-9A-Za-z]|$)')"
            if a[1].startswith("'")
            and a[1].endswith("'")
            and a[1][1:-1].isascii()
            and a[1][1:-1].isalnum()
            else _raise(
                ValueError(
                    "ClickHouse hasToken needs a constant ASCII "
                    "alphanumeric token (ClickHouse itself rejects "
                    "separators inside the needle) — use "
                    "position()/contains for plain substring search"
                )
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "mapContains",
        lambda a: f"map_contains_key({a[0]}, {a[1]})",
    )
    out = _rewrite_calls(
        out, "mapFilter", lambda a: f"map_filter({a[1]}, {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "mapUpdate",
        # m2 overrides m1 on key collisions; Spark's map_concat errors
        # on duplicates, so drop m1's shadowed keys first
        lambda a: (
            f"map_concat(map_filter({a[0]}, (__mk, __mv) -> "
            f"NOT map_contains_key({a[1]}, __mk)), {a[1]})"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayPartialSort",
        # CH sorts the first n and leaves the tail in UNSPECIFIED
        # order — a fully sorted array is a valid refinement. Only the
        # (limit, arr) form translates; the keyed lambda form needs
        # the arrayReverseSort treatment (sort a transformed key).
        lambda a: f"array_sort({a[1]})"
        if len(a) == 2
        else _raise(
            ValueError(
                "ClickHouse arrayPartialSort(func, limit, arr) has no "
                "direct Spark translation — sort on the key with "
                "array_sort(transform(...)) or negate the key"
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayShuffle",
        # the seeded form is deterministic in ClickHouse; Spark's
        # shuffle() takes no seed, so translating it would silently
        # lose replayability
        lambda a: f"shuffle({a[0]})"
        if len(a) == 1
        else _raise(
            ValueError(
                "ClickHouse arrayShuffle(arr, seed) has no Spark "
                "translation — shuffle() is unseeded; for a "
                "deterministic permutation sort by a keyed hash "
                "(array_sort over sha2(concat(seed, element)))"
            )
        ),
    )
    for fn, flip in (("arrayRotateLeft", False), ("arrayRotateRight", True)):
        out = _rewrite_calls(
            out,
            fn,
            lambda a, flip=flip: (
                lambda arr, n: (
                    f"IF(size({arr}) = 0, {arr}, concat("
                    f"slice({arr}, pmod({n}, size({arr})) + 1, "
                    f"size({arr}) - pmod({n}, size({arr}))), "
                    f"slice({arr}, 1, pmod({n}, size({arr})))))"
                )
            )(a[0], f"(-({a[1]}))" if flip else f"({a[1]})"),
        )
    out = _rewrite_calls(
        out,
        "arrayResize",
        # negative n resizes from the LEFT in ClickHouse (truncate the
        # front / pad at the front) — both signs handled so a runtime
        # negative cannot hit slice's length-must-be-positive error
        lambda a: (
            (
                f"IF(({a[1]}) >= 0, "
                f"IF(({a[1]}) <= size({a[0]}), "
                f"slice({a[0]}, 1, {a[1]}), "
                f"concat({a[0]}, array_repeat({a[2]}, "
                f"({a[1]}) - size({a[0]})))), "
                f"IF(-({a[1]}) <= size({a[0]}), "
                f"slice({a[0]}, size({a[0]}) + ({a[1]}) + 1, -({a[1]})), "
                f"concat(array_repeat({a[2]}, "
                f"-({a[1]}) - size({a[0]})), {a[0]})))"
            )
            if len(a) == 3
            else _raise(
                ValueError(
                    "ClickHouse arrayResize(arr, n) pads with the "
                    "element type's default, which a textual rewrite "
                    "cannot know — pass the 3-arg form with an "
                    "explicit fill value"
                )
            )
        ),
    )
    out = _rewrite_calls(
        out, "monthName", lambda a: f"date_format({a[0]}, 'MMMM')"
    )
    out = _rewrite_calls(
        out,
        "dateName",
        # the optional 3rd timezone arg shifts which month/day the
        # instant falls in — dropping it would be a silent divergence
        lambda a: (
            f"date_format({a[1]}, 'MMMM')"
            if len(a) == 2 and a[0].strip().lower() == "'month'"
            else f"date_format({a[1]}, 'EEEE')"
            if len(a) == 2 and a[0].strip().lower() == "'weekday'"
            else _raise(
                ValueError(
                    "ClickHouse dateName translates only the 2-arg "
                    "'month'/'weekday' forms — numeric parts have "
                    "direct extractors (toYear/toHour/...), and the "
                    "timezone form needs convert_timezone() first"
                )
            )
        ),
    )
    out = _rewrite_calls(out, "now64", lambda a: "current_timestamp()")
    out = _rewrite_calls(
        out, "nowInBlock", lambda a: "current_timestamp()"
    )
    out = _rewrite_calls(
        out,
        "timeDiff",
        lambda a: f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))",
    )
    out = _rewrite_calls(
        out,
        "JSONExtractKeys",
        lambda a: f"json_object_keys({a[0]})"
        if len(a) == 1
        else _raise(
            ValueError(
                "ClickHouse JSONExtractKeys with a path has no Spark "
                "translation — json_object_keys reads the top level; "
                "extract the sub-object with JSONExtractRaw first"
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "JSONLength",
        lambda a: (
            f"coalesce(json_array_length({a[0]}), "
            f"size(json_object_keys({a[0]})))"
            if len(a) == 1
            else _raise(
                ValueError(
                    "ClickHouse JSONLength with a path has no Spark "
                    "translation — extract the sub-document with "
                    "JSONExtractRaw first"
                )
            )
        ),
    )
    # NOTE: encodeURLComponent/decodeURLComponent are handled once in
    # the URL family above (exact RFC 3986 forms) — a later duplicate
    # here would be dead code, the assumeNotNull lesson.
    out = _rewrite_calls(out, "lengthUTF8", lambda a: f"char_length({a[0]})")
    # Spark strings are UTF-8 native; the UTF8-suffixed case functions
    # are the plain ones.
    out = _rewrite_calls(out, "lowerUTF8", lambda a: f"lower({a[0]})")
    out = _rewrite_calls(out, "upperUTF8", lambda a: f"upper({a[0]})")
    # ClickHouse rand() is a UInt32 in [0, 2^32); Spark's rand() is a
    # double in [0, 1) — map the range so modulo-bucketing idioms
    # (rand() % N) keep their distribution. Both are nondeterministic.
    out = _rewrite_calls(
        out,
        "rand",
        lambda a: "CAST(floor(rand() * 4294967296) AS BIGINT)"
        if not a
        else _raise(
            ValueError(
                "ClickHouse rand(seed-ish arg) has no Spark "
                "translation — per-call seeding differs; use rand() "
                "or a deterministic sha2-prefix hash "
                "(operators.sampling.hash_bucket) for replayable "
                "sampling"
            )
        ),
        skip_if_suffix=" * 4294967296",
    )
    # tuple(a, b) -> positional struct; tupleElement(t, N) / .name —
    # CH numbers tuple fields from 1, so the two compose round-trip.
    out = _rewrite_calls(
        out,
        "tuple",
        lambda a: "named_struct("
        + ", ".join(f"'_{i + 1}', {x}" for i, x in enumerate(a))
        + ")",
    )
    out = _rewrite_calls(
        out,
        "tupleElement",
        lambda a: (
            f"({a[0]})._{a[1].strip()}"
            if a[1].strip().isdigit()
            else f"({a[0]}).{a[1].strip().strip(chr(39))}"
        ),
    )
    out = _rewrite_calls(
        out,
        "position",
        # ClickHouse position(haystack, needle) -> locate(needle,
        # haystack). Emitting locate (not a re-ordered position) keeps
        # translate idempotent: position's arg roles are reversed
        # between the dialects and indistinguishable textually, so a
        # second pass over a swapped position() would swap it back.
        # Standard SQL POSITION(a IN b) has one comma-free arg and
        # passes through.
        lambda a: (
            f"locate({a[1]}, {a[0]})"
            if len(a) == 2
            # 3-arg form: the start_pos rides along (both dialects'
            # start is a 1-based char index) — the raw passthrough
            # would hit Spark's REVERSED (needle, haystack, pos)
            # roles, the r13 probe's silent-swap find.
            else f"locate({a[1]}, {a[0]}, {a[2]})"
            if len(a) == 3
            else f"position({', '.join(a)})"
        ),
    )
    out = _rewrite_calls(
        out, "startsWith", lambda a: f"startswith({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "endsWith", lambda a: f"endswith({a[0]}, {a[1]})"
    )
    # replaceAll is handled once earlier (next to replaceRegexpAll) —
    # a duplicate here was dead code (the duplicate-handler lint now
    # guards this class).
    for ch, cast_to in (
        ("JSONExtractString", None),
        ("JSONExtractRaw", None),
        ("JSONExtractInt", "BIGINT"),
        ("JSONExtractFloat", "DOUBLE"),
        ("JSONExtractBool", "BOOLEAN"),
        # visitParam* is the legacy simdjson-era spelling of the same
        # extraction family (visitParamExtractRaw == JSONExtractRaw on
        # flat keys — the only shape the literal-key rewrite accepts)
        ("visitParamExtractString", None),
        ("visitParamExtractRaw", None),
        ("visitParamExtractInt", "BIGINT"),
        ("visitParamExtractFloat", "DOUBLE"),
        ("visitParamExtractBool", "BOOLEAN"),
        # simpleJSON* is the modern spelling of the visitParam family
        ("simpleJSONExtractString", None),
        ("simpleJSONExtractRaw", None),
        ("simpleJSONExtractInt", "BIGINT"),
        ("simpleJSONExtractFloat", "DOUBLE"),
        ("simpleJSONExtractBool", "BOOLEAN"),
        # JSONExtractUInt: same extraction, unsigned range fits BIGINT
        ("JSONExtractUInt", "BIGINT"),
    ):
        out = _rewrite_calls(
            out, ch, lambda a, t=cast_to, n=ch: _json_extract(n, a, t)
        )
    for ch in ("visitParamHas", "simpleJSONHas", "JSONHas"):
        out = _rewrite_calls(
            out,
            ch,
            # key PRESENCE, not value non-nullness: get_json_object
            # returns NULL for a present-but-null value where ClickHouse
            # returns 1, so test membership in the top-level key set.
            # JSONHas's nested-path (3+-arg) form is loud.
            lambda a, n=ch: (
                f"array_contains(json_object_keys({a[0]}), {a[1]})"
                if len(a) == 2
                else _raise(
                    ValueError(
                        f"{n} with a nested path has no Spark "
                        "translation — test "
                        "get_json_object(j, '$.a.b') IS NOT NULL "
                        "(NULL-valued keys read as absent there)"
                    )
                )
            ),
        )
    out = _rewrite_calls(out, "toJSONString", lambda a: f"to_json({a[0]})")
    out = _rewrite_calls(
        out,
        "isValidJSON",
        # get_json_object returns NULL only on malformed input (the
        # JSON literal null round-trips as the string 'null')
        lambda a: f"(get_json_object({a[0]}, '$') IS NOT NULL)",
    )
    out = _rewrite_calls(
        out,
        "arraySymmetricDifference",
        lambda a: (
            f"array_except(array_union({_as_array_expr(a[0])}, "
            f"{_as_array_expr(a[1])}), "
            f"array_intersect({_as_array_expr(a[0])}, "
            f"{_as_array_expr(a[1])}))"
        ),
    )
    out = _rewrite_calls(
        out,
        "toStartOfQuarter",
        _tz_loud(
            "toStartOfQuarter", lambda a: f"date_trunc('quarter', {a[0]})"
        ),
    )
    out = _rewrite_calls(
        out, "toQuarter", _tz_loud("toQuarter", lambda a: f"quarter({a[0]})")
    )
    out = _rewrite_calls(out, "toDayOfYear", lambda a: f"dayofyear({a[0]})")
    out = _rewrite_calls(
        out,
        "toUnixTimestamp",
        # the 2-arg form parses/interprets in an explicit timezone —
        # dropping it silently shifts string-input epochs (r13 probe)
        _tz_loud("toUnixTimestamp", lambda a: f"unix_timestamp({a[0]})"),
    )
    out = _rewrite_calls(
        out,
        "fromUnixTimestamp",
        # timestamp_seconds keeps the DateTime type (from_unixtime
        # would return a formatted string).
        lambda a: f"timestamp_seconds({a[0]})",
    )
    out = _rewrite_calls(
        out,
        "intDiv",
        # ClickHouse intDiv accepts floats; Spark's DIV needs integral
        # operands. Casting first is faithful: trunc(a) DIV b equals
        # the truncated quotient of a/b for any integral divisor.
        lambda a: f"(CAST({a[0]} AS BIGINT) DIV CAST({a[1]} AS BIGINT))",
    )
    out = _rewrite_calls(out, "modulo", lambda a: f"({a[0]} % {a[1]})")
    # zero-divisor-tolerant variants (ClickHouse returns 0, not an
    # error or NULL)
    out = _rewrite_calls(
        out,
        "intDivOrZero",
        lambda a: (
            f"(CASE WHEN CAST({a[1]} AS BIGINT) = 0 THEN 0 ELSE "
            f"CAST({a[0]} AS BIGINT) DIV CAST({a[1]} AS BIGINT) END)"
        ),
    )
    out = _rewrite_calls(
        out,
        "moduloOrZero",
        lambda a: f"(CASE WHEN {a[1]} = 0 THEN 0 ELSE {a[0]} % {a[1]} END)",
    )
    out = _rewrite_calls(out, "ifNull", lambda a: f"coalesce({a[0]}, {a[1]})")
    # assumeNotNull/toNullable are type-level assertions in ClickHouse;
    # Spark columns are nullable by default, so both are identities.
    out = _rewrite_calls(out, "assumeNotNull", lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "toNullable", lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "bitCount", lambda a: f"bit_count({a[0]})")
    out = _rewrite_calls(out, "isNotNull", lambda a: f"({a[0]} IS NOT NULL)")
    out = _rewrite_calls(out, "isNull", lambda a: f"({a[0]} IS NULL)")
    out = _rewrite_calls(
        out, "arrayElement", lambda a: f"element_at({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "indexOf", lambda a: f"array_position({a[0]}, {a[1]})"
    )
    # Higher-order functions: ClickHouse puts the lambda FIRST, Spark
    # puts the array first; `x -> expr` lambda syntax is shared.
    # The MULTI-ARRAY forms (arrayMap(lambda, a1, a2)) must NOT fall
    # through to the 1-array emission: Spark's 2-param transform/filter
    # lambda binds the second parameter to the element INDEX, so the
    # old emission silently evaluated `y` as 0,1,2,... and dropped the
    # second array entirely — the 2-array forms now go through
    # zip_with; 3+ arrays are loud.
    out = _rewrite_calls(
        out,
        "arrayMap",
        lambda a: f"transform({a[1]}, {a[0]})"
        if len(a) == 2
        else f"zip_with({a[1]}, {a[2]}, {a[0]})"
        if len(a) == 3
        else _hof_too_many("arrayMap"),
    )
    out = _rewrite_calls(
        out,
        "arrayFilter",
        lambda a: f"filter({a[1]}, {a[0]})"
        if len(a) == 2
        else _filter_two_arrays(a)
        if len(a) == 3
        else _hof_too_many("arrayFilter"),
    )
    out = _rewrite_calls(
        out,
        "arrayExists",
        lambda a: f"exists({a[1]}, {a[0]})"
        if len(a) == 2
        else f"exists(zip_with({a[1]}, {a[2]}, {a[0]}), __he -> __he)"
        if len(a) == 3
        else _hof_too_many("arrayExists"),
    )
    out = _rewrite_calls(
        out,
        "arrayAll",
        lambda a: f"forall({a[1]}, {a[0]})"
        if len(a) == 2
        else f"forall(zip_with({a[1]}, {a[2]}, {a[0]}), __ha -> __ha)"
        if len(a) == 3
        else _hof_too_many("arrayAll"),
    )
    out = _rewrite_calls(
        out,
        "arrayCount",
        # 1-arg form: ClickHouse counts the TRUTHY elements (non-zero,
        # non-NULL — a NULL comparison result drops out of filter).
        lambda a: f"size(filter({a[0]}, __ac -> __ac != 0))"
        if len(a) == 1
        else f"size(filter({a[1]}, {a[0]}))"
        if len(a) == 2
        else (
            f"size(filter(zip_with({a[1]}, {a[2]}, {a[0]}), "
            f"__hc -> __hc))"
        )
        if len(a) == 3
        else _hof_too_many("arrayCount"),
    )
    out = _rewrite_calls(
        out,
        "arrayFirst",
        # caveat: no match is NULL here; ClickHouse returns the element
        # type's default (0/'')
        lambda a: f"element_at(filter({a[1]}, {a[0]}), 1)"
        if len(a) == 2
        else f"element_at({_filter_two_arrays(a)}, 1)"
        if len(a) == 3
        else _hof_too_many("arrayFirst"),
    )
    out = _rewrite_calls(
        out,
        "arrayLast",
        lambda a: f"element_at(filter({a[1]}, {a[0]}), -1)"
        if len(a) == 2
        else f"element_at({_filter_two_arrays(a)}, -1)"
        if len(a) == 3
        else _hof_too_many("arrayLast"),
    )
    out = _rewrite_calls(
        out,
        "arrayFirstIndex",
        # 1-based index of the first match, 0 when none — CH's contract
        lambda a: (
            f"coalesce(CAST(array_position(transform({a[1]}, {a[0]}),"
            f" true) AS BIGINT), CAST(0 AS BIGINT))"
        )
        if len(a) == 2
        else (
            f"coalesce(CAST(array_position(zip_with({a[1]}, {a[2]}, "
            f"{a[0]}), true) AS BIGINT), CAST(0 AS BIGINT))"
        )
        if len(a) == 3
        else _hof_too_many("arrayFirstIndex"),
    )
    out = _rewrite_calls(
        out,
        "arraySum",
        # caveat: accumulates in DOUBLE (CH keeps integer sums integer);
        # values match, the column type widens
        lambda a: (
            f"aggregate({_fold_arg('arraySum', a)}, CAST(0 AS DOUBLE),"
            f" (acc, e) -> acc + e)"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayAvg",
        # caveat: empty array is NULL here; ClickHouse returns NaN.
        # The divisor uses the SAME _fold_arg source so the 2-arg
        # lambda form divides by the array size, not size(<lambda>).
        lambda a: (
            f"(aggregate({_fold_arg('arrayAvg', a)}, CAST(0 AS DOUBLE),"
            f" (acc, e) -> acc + e) / size({_fold_arg('arrayAvg', a)}))"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayProduct",
        lambda a: (
            f"aggregate({_fold_arg('arrayProduct', a)}, CAST(1 AS DOUBLE),"
            f" (acc, e) -> acc * e)"
        ),
    )
    out = _rewrite_calls(
        out, "arrayMin", lambda a: f"array_min({_fold_arg('arrayMin', a)})"
    )
    out = _rewrite_calls(
        out, "arrayMax", lambda a: f"array_max({_fold_arg('arrayMax', a)})"
    )
    out = _rewrite_calls(
        out,
        "arrayConcat",
        lambda a: f"concat({', '.join(a)})",
    )
    out = _rewrite_calls(
        out,
        "arrayIntersect",
        lambda a: _nest_binary("array_intersect", a),
    )
    out = _rewrite_calls(out, "mapKeys", lambda a: f"map_keys({a[0]})")
    out = _rewrite_calls(out, "mapValues", lambda a: f"map_values({a[0]})")
    out = _rewrite_calls(
        out,
        "arrayStringConcat",
        lambda a: f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})",
    )
    out = _rewrite_calls(out, "arraySort", lambda a: f"sort_array({a[0]})")
    out = _rewrite_calls(out, "arrayReverse", lambda a: f"reverse({a[0]})")
    out = _rewrite_calls(
        out, "arrayDistinct", lambda a: f"array_distinct({a[0]})"
    )
    out = _rewrite_calls(
        out, "arrayUniq", lambda a: f"size(array_distinct({a[0]}))"
    )
    out = _rewrite_calls(
        out, "arraySlice", lambda a: f"slice({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "leftPad", lambda a: f"lpad({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "rightPad", lambda a: f"rpad({', '.join(a)})"
    )
    # The UTF8 pad variants map to the SAME lpad/rpad: Spark strings
    # are character-addressed already (it is the byte-addressed plain
    # CH variant that is the approximation, on non-ASCII fill).
    out = _rewrite_calls(
        out, "leftPadUTF8", lambda a: f"lpad({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "rightPadUTF8", lambda a: f"rpad({', '.join(a)})"
    )
    out = _rewrite_calls(out, "trimBoth", lambda a: f"trim({a[0]})")
    out = _rewrite_calls(
        out, "substringUTF8", lambda a: f"substring({', '.join(a)})"
    )
    out = _rewrite_calls(out, "formatDateTime", _format_datetime)
    for ch, secs in (
        ("toStartOfFiveMinutes", 300),
        ("toStartOfTenMinutes", 600),
        ("toStartOfFifteenMinutes", 900),
    ):
        out = _rewrite_calls(
            out,
            ch,
            lambda a, sc=secs: (
                f"timestamp_seconds((unix_timestamp({a[0]}) DIV {sc})"
                f" * {sc})"
            ),
        )
    out = _rewrite_calls(out, "dateDiff", _date_diff)
    out = _rewrite_calls(out, "toStartOfInterval", _to_start_of_interval)
    for ch, unit in _ADD_UNITS.items():
        out = _rewrite_calls(
            out, ch, lambda a, u=unit: f"timestampadd({u}, {a[1]}, {a[0]})"
        )
    for ch, unit in _SUB_UNITS.items():
        out = _rewrite_calls(
            out,
            ch,
            lambda a, u=unit: f"timestampadd({u}, -({a[1]}), {a[0]})",
        )
    out = _rewrite_calls(
        out, "yesterday", lambda a: "(current_date() - 1)"
    )

    # ClickHouse's generic date arithmetic comes in TWO shapes: the
    # 2-arg interval form (dateAdd(ts, INTERVAL 3 DAY) — Spark has no
    # such overload, but plain +/- interval arithmetic is identical)
    # and the 3-arg unit form (dateAdd(DAY, 3, ts) — already native
    # Spark dateadd/timestampadd; dateSub/timestampSub have NO Spark
    # spelling and need the negated timestampadd).
    def _date_arith(op: str, a: list[str]) -> str:
        if len(a) == 2:
            return f"(({a[0]}) {op} ({a[1]}))"
        if op == "+":
            return f"timestampadd({a[0]}, {a[1]}, {a[2]})"
        return f"timestampadd({a[0]}, -({a[1]}), {a[2]})"

    for ch, sign in (
        ("dateAdd", "+"),
        ("date_add", "+"),
        ("addDate", "+"),
        ("timestampAdd", "+"),
        ("timestamp_add", "+"),
        ("dateSub", "-"),
        ("date_sub", "-"),
        ("subDate", "-"),
        ("timestampSub", "-"),
        ("timestamp_sub", "-"),
    ):
        out = _rewrite_calls(
            out, ch, lambda a, s=sign: _date_arith(s, a)
        )

    # ClickHouse DateTime -> time-of-day anchored on 1970-01-02 (the
    # documented toTime contract; the date part is fixed by design)
    out = _rewrite_calls(
        out,
        "toTime",
        lambda a: (
            f"CAST(concat('1970-01-02 ', date_format({a[0]},"
            f" 'HH:mm:ss')) AS TIMESTAMP)"
        ),
    )

    # Variadic logical-function forms. The NAMES collide with SQL
    # keywords: "x AND (y)" matches the same text as a call, and the
    # argument count alone cannot disambiguate — "x AND (a, b) IN
    # (...)" is a keyword followed by a TUPLE. The decisive test is
    # what PRECEDES the name: a binary keyword needs a left operand
    # (identifier / literal / closing paren), while a function call
    # sits where an expression STARTS (after '(', ',', an operator,
    # or a clause keyword). Only provable function calls rewrite; xor
    # has no keyword form (and no Spark builtin): fold as boolean
    # inequality (NULL-propagating, matching ClickHouse).
    out = _rewrite_logic_fn(out, "and", "AND")
    out = _rewrite_logic_fn(out, "or", "OR")

    def _xor_chain(a: list[str]) -> str:
        if not a:
            raise ValueError(
                "ClickHouse xor() with zero arguments has no defined "
                "value — pass at least one argument"
            )
        if len(a) == 1:
            # identity on a single argument, like and(x)/or(x)
            return f"({a[0]})"
        expr = f"({a[0]})"
        for x in a[1:]:
            expr = f"(CAST({expr} AS BOOLEAN) <> CAST(({x}) AS BOOLEAN))"
        return expr

    out = _rewrite_calls(out, "xor", _xor_chain)
    out = _rewrite_calls(out, "trimLeft", lambda a: f"ltrim({a[0]})")
    out = _rewrite_calls(out, "trimRight", lambda a: f"rtrim({a[0]})")
    # runs of whitespace as separators; no empty pieces (CH contract)
    out = _rewrite_calls(
        out,
        "splitByWhitespace",
        lambda a: (
            f"filter(split({a[0]}, '\\\\s+'), __sw -> __sw != '')"
        ),
    )
    # character n-grams, slice-guarded like arrayShingles so n >
    # length yields [] (Spark's sequence would run backwards)
    out = _rewrite_calls(
        out,
        "ngrams",
        lambda a: (
            f"slice(transform(sequence(1, greatest(char_length({a[0]})"
            f" - ({a[1]}) + 1, 1)), __ng -> substring({a[0]}, __ng,"
            f" {a[1]})), 1, greatest(char_length({a[0]}) - ({a[1]})"
            f" + 1, 0))"
        ),
    )
    # Spark's initcap is character-addressed already (the UTF8 alias
    # maps to the same builtin, like the pad family)
    out = _rewrite_calls(out, "initcapUTF8", lambda a: f"initcap({a[0]})")
    out = _rewrite_calls(
        out,
        "countSubstrings",
        lambda a: (
            f"((length({a[0]}) - length(replace({a[0]}, {a[1]}, '')))"
            f" DIV length({a[1]}))"
        ),
    )
    for ch, op in _BIT_OPS.items():
        out = _rewrite_calls(
            out, ch, lambda a, o=op: f"(({a[0]}) {o} ({a[1]}))"
        )
    for ch, fn in _BIT_SHIFTS.items():
        out = _rewrite_calls(
            out, ch, lambda a, f=fn: f"{f}({a[0]}, {a[1]})"
        )
    out = _rewrite_calls(out, "bitNot", lambda a: f"(~({a[0]}))")
    out = _rewrite_calls(out, "arrayReduce", _array_reduce)
    for ch, sp in _MOMENT_AGGS.items():
        out = _rewrite_calls(
            out, ch, lambda a, s=sp: f"{s}({', '.join(a)})"
        )
    out = _rewrite_calls(out, "medianExact", lambda a: f"percentile({a[0]}, 0.5)")
    # -Array combinators: aggregate over every element of every row's
    # array. sum/avg flatten via an explicit fold; min/max compose the
    # per-row array extreme with the row aggregate.
    out = _rewrite_calls(
        out,
        "sumArray",
        lambda a: (
            f"sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
            f"(__sa_s, __sa_x) -> __sa_s + __sa_x))"
        ),
    )
    out = _rewrite_calls(
        out,
        "avgArray",
        lambda a: (
            f"(sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
            f"(__sa_s, __sa_x) -> __sa_s + __sa_x)) / sum(size({a[0]})))"
        ),
    )
    out = _rewrite_calls(out, "minArray", lambda a: f"min(array_min({a[0]}))")
    out = _rewrite_calls(out, "maxArray", lambda a: f"max(array_max({a[0]}))")
    out = _rewrite_calls(out, "countArray", lambda a: f"sum(size({a[0]}))")

    # --- round-7 probe-hunt batch 4 (multi-pattern search, skew/kurt
    # family, relative-time nums, misc scalars) ------------------------
    # multiMatchAny: regex alternatives (hyperscan semantics = "any
    # pattern matches"); the CaseInsensitive variant prefixes (?i).
    # ClickHouse [..] pattern-array literals become Spark array(..)
    # (column-valued arrays pass through untouched, like
    # multiSearchAny's plain form at chsql.py:_multi_search_any).
    out = _rewrite_calls(
        out,
        "multiMatchAnyCaseInsensitive",
        lambda a: (
            f"exists({_as_array_expr(a[1])}, "
            f"__mm -> ({a[0]}) RLIKE concat('(?i)', __mm))"
        ),
    )
    out = _rewrite_calls(
        out,
        "multiMatchAny",
        lambda a: (
            f"exists({_as_array_expr(a[1])}, __mm -> ({a[0]}) RLIKE __mm)"
        ),
    )
    # multiSearchAny's plain form is handled earlier; only the
    # CaseInsensitive variant is new here (SUBSTRING, not regex).
    out = _rewrite_calls(
        out,
        "multiSearchAnyCaseInsensitive",
        lambda a: (
            f"exists({_as_array_expr(a[1])}, "
            f"__ms -> contains(lower({a[0]}), lower(__ms)))"
        ),
    )
    out = _rewrite_calls(
        out,
        "countMatches",
        lambda a: f"size(regexp_extract_all({a[0]}, {a[1]}, 0))",
    )
    # replaceOne: literal first-occurrence splice (Spark's replace()
    # replaces every occurrence).
    out = _rewrite_calls(
        out,
        "replaceOne",
        lambda a: (
            f"(CASE WHEN locate({a[1]}, {a[0]}) > 0 THEN "
            f"concat(substring({a[0]}, 1, locate({a[1]}, {a[0]}) - 1), "
            f"{a[2]}, substring({a[0]}, locate({a[1]}, {a[0]}) + "
            # char_length, NOT length: locate() is a CHAR index, and
            # the user-facing length -> octet_length (bytes) rewrite
            # at the end of the pipeline must not touch this splice
            f"char_length({a[1]}))) ELSE {a[0]} END)"
        ),
    )
    out = _rewrite_calls(
        out,
        "ifEmpty",
        lambda a: (
            f"(CASE WHEN length({a[0]}) = 0 THEN {a[1]} ELSE {a[0]} END)"
        ),
    )
    # toDateTime64(s, precision): Spark timestamps are fixed micros —
    # the precision argument only widens/narrows the CH storage type,
    # the parsed value is the same. The tz-bearing 3-arg form is loud
    # (same contract as the other tz-bearing shapes).
    out = _rewrite_calls(
        out,
        "toDateTime64",
        lambda a: f"CAST({a[0]} AS TIMESTAMP)"
        if len(a) == 2
        else _raise(
            ValueError(
                "toDateTime64 with a timezone argument has no Spark "
                "translation — session timezone applies; drop the tz "
                "or convert explicitly with convert_timezone()"
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "makeDateTime",
        lambda a: f"make_timestamp({', '.join(a)})"
        if len(a) == 6
        else _raise(
            ValueError(
                "makeDateTime translates only the 6-arg "
                "(y, m, d, h, mi, s) form — the tz-bearing form is "
                "session-timezone-dependent"
            )
        ),
    )
    # makeDate has a 3-arg (y, m, d) and a 2-arg (y, day_of_year) form.
    out = _rewrite_calls(
        out,
        "makeDate",
        lambda a: f"make_date({', '.join(a)})"
        if len(a) == 3
        else f"(make_date({a[0]}, 1, 1) + (CAST({a[1]} AS INT) - 1))",
    )
    out = _rewrite_calls(out, "toLastDayOfMonth", lambda a: f"last_day({a[0]})")
    # toRelative*Num: epoch-anchored unit counters (the CH fixed point
    # is the epoch for day-and-finer units; year/month are calendar
    # counters by definition).
    out = _rewrite_calls(out, "toRelativeYearNum", lambda a: f"year({a[0]})")
    out = _rewrite_calls(
        out,
        "toRelativeMonthNum",
        lambda a: f"(year({a[0]}) * 12 + month({a[0]}))",
    )
    out = _rewrite_calls(
        out,
        "toRelativeDayNum",
        lambda a: f"datediff(CAST({a[0]} AS DATE), DATE '1970-01-01')",
    )
    out = _rewrite_calls(
        out,
        "toRelativeHourNum",
        lambda a: f"(unix_timestamp({a[0]}) DIV 3600)",
    )
    out = _rewrite_calls(
        out,
        "toRelativeMinuteNum",
        lambda a: f"(unix_timestamp({a[0]}) DIV 60)",
    )
    out = _rewrite_calls(
        out, "toRelativeSecondNum", lambda a: f"unix_timestamp({a[0]})"
    )
    # simpleLinearRegression(x, y) fits y = k*x + b; Spark's regr_*
    # take (y, x) order.
    out = _rewrite_calls(
        out,
        "simpleLinearRegression",
        lambda a: (
            f"named_struct('k', regr_slope({a[1]}, {a[0]}), "
            f"'b', regr_intercept({a[1]}, {a[0]}))"
        ),
    )
    # round-13b promotion: the matrix aggregate family. Each is pure
    # syntax sugar over the n^2 pairwise streaming aggregates in
    # argument order (row i = aggregate of column i against every
    # column), so the expansion is a nested array literal of corr /
    # covar_samp / covar_pop calls — aggregates Spark and DuckDB both
    # provide natively (plain corr/covar already pass through by
    # name). No per-group materialization: 3n^2 running moments, same
    # state ClickHouse keeps. Degenerate-group conventions (n < 2,
    # zero variance) follow each engine's own corr/covar, the
    # already-accepted baseline for the pairwise spellings; sub-ulp
    # drift on the diagonal is absorbed by the corpus's round-9
    # normalization.
    for _m_ch, _m_spark in (
        ("corrMatrix", "corr"),
        ("covarSampMatrix", "covar_samp"),
        ("covarPopMatrix", "covar_pop"),
    ):
        out = _rewrite_calls(out, _m_ch, _matrix_agg_handler(_m_spark))
    # Skewness/kurtosis: Spark's skewness IS the population form
    # (m3/m2^1.5) and its kurtosis is EXCESS (m4/m2^2 - 3), both
    # verified numerically; ClickHouse kurtPop is non-excess and the
    # Samp variants divide the POPULATION central moment by the
    # SAMPLE variance raised to the moment's power: skewSamp =
    # m3/sampleVar^1.5 = skewPop*((n-1)/n)^1.5 and kurtSamp =
    # m4/sampleVar^2 = kurtPop*((n-1)/n)^2 (sampleVar = m2*n/(n-1),
    # so the ratio (m2/sampleVar)^k = ((n-1)/n)^k carries the FULL
    # exponent of the moment, 1.5 and 2 — not 0.5/1, the round-7 bug:
    # kurtSamp([3,5,9]) is 0.667 in ClickHouse, and the old factor
    # gave 1.0). Exact algebraic adjustments, no approximation.
    out = _rewrite_calls(out, "skewPop", lambda a: f"skewness({a[0]})")
    out = _rewrite_calls(
        out,
        "skewSamp",
        lambda a: (
            f"(skewness({a[0]}) * "
            f"pow((count({a[0]}) - 1) / count({a[0]}), 1.5))"
        ),
    )
    out = _rewrite_calls(out, "kurtPop", lambda a: f"(kurtosis({a[0]}) + 3)")
    out = _rewrite_calls(
        out,
        "kurtSamp",
        lambda a: (
            f"(((kurtosis({a[0]}) + 3) * (count({a[0]}) - 1) * "
            f"(count({a[0]}) - 1)) / (count({a[0]}) * count({a[0]})))"
        ),
    )
    for ch, sp in (
        ("groupBitAnd", "bit_and"),
        ("groupBitOr", "bit_or"),
        ("groupBitXor", "bit_xor"),
    ):
        out = _rewrite_calls(out, ch, lambda a, s=sp: f"{s}({a[0]})")
    out = _rewrite_calls(
        out,
        "isFinite",
        lambda a: (
            f"(NOT isnan({a[0]}) AND abs(CAST({a[0]} AS DOUBLE)) <> "
            f"CAST('Infinity' AS DOUBLE))"
        ),
    )
    out = _rewrite_calls(
        out,
        "isInfinite",
        lambda a: (
            f"(abs(CAST({a[0]} AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
        ),
    )
    out = _rewrite_calls(
        out,
        "bitTest",
        # shiftright FUNCTION, not `>>` (see _BIT_SHIFTS note)
        lambda a: f"(shiftright({a[0]}, {a[1]}) & 1)",
    )
    out = _rewrite_calls(out, "generateUUIDv4", lambda a: "uuid()")
    out = _rewrite_calls(out, "exp2", lambda a: f"pow(2, {a[0]})")
    out = _rewrite_calls(out, "exp10", lambda a: f"pow(10, {a[0]})")
    # intExp2/intExp10 must stay exact over the int64 range: shift for
    # base 2; a literal power table for base 10 (pow() is float and
    # its CAST could be off by ulps from 1e16 up).
    out = _rewrite_calls(
        out,
        "intExp2",
        lambda a: f"shiftleft(CAST(1 AS BIGINT), {a[0]})",
    )
    _P10 = ", ".join(str(10**i) for i in range(19))
    out = _rewrite_calls(
        out,
        "intExp10",
        lambda a: f"element_at(array({_P10}), CAST({a[0]} AS INT) + 1)",
    )
    # accurateCastOrNull(x, 'Type'): the try_cast twin of the 2-arg
    # CAST form, sharing the CH type-name map.
    out = _rewrite_calls(
        out,
        "accurateCastOrNull",
        lambda a: _accurate_cast_or_null(a),
    )
    # format('{} .. {}', args): positional {} placeholders map to
    # printf %s; indexed {0} or format-spec forms are loud.
    out = _rewrite_calls(out, "format", _format_braces)
    # arrayEnumerateDense: rank of each element's FIRST occurrence
    # (array_distinct preserves first-occurrence order).
    out = _rewrite_calls(
        out,
        "arrayEnumerateDense",
        lambda a: (
            f"transform({_as_array_expr(a[0])}, __ed -> "
            f"CAST(array_position(array_distinct({_as_array_expr(a[0])}), "
            f"__ed) AS INT))"
        ),
    )
    # arrayEnumerateUniq: per-element occurrence counter (count of
    # equal elements in the prefix up to and including this position).
    out = _rewrite_calls(
        out,
        "arrayEnumerateUniq",
        lambda a: (
            f"transform({_as_array_expr(a[0])}, (__eu, __ei) -> "
            f"size(filter(slice({_as_array_expr(a[0])}, 1, __ei + 1), "
            f"__ex -> __ex = __eu)))"
        ),
    )
    # --- round-7 probe-hunt batch 5 (fold, window aliases, GK
    # quantile, date tail) ---------------------------------------------
    # arrayFold(lambda, arr, init) -> aggregate(arr, init, lambda):
    # same (acc, x) lambda shape, argument order differs.
    out = _rewrite_calls(
        out,
        "arrayFold",
        lambda a: (
            f"aggregate({_as_array_expr(a[1])}, {a[2]}, {a[0]})"
        ),
    )
    out = _rewrite_calls(
        out, "toStartOfSecond", lambda a: f"date_trunc('second', {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "toMillisecond",
        lambda a: f"CAST((unix_micros({a[0]}) DIV 1000) % 1000 AS INT)",
    )
    # proleptic-Gregorian day counter; year zero itself contributes
    # 366 days (it is a leap year), so anchor at 0001-01-01 + 366.
    out = _rewrite_calls(
        out,
        "toDaysSinceYearZero",
        lambda a: (
            f"(datediff(CAST({a[0]} AS DATE), DATE '0001-01-01') + 366)"
        ),
    )
    out = _rewrite_calls(
        out,
        "mapFromArrays",
        lambda a: (
            f"map_from_arrays({_as_array_expr(a[0])}, "
            f"{_as_array_expr(a[1])})"
        ),
    )
    # sumKahan: Spark's sum is the plain IEEE accumulation — the
    # mathematical result is the same, minus Kahan's compensation ulps
    # (same approx->approx class as quantileTDigest -> approx).
    out = _rewrite_calls(out, "sumKahan", lambda a: f"sum({a[0]})")
    out = _rewrite_calls(
        out,
        "countDistinctIf",
        lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    out = _rewrite_calls(out, "firstValue", lambda a: f"first_value({a[0]})")
    out = _rewrite_calls(out, "lastValue", lambda a: f"last_value({a[0]})")
    out = _rewrite_calls(
        out,
        "singleValueOrNull",
        lambda a: f"(CASE WHEN count({a[0]}) = 1 THEN max({a[0]}) END)",
    )
    # lagInFrame/leadInFrame: identical to lag/lead under the default
    # frame (ClickHouse recommends them as THE lag/lead); Spark's
    # lag/lead always use the whole partition, so a query that ALSO
    # narrows the frame would diverge — rare enough to translate, and
    # the frame clause itself survives for the reader to see.
    out = _rewrite_calls(
        out, "lagInFrame", lambda a: f"lag({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "leadInFrame", lambda a: f"lead({', '.join(a)})"
    )
    out = _rewrite_calls(out, "denseRank", lambda a: "dense_rank()")
    out = _rewrite_calls(out, "percentRank", lambda a: "percent_rank()")
    out = _rewrite_calls(
        out,
        "randNormal",
        lambda a: f"(({a[0]}) + ({a[1]}) * randn())",
    )
    out = _rewrite_calls(
        out,
        "randUniform",
        lambda a: f"(({a[0]}) + (({a[1]}) - ({a[0]})) * rand())",
    )
    # quantileGK(accuracy, level)(x) -> percentile_approx(x, level,
    # accuracy) — Spark's is the same Greenwald-Khanna family.
    out = _rewrite_curried_fn(out, "quantileGK", _quantile_gk)

    # --- round-7 probe-hunt batch 6 (OrNull/OrDefault combinators,
    # binary hashes, decimal widths, bucketing helpers) ----------------
    # -OrNull/-OrDefault combinators over the common aggregates.
    # Spark's min/max/avg/sum/any already return NULL over zero rows —
    # exactly -OrNull; -OrDefault coalesces to the type default.
    for base, sp in (
        ("min", "min"),
        ("max", "max"),
        ("avg", "avg"),
        ("sum", "sum"),
        ("any", "any_value"),
    ):
        out = _rewrite_calls(
            out, f"{base}OrNull", lambda a, s=sp: f"{s}({a[0]})"
        )
        out = _rewrite_calls(
            out,
            f"{base}OrDefault",
            lambda a, s=sp: f"coalesce({s}({a[0]}), 0)",
        )
    # ClickHouse MD5/SHA* return BINARY digests (users wrap hex(..));
    # Spark's md5/sha1/sha2 return hex STRINGS — translating to the
    # unhex'd form keeps hex(MD5(x)) and length(SHA256(x)) faithful.
    out = _rewrite_calls(
        out,
        "MD5",
        lambda a: f"unhex(md5({a[0]}))",
        skip_if_prefix="unhex(",
    )
    out = _rewrite_calls(
        out,
        "SHA1",
        lambda a: f"unhex(sha1({a[0]}))",
        skip_if_prefix="unhex(",
    )
    for bits in (224, 256, 384, 512):
        out = _rewrite_calls(
            out,
            f"SHA{bits}",
            lambda a, b=bits: f"unhex(sha2({a[0]}, {b}))",
            skip_if_prefix="unhex(",
        )
    for ch, p in (("toDecimal32", 9), ("toDecimal128", 38)):
        out = _rewrite_calls(
            out,
            ch,
            lambda a, pr=p: f"CAST({a[0]} AS DECIMAL({pr}, {int(a[1])}))",
        )
    for ch, p in (
        ("toDecimal32", 9),
        ("toDecimal64", 18),
        ("toDecimal128", 38),
    ):
        out = _rewrite_calls(
            out,
            f"{ch}OrNull",
            lambda a, pr=p: (
                f"try_cast({a[0]} AS DECIMAL({pr}, {int(a[1])}))"
            ),
        )
        out = _rewrite_calls(
            out,
            f"{ch}OrZero",
            lambda a, pr=p: (
                f"coalesce(try_cast({a[0]} AS DECIMAL({pr}, {int(a[1])}))"
                f", 0)"
            ),
        )
    out = _rewrite_calls(out, "toDate32", lambda a: f"CAST({a[0]} AS DATE)")
    out = _rewrite_calls(out, "toBool", lambda a: f"CAST({a[0]} AS BOOLEAN)")
    # char(a, b, ...): ClickHouse concatenates one byte per argument.
    out = _rewrite_calls(
        out,
        "char",
        lambda a: f"char({a[0]})"
        if len(a) == 1
        else "concat(" + ", ".join(f"char({x})" for x in a) + ")",
    )
    out = _rewrite_calls(
        out,
        "tryBase64Decode",
        # '' on failure (ClickHouse), not NULL
        lambda a: (
            f"coalesce(CAST(try_to_binary({a[0]}, 'base64') AS STRING), '')"
        ),
    )
    out = _rewrite_calls(
        out,
        "ifNotFinite",
        lambda a: (
            f"(CASE WHEN isnan({a[0]}) OR abs(CAST({a[0]} AS DOUBLE)) = "
            f"CAST('Infinity' AS DOUBLE) THEN {a[1]} ELSE {a[0]} END)"
        ),
    )
    out = _rewrite_calls(
        out, "currentDatabase", lambda a: "current_database()"
    )
    # materialize/identity are ClickHouse optimizer hints — semantic
    # no-ops; ignore() evaluates and returns 0.
    out = _rewrite_calls(out, "materialize", lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "identity", lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "ignore", lambda a: "0")
    # roundToExp2: largest power of two <= x (0 for x < 1); log2 of a
    # power of two is IEEE-exact, so the floor is safe.
    out = _rewrite_calls(
        out,
        "roundToExp2",
        lambda a: (
            f"(CASE WHEN ({a[0]}) < 1 THEN 0 ELSE "
            f"CAST(pow(2, floor(log2({a[0]}))) AS BIGINT) END)"
        ),
    )
    out = _rewrite_calls(out, "roundDuration", _round_bucket_duration)
    out = _rewrite_calls(out, "roundAge", _round_bucket_age)
    out = _rewrite_calls(
        out,
        "arrayJaccardIndex",
        lambda a: (
            f"(CAST(size(array_intersect({_as_array_expr(a[0])}, "
            f"{_as_array_expr(a[1])})) AS DOUBLE) / "
            f"CAST(size(array_union({_as_array_expr(a[0])}, "
            f"{_as_array_expr(a[1])})) AS DOUBLE))"
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayUnion",
        lambda a: (
            f"array_union({_as_array_expr(a[0])}, {_as_array_expr(a[1])})"
        ),
    )
    # Modified Julian Day (epoch 1858-11-17): registered HERE, after
    # the ClickHouse dateDiff('unit', ..) rewrite has run — the
    # emitted Spark datediff(end, start) would otherwise be rescanned
    # by that case-insensitive handler and rejected as a 2-arg
    # dateDiff.
    out = _rewrite_calls(
        out,
        "toModifiedJulianDay",
        lambda a: f"datediff(CAST({a[0]} AS DATE), DATE '1858-11-17')",
    )
    out = _rewrite_calls(
        out,
        "fromModifiedJulianDay",
        lambda a: f"(DATE '1858-11-17' + CAST({a[0]} AS INT))",
    )
    # --- round-7 probe-hunt batch 8 (operator-function aliases,
    # subsequence/regexp-split, GK plural) -----------------------------
    for ch, op in (
        ("plus", "+"),
        ("minus", "-"),
        ("multiply", "*"),
        ("divide", "/"),
    ):
        out = _rewrite_calls(
            out, ch, lambda a, o=op: f"(({a[0]}) {o} ({a[1]}))"
        )
    out = _rewrite_calls(out, "negate", lambda a: f"(-({a[0]}))")
    out = _rewrite_calls(
        out,
        "splitByRegexp",
        lambda a: f"split({a[1]}, {a[0]})",
    )
    out = _rewrite_calls(
        out,
        "arrayWithConstant",
        lambda a: f"array_repeat({a[1]}, CAST({a[0]} AS INT))",
    )
    out = _rewrite_calls(
        out,
        "widthBucket",
        lambda a: f"width_bucket({', '.join(a)})",
    )
    # hasSubstr: contiguous-subsequence containment via an offset scan
    # (array equality on each window). Empty needle is contained.
    out = _rewrite_calls(out, "hasSubstr", _has_substr)
    # --- round-12 promotions (VERDICT r11 task 5: the two most
    # common recognized-untranslatable constructs) --------------------
    # Scalar -State/-Merge combinator pairs. ClickHouse's two-level
    # AggregatingMergeTree idiom keeps PARTIAL aggregate states in an
    # inner query / materialized view and folds them later with
    # -Merge. For count/sum/min/max the partial state IS the
    # aggregate value (the fold is associative on the same scalar),
    # and for avg it is the (sum, count) pair — all portable algebra,
    # no engine-internal bytes — so the pairs translate exactly:
    #   sumState(x)->sum(x)  sumMerge(s)->sum(s)
    #   countState(x)->count(x|*)  countMerge(s)->sum(s) (BIGINT)
    #   minState/minMerge->min  maxState/maxMerge->max
    #   avgState(x)->named_struct(s: sum, c: count)
    #   avgMerge(st)->sum(st.s)/sum(st.c)
    # Sketch-backed states (uniqState, quantileState, ...) remain
    # loud in _UNSUPPORTED — their binary state formats are
    # engine-internal.
    for st, mg in (("sum", "sum"), ("min", "min"), ("max", "max")):
        out = _rewrite_calls(
            out, f"{st}State", lambda a, f=st: f"{f}({a[0]})"
        )
        out = _rewrite_calls(
            out, f"{st}Merge", lambda a, f=mg: f"{f}({a[0]})"
        )
    out = _rewrite_calls(
        out,
        "countState",
        lambda a: f"count({a[0]})" if a and a[0].strip() else "count(*)",
    )
    # merging count partials SUMS them; CAST keeps BIGINT (DuckDB
    # oracles otherwise drift to HUGEINT on the same algebra)
    out = _rewrite_calls(
        out, "countMerge", lambda a: f"CAST(sum({a[0]}) AS BIGINT)"
    )
    out = _rewrite_calls(
        out,
        "avgState",
        lambda a: (
            f"named_struct('s', sum({a[0]}), 'c', count({a[0]}))"
        ),
    )
    # ClickHouse avg/avgMerge return Float64 whatever the input type;
    # double/double division of exact operands is deterministic
    # IEEE-754 (the repo's dec_avg discipline), where decimal/bigint
    # division would pin engine-specific result scales.
    out = _rewrite_calls(
        out,
        "avgMerge",
        lambda a: (
            f"(CAST(sum(({a[0]}).s) AS DOUBLE) / "
            f"CAST(sum(({a[0]}).c) AS DOUBLE))"
        ),
    )
    # gcd/lcm: no Spark builtin, but Euclid's algorithm terminates in
    # <= 91 steps for 64-bit inputs (consecutive Fibonacci numbers are
    # the worst case), so a FIXED 96-step aggregate() fold over the
    # (x, y) state is an exact closed SQL form: each step maps
    # (x, y) -> (y, x % y) until y = 0, then x is the gcd. Sign/zero
    # conventions are the mathematical ones (absolute values;
    # gcd(0, n) = n, gcd(0, 0) = 0; lcm(0, n) = 0), matching DuckDB's
    # builtins (differential-corpus pinned). lcm divides by the gcd
    # BEFORE multiplying (overflow headroom, as ClickHouse does).
    def _gcd_expr(a: str, b: str) -> str:
        return (
            "aggregate(sequence(1, 96), "
            f"named_struct('x', abs(CAST({a} AS BIGINT)), "
            f"'y', abs(CAST({b} AS BIGINT))), "
            "(acc, i) -> IF(acc.y = 0L, acc, "
            "named_struct('x', acc.y, 'y', acc.x % acc.y)), "
            "acc -> acc.x)"
        )

    out = _rewrite_calls(out, "gcd", lambda a: f"({_gcd_expr(a[0], a[1])})")
    out = _rewrite_calls(
        out,
        "lcm",
        lambda a: (
            f"(IF(CAST({a[0]} AS BIGINT) = 0L OR "
            f"CAST({a[1]} AS BIGINT) = 0L, 0L, "
            f"abs(CAST({a[0]} AS BIGINT)) div {_gcd_expr(a[0], a[1])} "
            f"* abs(CAST({a[1]} AS BIGINT))))"
        ),
    )
    # boundingRatio(x, y): slope between the leftmost and rightmost
    # points of the group — (y at max x - y at min x)/(max x - min x).
    # Same closed form operators/chagg.bounding_ratio_by_user uses;
    # deterministic iff x is unique within the group (ClickHouse's own
    # result is otherwise order-dependent too). Documented divergence
    # (see translate()): a single-point or constant-x group divides by
    # zero — Spark's non-ANSI division yields NULL where ClickHouse
    # returns inf/nan; NULL is the deliberate (and
    # aggregation-friendly) sentinel here.
    out = _rewrite_calls(
        out,
        "boundingRatio",
        lambda a: (
            f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) / "
            f"(max({a[0]}) - min({a[0]})))"
        ),
    )
    # quantilesGK(accuracy, l1, l2, ...)(x) -> the array form
    out = _rewrite_curried_fn(out, "quantilesGK", _quantiles_gk)
    # LAST (so every handler above sees the original spelling and
    # every emitted fragment is covered too):
    # 1. ClickHouse subscripts are 1-BASED (arr[1] = first element,
    #    arr[-1] = last); Spark's [] is 0-based — the nastiest silent
    #    divergence in the whole dialect. Rewrite integer subscripts
    #    on (qualified) identifiers to element_at (1-based, negative
    #    supported). String-key map access (m['k']) is key-based in
    #    both dialects and passes through.
    out = _rewrite_int_subscripts(out)
    # ClickHouse greatest/least NULL-PROPAGATE (ordinary functions:
    # any NULL argument -> NULL) where Spark's greatest/least SKIP
    # NULLs — same name, silently different results on nullable
    # inputs (r13 probe find). Wrap every call — user-written AND
    # fragments emitted by the rewrites above — with an any-arg-NULL
    # guard; for the emitted fragments the wrap is value-equivalent
    # (their clamp/bound arguments are literals or non-NULL counts)
    # and for quantileTiming's saturation clamp it is a FIX: the raw
    # least(x, 30000) turned a NULL input into a counted 30000 where
    # ClickHouse skips NULL rows. skip_if_prefix keeps the pass a
    # fixpoint on re-translation (the emitted guard's own
    # 'THEN NULL ELSE fn(..)' is not re-wrapped).
    for _gl in ("greatest", "least"):
        out = _rewrite_calls(
            out,
            _gl,
            _null_propagating(_gl),
            skip_if_prefix="then null else ",
        )
    # ClickHouse length(s) counts BYTES ("not characters or Unicode
    # code points" — its docs' own emphasis); Spark's length() counts
    # CHARACTERS — silent value divergence on any multibyte string
    # (r13 probe find). octet_length is Spark's exact byte spelling;
    # lengthUTF8/char_length stay char-wise (emitted as char_length,
    # which this word-boundary pattern cannot match — fixpoint-safe).
    # Arrays: ClickHouse length(arr) is the element count, but
    # Spark's length AND octet_length both reject arrays loudly, so
    # that spelling fails the same way it always did (use size/
    # arrayCount). Emitted emptiness/substring-count fragments above
    # are byte/char-equivalent; replaceOne's char-index splice
    # deliberately emits char_length.
    out = _rewrite_calls(out, "length", lambda a: f"octet_length({a[0]})")
    # 1b. The same 1-based/0-based trap on CALL-RESULT and
    #     ARRAY-LITERAL subscripts and on EXPRESSION indices
    #     (``groupArray(x)[1]``, ``[10, 20][1]``, ``a[i]``,
    #     ``arr[n - 1]``): these previously passed through raw and
    #     Spark evaluated ``[]`` 0-based — the silent off-by-one the
    #     ident rewrite exists to kill, found live in round 13 (a
    #     corpus entry carried the 0-based value in its fixture pin).
    out = _rewrite_expr_subscripts(out)
    # 2. ClickHouse [..] array literals -> Spark array(..) (Spark has
    #    no bracket array literal; without this every literal-bearing
    #    query died with an opaque parse error). A '[' right after an
    #    identifier/')'/']' is subscript syntax and is left alone.
    out = _bracket_literals(out)
    return out


_INT_SUBSCRIPT_PAT = re.compile(
    r"\b([A-Za-z_][\w.]*)\[\s*(-?\d+)\s*\]"
)


def _rewrite_int_subscripts(out: str) -> str:
    """``ident[n]`` -> ``element_at(ident, n)`` (1-based, negative
    supported — ClickHouse subscript semantics; Spark's ``[]`` is
    0-based, the silent off-by-one this rewrite exists to kill).
    Identifier-adjacent brackets only; string-literal content and
    string-key map access are untouched."""
    pos = 0
    while True:
        m = _INT_SUBSCRIPT_PAT.search(out, pos)
        if not m:
            return out
        if _in_string(out, m.start()):
            pos = m.start() + 1
            continue
        repl = f"element_at({m.group(1)}, {m.group(2)})"
        out = out[: m.start()] + repl + out[m.end() :]
        pos = m.start() + len(repl)


# Keywords that can legally precede a '[' without being a
# subscriptable expression head (IN [1, 2] et al) — a bracket after
# one of these is not a subscript and is left for the literal
# converter / Spark's parser.
_NON_SUBSCRIPT_KEYWORDS = frozenset(
    "in values and or not then else when select from where by as on "
    "using join between like distinct all any some exists case end "
    "is null true false interval limit offset union array".split()
)


def _find_matching_bracket(sql: str, open_idx: int) -> int | None:
    """Index of the ']' matching sql[open_idx] == '[', honoring
    single-quoted strings; only bracket nesting counts (an index
    expression may contain unrelated parentheses)."""
    depth = 0
    i = open_idx
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
        elif c == "[":
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return None


def _rewrite_expr_subscripts(out: str) -> str:
    """Generalized 1-based subscript rewrite:
    ``f(..)[idx]`` / ``[..][idx]`` / ``ident[idx]`` ->
    ``element_at(<head>, idx)`` for ARBITRARY index expressions —
    Spark's ``[]`` is 0-based on arrays, so every raw passthrough was
    a silent off-by-one; ``element_at`` is 1-based on arrays and
    key-based on maps, correct for both. Runs after the literal-int
    ident pass (which handles the overwhelmingly common spelling) and
    BEFORE the array-literal conversion (a literal head stays
    bracket-spelled here; the wrap puts it after ``(`` where the
    literal converter still treats it as a literal). Heads are found
    by a quote-aware backward walk to the matching opener, extended
    over a preceding qualified callable name for the ``)`` case;
    chains resolve left-to-right by rescanning from the rewritten
    head. Left untouched: pure string-literal keys (``m['k']`` is
    key-based in both dialects), bracket contents with a top-level
    comma (an argument list / malformed subscript), and brackets
    following a bare SQL keyword (``IN [1, 2]``)."""
    i = 0
    while i < len(out):
        c = out[i]
        if c == "'":
            i += 1
            while i < len(out) and out[i] != "'":
                i += 1
            i += 1
            continue
        if c != "[":
            i += 1
            continue
        j = i - 1
        while j >= 0 and out[j].isspace():
            j -= 1
        if j < 0 or not (out[j].isalnum() or out[j] in "_.)]"):
            i += 1
            continue
        close = _find_matching_bracket(out, i)
        if close is None:
            i += 1
            continue
        idx = out[i + 1 : close].strip()
        if (
            not idx
            or len(_split_top_level(idx)) != 1
            or re.fullmatch(r"'(?:[^']|'')*'", idx)
        ):
            i += 1
            continue
        # find the head start
        if out[j] == ")":
            depth = 0
            k = j
            while k >= 0:
                ch = out[k]
                if ch == "'":
                    k -= 1
                    while k >= 0 and out[k] != "'":
                        k -= 1
                elif ch == ")":
                    depth += 1
                elif ch == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            if k < 0:
                i += 1
                continue
            start = k
            k -= 1
            while k >= 0 and (out[k].isalnum() or out[k] in "_."):
                k -= 1
            start = k + 1 if k + 1 < start else start
        elif out[j] == "]":
            depth = 0
            k = j
            while k >= 0:
                ch = out[k]
                if ch == "'":
                    k -= 1
                    while k >= 0 and out[k] != "'":
                        k -= 1
                elif ch == "]":
                    depth += 1
                elif ch == "[":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            if k < 0:
                i += 1
                continue
            start = k
        else:
            k = j
            while k >= 0 and (out[k].isalnum() or out[k] in "_."):
                k -= 1
            start = k + 1
            word = out[start : j + 1]
            if word.lower() in _NON_SUBSCRIPT_KEYWORDS or not re.match(
                r"[A-Za-z_]", word
            ):
                i += 1
                continue
        head = out[start : j + 1]
        repl = f"element_at({head}, {idx})"
        out = out[:start] + repl + out[close + 1 :]
        i = start
    return out


def _bracket_literals(sql: str) -> str:
    """ClickHouse ``[a, b]`` array literals -> ``array(a, b)``.

    A ``[`` whose previous non-space char is an identifier char, a
    ``)`` or a ``]`` is subscript/indexing syntax and is preserved
    (integer subscripts were already rewritten to element_at by this
    point, so what remains is string-key map access). Nested literals
    convert recursively; string literals are never touched.
    """
    out = []
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            # copy the whole string literal verbatim ('' escapes)
            j = i + 1
            while j < n:
                if sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if ch == "[":
            # subscript only when '[' is IMMEDIATELY adjacent to an
            # identifier/')'/']' — `SELECT [1,2]` has a space before
            # the bracket and is a literal
            prev = out[-1][-1:] if out and out[-1] else ""
            if prev and (prev.isalnum() or prev in "_)]"):
                out.append(ch)  # subscript — leave
                i += 1
                continue
            depth = 0
            j = i
            while j < n:
                if sql[j] == "'":
                    k = j + 1
                    while k < n and sql[k] != "'":
                        k += 1
                    j = k + 1
                    continue
                if sql[j] == "[":
                    depth += 1
                elif sql[j] == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:  # unbalanced — leave untouched
                out.append(ch)
                i += 1
                continue
            inner = _bracket_literals(sql[i + 1 : j])
            out.append(f"array({inner})")
            i = j + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _has_substr(args: list[str]) -> str:
    a, b = args[0], args[1]
    return (
        f"(CASE WHEN size({b}) = 0 THEN true "
        f"WHEN size({b}) > size({a}) THEN false "
        f"ELSE exists(sequence(1, size({a}) - size({b}) + 1), "
        f"__hs -> slice({a}, __hs, size({b})) = {b}) END)"
    )


def _quantiles_gk(p_parts: list[str], x_parts: list[str]) -> str:
    if len(p_parts) < 2:
        raise ValueError(
            "quantilesGK takes (accuracy, level1[, level2, ...]) "
            "parameters"
        )
    acc, levels = p_parts[0], p_parts[1:]
    return (
        f"percentile_approx({x_parts[0]}, "
        f"array({', '.join(levels)}), {acc})"
    )


# ClickHouse's fixed bucketing tables (deterministic CASE chains).
_DURATION_BUCKETS = (
    1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200,
    18000, 36000,
)
_AGE_BUCKETS = ((1, 0), (18, 17), (25, 18), (35, 25), (45, 35), (55, 45))


def _round_bucket_duration(args: list[str]) -> str:
    x = args[0]
    whens = " ".join(
        f"WHEN ({x}) < {b} THEN {prev}"
        for prev, b in zip((0,) + _DURATION_BUCKETS[:-1], _DURATION_BUCKETS)
    )
    return f"(CASE {whens} ELSE {_DURATION_BUCKETS[-1]} END)"


def _round_bucket_age(args: list[str]) -> str:
    x = args[0]
    whens = " ".join(f"WHEN ({x}) < {b} THEN {v}" for b, v in _AGE_BUCKETS)
    return f"(CASE {whens} ELSE 55 END)"


def _entropy_expr(args: list[str]) -> str:
    """Shannon entropy (bits) of the value distribution, as the
    run-length closed form over the sorted group: with run counts c_i
    of the n non-NULL values, entropy = log2(n) - sum(c_i*log2(c_i))/n
    — algebraically identical to -sum((c/n)*log2(c/n)) but needing no
    reference to n inside the fold. Empty group -> NULL (sibling
    convention); a single-run group is exactly 0.0 (log2(1) = 0)."""
    if len(args) != 1:
        raise ValueError(
            "entropy translates only the single-column form — the "
            "multi-column tuple distribution has no closed Spark "
            "spelling; GROUP BY the tuple and aggregate the "
            "histogram explicitly (docs_token_entropy shape)"
        )
    x = args[0]
    arr = f"array_sort(collect_list({x}))"
    n = f"size({arr})"
    zero = (
        f"named_struct('prev', element_at({arr}, 1), "
        f"'run', CAST(0 AS BIGINT), 'acc', CAST(0 AS DOUBLE))"
    )
    step = (
        "(__en_s, __en_e) -> CASE "
        "WHEN __en_s.run = 0 THEN named_struct('prev', __en_e, "
        "'run', CAST(1 AS BIGINT), 'acc', __en_s.acc) "
        "WHEN __en_e <=> __en_s.prev THEN named_struct("
        "'prev', __en_s.prev, 'run', __en_s.run + 1, "
        "'acc', __en_s.acc) "
        "ELSE named_struct('prev', __en_e, 'run', CAST(1 AS BIGINT), "
        "'acc', __en_s.acc + __en_s.run * log2(__en_s.run)) END"
    )
    finish = "__en_s -> __en_s.acc + __en_s.run * log2(__en_s.run)"
    total = f"aggregate({arr}, {zero}, {step}, {finish})"
    return (
        f"(CASE WHEN {n} = 0 THEN NULL "
        f"ELSE log2({n}) - ({total}) / {n} END)"
    )


def _matrix_agg_handler(fn: str):
    """Expand ``<agg>Matrix(x1..xn)`` to the nested array literal of
    pairwise ``fn`` calls (row-major in argument order — ClickHouse's
    Array(Array(Float64)) layout)."""

    def handler(args: list[str]) -> str:
        if not args:
            raise ValueError(
                f"{fn} matrix aggregate needs at least one column"
            )
        rows = ", ".join(
            "array(" + ", ".join(f"{fn}({a}, {b})" for b in args) + ")"
            for a in args
        )
        return f"array({rows})"

    return handler


def _exact_exclusive_expr(p: str, x: str) -> str:
    """PERCENTILE.EXC / Hyndman-Fan R6 closed form (the documented
    definition of ClickHouse's quantileExactExclusive): over the
    sorted non-NULL values a[1..sz] (1-based), h = p*(sz+1),
    n = trunc(h), result = a[n] + (h-n)*(a[n+1]-a[n]) with the ends
    clamped to a[1] / a[sz]. Values cast to DOUBLE up front —
    interpolation returns Float64 in ClickHouse too."""
    arr = f"array_sort(collect_list(CAST({x} AS DOUBLE)))"
    sz = f"size({arr})"
    h = f"(CAST({p} AS DOUBLE) * ({sz} + 1))"
    n = f"CAST(floor({h}) AS INT)"
    lo = f"element_at({arr}, {n})"
    hi = f"element_at({arr}, {n} + 1)"
    return (
        f"(CASE WHEN {sz} = 0 THEN NULL "
        f"WHEN {n} >= {sz} THEN element_at({arr}, {sz}) "
        f"WHEN {n} < 1 THEN element_at({arr}, 1) "
        f"ELSE {lo} + ({h} - {n}) * ({hi} - {lo}) END)"
    )


def _q_exact_exclusive(p_parts: list[str], x_parts: list[str]) -> str:
    if len(p_parts) != 1 or len(x_parts) != 1:
        raise ValueError(
            "quantileExactExclusive takes (level)(x) parameters"
        )
    return _exact_exclusive_expr(p_parts[0], x_parts[0])


def _qs_exact_exclusive(p_parts: list[str], x_parts: list[str]) -> str:
    if not p_parts or len(x_parts) != 1:
        raise ValueError(
            "quantilesExactExclusive takes (level1[, level2, ...])(x) "
            "parameters"
        )
    exprs = [_exact_exclusive_expr(p, x_parts[0]) for p in p_parts]
    return exprs[0] if len(exprs) == 1 else f"array({', '.join(exprs)})"


def _quantile_gk(p_parts: list[str], x_parts: list[str]) -> str:
    if len(p_parts) == 2:
        acc, p = p_parts
    elif len(p_parts) == 1:
        acc, p = "10000", p_parts[0]
    else:
        raise ValueError(
            "quantileGK takes (accuracy, level) or (level) parameters"
        )
    return f"percentile_approx({x_parts[0]}, {p}, {acc})"


def _hof_too_many(name: str) -> str:
    raise ValueError(
        f"ClickHouse {name} with 3+ arrays has no Spark translation — "
        "zip_with is binary; nest zip_with calls or arrays_zip the "
        "inputs into structs first"
    )


def _hof_lambda_parts(lam: str) -> tuple[list[str], str]:
    """Split ``(x, y) -> body`` into (params, body) textually."""
    i = lam.find("->")
    if i < 0:
        raise ValueError(f"expected a lambda, got {lam!r}")
    params = lam[:i].strip()
    body = lam[i + 2 :].strip()
    if params.startswith("(") and params.endswith(")"):
        plist = [p.strip() for p in params[1:-1].split(",")]
    else:
        plist = [params]
    return plist, body


def _array_fill_expr(a: list[str], reverse: bool) -> str:
    """Shared body for arrayFill/arrayReverseFill: carry fold over
    the (possibly reversed) array; the user's own lambda parameter
    is reused as the fold's element binder, so the condition body
    needs no identifier substitution (bound name, no capture)."""
    name = "arrayReverseFill" if reverse else "arrayFill"
    if len(a) != 2:
        raise ValueError(
            f"{name} translates only the single-array form — zip the "
            "arrays into structs first for a multi-array condition"
        )
    plist, body = _hof_lambda_parts(a[0])
    if len(plist) != 1:
        raise ValueError(
            f"{name} translates only the single-array form — zip the "
            "arrays into structs first for a multi-array condition"
        )
    p = plist[0]
    src = f"reverse({a[1]})" if reverse else a[1]
    fold = (
        f"aggregate({src}, slice({src}, 1, 0), "
        f"(__fl_acc, {p}) -> CASE WHEN size(__fl_acc) = 0 "
        f"OR ({body}) THEN __fl_acc || array({p}) "
        f"ELSE __fl_acc || array(element_at(__fl_acc, -1)) END)"
    )
    return f"reverse({fold})" if reverse else fold


def _array_fill(a: list[str]) -> str:
    return _array_fill_expr(a, reverse=False)


def _array_reverse_fill(a: list[str]) -> str:
    return _array_fill_expr(a, reverse=True)


def _filter_two_arrays(a: list[str]) -> str:
    """arrayFilter(lambda, a1, a2): elements of a1 where
    lambda(x1, x2) holds — zip both arrays, keep flagged structs,
    project the first element back out."""
    plist, body = _hof_lambda_parts(a[0])
    if len(plist) != 2:
        raise ValueError(
            "arrayFilter over two arrays needs a 2-parameter lambda"
        )
    p0, p1 = plist
    return (
        f"transform(filter(zip_with({a[1]}, {a[2]}, ({p0}, {p1}) -> "
        f"named_struct('e', {p0}, 'k', ({body}))), __hf -> __hf.k), "
        f"__hf -> __hf.e)"
    )


def _as_array_expr(expr: str) -> str:
    """ClickHouse ``[..]`` array literals as Spark ``array(..)``;
    anything else (column refs, already-array() forms) unchanged."""
    e = expr.strip()
    if e.startswith("[") and e.endswith("]"):
        return f"array({e[1:-1]})"
    return e


def _accurate_cast_or_null(args: list[str]) -> str:
    t = args[1].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise ValueError(
            "accurateCastOrNull translates only literal type names"
        )
    ch = t[1:-1]
    if ch not in _CH_TYPE_NAMES:
        raise ValueError(
            f"accurateCastOrNull: no Spark mapping for ClickHouse "
            f"type {ch!r}"
        )
    return f"try_cast({args[0]} AS {_CH_TYPE_NAMES[ch]})"


def _accurate_cast_strict(args: list[str]) -> str:
    """accurateCast(x, 'Type'): ClickHouse raises on out-of-range; the
    closest Spark spelling is a plain CAST, whose overflow behavior
    follows spark.sql.ansi.enabled (error when on, null/wrap when
    off). Documented best-effort — the type mapping itself is exact."""
    t = args[1].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise ValueError("accurateCast translates only literal type names")
    ch = t[1:-1]
    if ch not in _CH_TYPE_NAMES:
        raise ValueError(
            f"accurateCast: no Spark mapping for ClickHouse type {ch!r}"
        )
    return f"CAST({args[0]} AS {_CH_TYPE_NAMES[ch]})"


def _format_braces(args: list[str]) -> str:
    tpl = args[0].strip()
    if not (tpl.startswith("'") and tpl.endswith("'")):
        raise ValueError(
            "format() translates only a literal template string"
        )
    body = tpl[1:-1]
    if re.search(r"\{[^}]+\}", body):
        raise ValueError(
            "format() with indexed or spec-bearing {N}/{:spec} "
            "placeholders has no Spark translation — use plain {} "
            "placeholders (printf %s) or format_string directly"
        )
    n_slots = body.count("{}")
    if n_slots != len(args) - 1:
        raise ValueError(
            f"format(): {n_slots} placeholders but {len(args) - 1} "
            f"arguments"
        )
    printf_body = body.replace("%", "%%").replace("{}", "%s")
    return f"format_string('{printf_body}', {', '.join(args[1:])})"


_MOMENT_AGGS = {
    # ClickHouse camelCase -> Spark snake_case, identical semantics
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
}


_ARRAY_REDUCE = {
    "max": lambda a: f"array_max({a})",
    "min": lambda a: f"array_min({a})",
    "count": lambda a: f"size({a})",
    "sum": lambda a: (
        f"aggregate({a}, CAST(0 AS DOUBLE), (__ar_s, __ar_x) ->"
        f" __ar_s + __ar_x)"
    ),
    "avg": lambda a: (
        f"(aggregate({a}, CAST(0 AS DOUBLE), (__ar_s, __ar_x) ->"
        f" __ar_s + __ar_x) / size({a}))"
    ),
    # round-6 extensions: the distinct-count and any/anyLast names.
    # uniq/uniqExact skip NULLs (ClickHouse aggregate semantics), so
    # filter them before array_distinct — array_distinct alone counts
    # NULL as a distinct value. Caveat: any/anyLast on an empty array
    # return NULL where ClickHouse returns the type default (0/'');
    # same divergence class as the no-match arrayFirst/arrayLast note.
    "uniq": lambda a: (
        f"size(array_distinct(filter({a}, __ar_u -> __ar_u IS NOT NULL)))"
    ),
    "uniqexact": lambda a: (
        f"size(array_distinct(filter({a}, __ar_u -> __ar_u IS NOT NULL)))"
    ),
    "any": lambda a: f"element_at({a}, 1)",
    "anylast": lambda a: f"element_at({a}, -1)",
}


def _array_reduce(args: list[str]) -> str:
    """arrayReduce('agg', arr) for the common literal aggregates
    (max/min/count/sum/avg — sum/avg accumulate in DOUBLE). Unknown
    aggregate names are loud errors."""
    if len(args) != 2 or not (
        args[0].startswith("'") and args[0].endswith("'")
    ):
        raise ValueError("arrayReduce translates only literal aggregate names")
    name = args[0][1:-1].lower()
    if name not in _ARRAY_REDUCE:
        raise ValueError(
            f"arrayReduce: no translation for aggregate {name!r}"
        )
    return _ARRAY_REDUCE[name](args[1])


def _array_literal_items(expr: str) -> list[str] | None:
    """Top-level items of a literal array expression (ClickHouse
    ``[a, b]`` or ``array(a, b)``), or None if not a literal array."""
    e = expr.strip()
    if e.startswith("[") and e.endswith("]"):
        inner = e[1:-1]
    elif re.match(r"(?is)^array\s*\(.*\)$", e):
        inner = e[e.index("(") + 1 : -1]
    else:
        return None
    inner = inner.strip()
    return _split_top_level(inner) if inner else []


def _transform_lookup(args: list[str]) -> str:
    """ClickHouse transform(x, from, to[, default]) -> CASE chain.

    The 3-arg form defaults to x itself (ClickHouse requires x and to
    to share a type there). Non-literal from/to arrays cannot become a
    CASE at translate time — loud error rather than handing Spark's
    unrelated lambda transform a 4-arg call.
    """
    if len(args) == 2:
        # Spark's lambda transform — untouched
        return f"transform({args[0]}, {args[1]})"
    if len(args) not in (3, 4):
        raise ValueError(
            "transform() translates the ClickHouse lookup form "
            "(x, from, to[, default]) or Spark's 2-arg lambda form"
        )
    frm = _array_literal_items(args[1])
    to = _array_literal_items(args[2])
    if frm is None or to is None:
        raise ValueError(
            "ClickHouse transform(x, from, to[, default]) translates "
            "only with literal from/to arrays (a runtime array cannot "
            "become a CASE chain at translate time)"
        )
    if not frm or len(frm) != len(to):
        raise ValueError(
            "transform(): from/to arrays must be the same nonempty length"
        )
    whens = " ".join(f"WHEN {f} THEN {t}" for f, t in zip(frm, to))
    default = args[3] if len(args) == 4 else args[0]
    return f"CASE {args[0]} {whens} ELSE {default} END"


_ADD_UNITS = {
    "addSeconds": "SECOND",
    "addMinutes": "MINUTE",
    "addHours": "HOUR",
    "addDays": "DAY",
    "addWeeks": "WEEK",
    "addMonths": "MONTH",
    "addYears": "YEAR",
}
_SUB_UNITS = {
    "subtractSeconds": "SECOND",
    "subtractMinutes": "MINUTE",
    "subtractHours": "HOUR",
    "subtractDays": "DAY",
    "subtractWeeks": "WEEK",
    "subtractMonths": "MONTH",
    "subtractYears": "YEAR",
}
_BIT_OPS = {
    "bitAnd": "&",
    "bitOr": "|",
    "bitXor": "^",
}
# The shifts emit shiftleft()/shiftright() FUNCTIONS, not the <</>>
# operators: Spark's parser rejects a `>>` that appears anywhere after
# a lambda arrow in the same statement (found by probe — `SELECT
# exists(a, x -> x > 0), 5 >> 1` is a parse error while the standalone
# shift parses fine).
_BIT_SHIFTS = {
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
}

_DIFF_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


_AGE_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _age(args: list[str]) -> str:
    """ClickHouse age('unit', a, b): COMPLETE units elapsed between a
    and b — unlike dateDiff, which counts unit boundaries crossed.
    Literal units only, like dateDiff."""
    if len(args) != 3:
        raise ValueError("age needs ('unit', start, end)")
    unit = args[0].strip().strip("'").lower()
    a, b = args[1], args[2]
    if unit in _AGE_SECONDS:
        s = _AGE_SECONDS[unit]
        return f"((unix_timestamp({b}) - unix_timestamp({a})) DIV {s})"
    if unit == "week":
        return f"((unix_timestamp({b}) - unix_timestamp({a})) DIV 604800)"
    if unit == "month":
        return f"CAST(floor(months_between({b}, {a})) AS BIGINT)"
    if unit == "quarter":
        return f"(CAST(floor(months_between({b}, {a})) AS BIGINT) DIV 3)"
    if unit == "year":
        return f"(CAST(floor(months_between({b}, {a})) AS BIGINT) DIV 12)"
    raise ValueError(f"age: unsupported unit {unit!r}")


def _date_diff(args: list[str]) -> str:
    """ClickHouse dateDiff('unit', a, b): the number of UNIT BOUNDARIES
    crossed between a and b (not elapsed time) — so both sides truncate
    to the unit first, then difference. Literal units only."""
    if len(args) == 2:
        # Spark's own 2-argument datediff(end, start) — either already
        # in the user's query or OUR emission (toDaysSinceYearZero,
        # toModifiedJulianDay, toRelativeDayNum). ClickHouse has no
        # 2-arg dateDiff, so normalizing to lowercase pass-through is
        # unambiguous and keeps translate() a fixpoint (round-8
        # differential-corpus find).
        return f"datediff({args[0]}, {args[1]})"
    if len(args) != 3:
        raise ValueError("dateDiff needs ('unit', start, end)")
    unit = args[0].strip().strip("'").lower()
    a, b = args[1], args[2]
    if unit in _DIFF_SECONDS:
        s = _DIFF_SECONDS[unit]
        return (
            f"((unix_timestamp(date_trunc('{unit}', {b}))"
            f" - unix_timestamp(date_trunc('{unit}', {a}))) DIV {s})"
        )
    if unit == "week":
        return (
            f"(datediff(date_trunc('week', {b}), date_trunc('week', {a}))"
            f" DIV 7)"
        )
    if unit == "month":
        return (
            f"((year({b}) * 12 + month({b}))"
            f" - (year({a}) * 12 + month({a})))"
        )
    if unit == "quarter":
        return (
            f"((year({b}) * 4 + quarter({b}))"
            f" - (year({a}) * 4 + quarter({a})))"
        )
    if unit == "year":
        return f"(year({b}) - year({a}))"
    raise ValueError(f"dateDiff: no translation for unit {unit!r}")


_INTERVAL_PAT = re.compile(
    r"^INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?$", re.IGNORECASE
)


def _to_start_of_interval(args: list[str]) -> str:
    """toStartOfInterval(ts, INTERVAL n unit) -> epoch-floor bucketing.
    Literal second/minute/hour/day intervals (the sub-day buckets a
    date_trunc can't express); anything else is a loud error."""
    if len(args) != 2:
        raise ValueError("toStartOfInterval needs (ts, INTERVAL n unit)")
    m = _INTERVAL_PAT.match(args[1].strip())
    if not m:
        raise ValueError(
            "toStartOfInterval translates only literal "
            "INTERVAL n SECOND/MINUTE/HOUR/DAY"
        )
    n = int(m.group(1))
    secs = n * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        m.group(2).lower()
    ]
    return (
        f"timestamp_seconds((unix_timestamp({args[0]}) DIV {secs})"
        f" * {secs})"
    )


def _json_extract(name: str, args: list[str], cast_to: str | None) -> str:
    """JSONExtract*(json, 'key') -> get_json_object(json, '$.key').

    Only the literal-key, top-level form translates (the path must be
    baked into get_json_object's JSONPath literal); non-literal keys
    pass through unchanged and fail loudly in Spark's parser.
    """
    if len(args) != 2 or not (
        args[1].startswith("'") and args[1].endswith("'")
    ):
        return f"{name}({', '.join(args)})"
    key = args[1][1:-1]
    expr = f"get_json_object({args[0]}, '$.{key}')"
    return f"CAST({expr} AS {cast_to})" if cast_to else expr


_FMT_CODES = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss",
    "%%": "%",
}


def _format_datetime(args: list[str]) -> str:
    """formatDateTime(ts, '%Y-%m-%d') -> date_format(ts, 'yyyy-MM-dd').

    Literal formats only; an unrecognized % code is a loud error
    (silently emitting the wrong Java pattern would corrupt output).
    Literal letters in the format are quoted for Java's pattern syntax.
    """
    if len(args) != 2 or not (
        args[1].startswith("'") and args[1].endswith("'")
    ):
        raise ValueError(
            "formatDateTime translates only with a literal format string"
        )
    fmt = args[1][1:-1]
    parts: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            code = fmt[i : i + 2]
            if code not in _FMT_CODES:
                raise ValueError(
                    f"formatDateTime: no translation for format code "
                    f"{code!r}"
                )
            parts.append(_FMT_CODES[code])
            i += 2
        else:
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            lit = fmt[i:j]
            # Java date patterns treat letters as pattern codes; quote
            # any literal run containing letters or quotes.
            if any(c.isalpha() or c == "'" for c in lit):
                parts.append("'" + lit.replace("'", "''") + "'")
            else:
                parts.append(lit)
            i = j
    # Double any quote for embedding in the SQL string literal (Java
    # sees the un-doubled pattern after SQL parsing).
    pattern = "".join(parts).replace("'", "''")
    return f"date_format({args[0]}, '{pattern}')"


_DATE_PARTS = {
    "toYear": "year",
    "toMonth": "month",
    "toDayOfMonth": "day",
    # toDayOfWeek is handled separately: the week-start conventions
    # differ (ClickHouse Monday=1..Sunday=7, ISO; Spark dayofweek
    # Sunday=1..Saturday=7) — a bare name mapping was a silent
    # off-by-one on 6 of 7 days.
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
}


def _tz_loud(ch: str, render):
    """Wrap a 1-arg date-family handler so ClickHouse's optional
    trailing-TIMEZONE argument goes LOUD: Spark timestamps are
    zoneless, and the old behavior of silently dropping the argument
    shifted every rendered value by the zone offset (r13 probe
    find — toDate(ts, 'UTC') et al simply ignored the 'UTC')."""

    def handler(a: list[str]) -> str:
        if len(a) == 1:
            return render(a)
        raise ValueError(
            f"ClickHouse {ch}(x, timezone) has no Spark translation "
            "— Spark timestamps are zoneless; convert_timezone() "
            "first, deliberately"
        )

    return handler


def _multi_if(args: list[str]) -> str:
    """multiIf(c1, v1, c2, v2, ..., else) -> CASE WHEN chain."""
    if len(args) % 2 == 0 or len(args) < 3:
        raise ValueError("multiIf needs cond/value pairs plus an else")
    whens = " ".join(
        f"WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    return f"(CASE {whens} ELSE {args[-1]} END)"


def _multi_search_any(args: list[str]) -> str:
    """multiSearchAny(h, [n1, n2, ...]) -> any-needle containment.
    The needle list must be a bracket literal (ClickHouse's array
    syntax), converted to Spark's array(...) constructor."""
    if len(args) != 2 or not (
        args[1].startswith("[") and args[1].endswith("]")
    ):
        raise ValueError(
            "multiSearchAny translates only with a [..] needle-array "
            "literal"
        )
    needles = args[1][1:-1]
    return f"exists(array({needles}), __ms -> contains({args[0]}, __ms))"
