"""Driver-side file-range pruning — the rebuild's critical-point pruning.

The reference prunes HBase regions by building per-dimension critical
point ranges from the predicate and partially evaluating the predicate
over each region's key range (RangeCriticalPoint.generatePrunedPartitions,
HBaseCriticalPoint.scala:410-481,646-731; 3-valued partial reduction
PartialPredicateOperations.scala:27-408).

Re-expressed over typed values: each file carries min/max per key column
(catalog file index, written at load). A predicate AST is evaluated
against the file's bounding box with MAY/NO logic — a file survives iff
the predicate MAY be satisfiable inside the box. This is interval
arithmetic, ~150 LoC instead of the reference's 730 LoC of byte-range
machinery (SURVEY §7.2.6), because keys stay native-typed.

Parquet row-group/page min-max skipping then re-prunes *inside* each
surviving file (the analogue of the reference's in-region seek-hint
filter, HBaseCustomFilter.scala:43-658), and the full predicate is
re-evaluated by codegen'd filters — pruning is advisory, never a
correctness dependency.

Point-get conversion (≙ HBaseSQLReaderRDD.scala:276-328, where full-key
points and narrow ranges become batched ``Get``s instead of a scan):
when the surviving files hold at most ``LOCAL_SCAN_ROWS`` rows (by the
index's recorded ``rows``, decided before anything is read; the bound
covers the small pruned sets of serving reads, where it was measured),
``read_local`` reads them on the driver with pyarrow and keeps exactly
the rows for which the predicate is TRUE: ``eval_arrow`` evaluates it
with pyarrow compute under SQL's three-valued logic and Spark's
comparison semantics (≙ the reference's server-side filters, evaluated
next to the data). ``scan`` hands the kept rows to Spark as a JVM
``LocalRelation`` with no filter over it, so a collect runs no job; the
range COUNT and UPDATE/DELETE use the same evaluator. A predicate
``eval_arrow`` does not cover (a literal of another type, from a
library caller) and anything larger are read by ``spark.read.parquet``
with the predicate as a Spark filter. Parquet INT96 timestamps come
back from pyarrow as naive values; they are UTC instants and are read
as such.

Predicate AST (tuples, nestable):
    ("and", p, q...)   ("or", p, q...)   ("not", p)
    ("=", col, v) ("!=", col, v) ("<", col, v) ("<=", col, v)
    (">", col, v) (">=", col, v)
    ("in", col, [v...])   ("between", col, lo, hi)
    ("isnull", col)       ("isnotnull", col)

``parse_where`` is the one compiler from WHERE text to this AST (the
SQL routers and UPDATE/DELETE all use it; ``to_sql`` is its inverse).
Its literal rule makes each value compare with the file stats, and hash
for the bloom probe, the way Spark compares the literal with the
column: an integral column takes a numeric literal without exponent
whose exact value is integral, as an ``int`` (``5.0`` → 5); a float or
double column takes any numeric literal, as a ``float``; a string
column takes a string literal; a date column takes a canonical
``'YYYY-MM-DD'`` string. Any other literal — another type, or a column
of another type (timestamp, boolean, decimal, array) — does not
compile, so it never prunes. ``IS [NOT] NULL`` compiles on any column.
"""

from __future__ import annotations

import datetime
import functools
import math
import re
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from heracles_spark import sqltext
from heracles_spark.catalog import (HeraclesCatalog, KeyTable, local_frame,
                                    recorded_rows)

MAY, NO = True, False

# Monotone call counter, test-visible: pytest pins one prune_files
# call per routed statement.
PRUNE_CALLS = 0


def nan_bound(lo: Any, hi: Any) -> bool:
    """Whether a min/max box has a NaN bound. Spark's footers record
    max = NaN for a float column holding one, and every comparison with
    NaN is False in Python while Spark orders NaN above every number:
    such a box decides nothing."""
    return any(isinstance(v, float) and math.isnan(v) for v in (lo, hi))


def may_match(pred: tuple, mins: dict[str, Any], maxs: dict[str, Any],
              key_cols: list[str],
              nulls: "dict[str, int] | None" = None,
              rows: "int | None" = None) -> bool:
    """3-valued reduction collapsed to MAY/NO (≙ partialReduce returning
    TRUE/MAYBE vs FALSE, PartialPredicateOperations.scala:116-384).

    ``nulls``/``rows`` (round-13, optional) are the file's per-column
    null counts and row count: they decide the NULL tests for non-key
    columns (a column with zero nulls cannot satisfy IS NULL; one that
    is all-NULL cannot satisfy IS NOT NULL or any comparison)."""
    op = pred[0].lower()
    if op == "and":
        return all(may_match(p, mins, maxs, key_cols, nulls, rows)
                   for p in pred[1:])
    if op == "or":
        return any(may_match(p, mins, maxs, key_cols, nulls, rows)
                   for p in pred[1:])
    if op == "not":
        # Without MUST tracking, NOT is conservatively satisfiable except
        # over the two null tests on key columns, which are decidable.
        inner = pred[1]
        if inner[0].lower() == "isnull":
            return may_match(("isnotnull", inner[1]), mins, maxs,
                             key_cols, nulls, rows)
        if inner[0].lower() == "isnotnull":
            return may_match(("isnull", inner[1]), mins, maxs,
                             key_cols, nulls, rows)
        return MAY

    col = pred[1]
    nc = None if nulls is None else nulls.get(col)
    if op == "isnull":
        # Key columns are non-nullable (HBaseRelation.scala:668);
        # otherwise a recorded zero null count is just as decisive.
        return NO if (col in key_cols or nc == 0) else MAY
    if op == "isnotnull":
        return NO if (nc is not None and rows is not None
                      and nc >= rows and col not in key_cols) else MAY
    if col not in mins or col not in maxs:
        # No stats box for this column → cannot prune on values —
        # unless the file is provably all-NULL in it (comparisons are
        # never TRUE on NULL).
        if nc is not None and rows is not None and nc >= rows \
                and col not in key_cols:
            return NO
        return MAY
    lo, hi = mins[col], maxs[col]
    if nan_bound(lo, hi):
        return MAY

    try:
        if op == "=":
            return lo <= pred[2] <= hi
        if op == "!=":
            return not (lo == hi == pred[2])
        if op == "<":
            return lo < pred[2]
        if op == "<=":
            return lo <= pred[2]
        if op == ">":
            return hi > pred[2]
        if op == ">=":
            return hi >= pred[2]
        if op == "in":
            return any(lo <= v <= hi for v in pred[2])
        if op == "between":
            return not (pred[3] < lo or pred[2] > hi)
    except TypeError:
        # Literal/stat type mismatch (e.g. a string literal probed
        # against int stats — valid SQL, Spark casts row-level). The box
        # can't decide: degrade to MAY, never abort the statement.
        return MAY
    raise ValueError(f"unknown predicate op: {op}")


def must_match(pred: tuple, mins: dict[str, Any], maxs: dict[str, Any],
               key_cols: list[str],
               nulls: "dict[str, int] | None" = None,
               rows: "int | None" = None) -> bool:
    """ALL-rows reduction (round-12): True only when EVERY row in the
    file's bounding box provably satisfies the predicate — the
    Iceberg-style 'fully contained file' test that lets a range COUNT
    answer contained files from metadata row counts and scan only
    boundary files. Sound, incomplete: False means 'cannot prove',
    never 'no row matches'. Decidable over KEY columns (non-null by
    construction — a NULL would make the atom UNKNOWN, not TRUE) and,
    since round 13, over any column whose recorded null count is ZERO
    for this file (``nulls``; a file-local non-null proof is just as
    strong). Expects NNF input (``to_nnf``) — a surviving NOT is
    conservatively False."""
    op = pred[0].lower()
    if op == "and":
        return all(must_match(p, mins, maxs, key_cols, nulls, rows)
                   for p in pred[1:])
    if op == "or":
        return any(must_match(p, mins, maxs, key_cols, nulls, rows)
                   for p in pred[1:])
    if op == "not":
        return False
    col = pred[1]
    nc = None if nulls is None else nulls.get(col)
    if col not in key_cols and nc != 0:
        return False            # nullable: TRUE-for-all not provable
    if op == "isnotnull":
        return True             # proven non-null (key or zero nulls)
    if op == "isnull":
        return False
    if col not in mins or col not in maxs:
        return False
    lo, hi = mins[col], maxs[col]
    if nan_bound(lo, hi):
        return False
    try:
        if op == "=":
            return lo == hi == pred[2]
        if op == "!=":
            return hi < pred[2] or lo > pred[2]
        if op == "<":
            return hi < pred[2]
        if op == "<=":
            return hi <= pred[2]
        if op == ">":
            return lo > pred[2]
        if op == ">=":
            return lo >= pred[2]
        if op == "in":
            return lo == hi and any(lo == v for v in pred[2])
        if op == "between":
            return lo >= pred[2] and hi <= pred[3]
    except TypeError:
        return False            # literal/stat type mismatch: unprovable
    return False                # unknown op: stay conservative


_COMPLEMENT = {"=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=",
               ">=": "<"}


def to_nnf(pred: tuple, negate: bool = False) -> tuple:
    """Negation normal form: push NOT down through and/or (De Morgan) and
    into comparison complements (≙ the reference's NOT pusher feeding its
    CNF-ish pushdown classifier, HBaseStrategies notPusher). Every
    rewrite is exact under SQL three-valued *row-keeping* semantics: a
    WHERE keeps rows where the predicate is TRUE, and e.g. NOT(x < v) is
    TRUE exactly when x >= v is TRUE (both NULL when x is NULL) —
    likewise NOT IN ⇒ conjunction of !=, NOT BETWEEN ⇒ out-of-range
    disjunction. Without this, ``may_match`` treats any NOT subtree as
    un-prunable (conservative MAY)."""
    op = pred[0].lower()
    if op == "not":
        return to_nnf(pred[1], not negate)
    if op in ("and", "or"):
        new_op = ({"and": "or", "or": "and"}[op] if negate else op)
        return (new_op, *[to_nnf(p, negate) for p in pred[1:]])
    if not negate:
        return pred
    if op in _COMPLEMENT:
        return (_COMPLEMENT[op], pred[1], pred[2])
    if op == "in":
        return ("and", *[("!=", pred[1], v) for v in pred[2]])
    if op == "between":
        return ("or", ("<", pred[1], pred[2]), (">", pred[1], pred[3]))
    if op == "isnull":
        return ("isnotnull", pred[1])
    if op == "isnotnull":
        return ("isnull", pred[1])
    return ("not", pred)           # unknown op: stay conservative


def prune_files(files: list[dict[str, Any]], pred: tuple | None,
                key_cols: list[str]) -> list[dict[str, Any]]:
    """A file survives iff the predicate MAY hold inside its min/max box
    AND its bloom filters (equality probes on declared non-key columns,
    heracles_spark.bloom) don't prove a sought value absent."""
    global PRUNE_CALLS
    PRUNE_CALLS += 1
    if pred is None:
        return files
    from heracles_spark import bloom as _bloom

    pred = to_nnf(pred)
    return [f for f in files
            if may_match(pred, f.get("min", {}), f.get("max", {}),
                         key_cols, f.get("nulls"), f.get("rows"))
            and _bloom.may_match(pred, f.get("bloom", {}))]


_INTEGRAL = ("tinyint", "byte", "smallint", "short", "int", "integer",
             "bigint", "long")
_FLOATING = ("float", "real", "double")
# A numeric literal as Spark's lexer reads one; a suffix (5L, 5BD) or a
# following identifier character makes it no match.
_NUMBER = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)([eE][+-]?\d+)?(?![\w.])")
_ISO_DATE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
_CMP_OPS = {"=": "=", "==": "=", "!=": "!=", "<>": "!=", "<": "<",
            "<=": "<=", ">": ">", ">=": ">="}


def _typed(sql_type: str, value: str, is_string: bool):
    """A string literal's value, or a numeric literal's text, as the
    column's stats value it compares with (the module's literal rule);
    ValueError when the literal does not fit the column."""
    base = sql_type.lower().split("(")[0]
    if is_string and base in ("string", "varchar"):
        return value
    if is_string and base == "date" and _ISO_DATE.fullmatch(value):
        datetime.date.fromisoformat(value)       # a real day, or raise
        return value
    if not is_string and base in _INTEGRAL and "e" not in value.lower():
        d = Decimal(value)
        if d == d.to_integral_value():
            return int(d)
    if not is_string and base in _FLOATING and math.isfinite(float(value)):
        return float(value)
    raise ValueError(f"literal does not fit a {sql_type} column")


def parse_where(text: str, types: dict[str, str],
                quals: "set[str] | None") -> "tuple | None":
    """Compile WHERE text into the pruning AST, or None when any part of
    it falls outside this grammar (the only code that does)::

        expr   := term (OR term)*
        term   := factor (AND factor)*
        factor := '(' expr ')' | atom
        atom   := col (= | == | != | <> | < | <= | > | >=) lit
                | col BETWEEN lit AND lit | col IN '(' lit, ... ')'
                | col IS [NOT] NULL

    ``types`` maps each column to its SQL type; a column resolves
    case-insensitively and may carry a qualifier named in ``quals``
    (lower case). A literal that does not fit its column (``_typed``)
    does not compile. ≙ the predicate tree the reference's
    critical-point collector walks (HBaseCriticalPoint.scala:410-481)."""
    cmap = {c.lower(): c for c in types}
    pos = 0

    def _at():
        return toks[pos] if pos < len(toks) else None

    def _take(*words: str) -> bool:
        nonlocal pos
        got = toks[pos:pos + len(words)]
        if len(got) < len(words) or any(
                t.text.upper() != w or (t.kind != "word" and w.isalpha())
                for t, w in zip(got, words)):
            return False
        pos += len(words)
        return True

    def _expect(*words: str) -> None:
        if not _take(*words):
            raise ValueError(f"expected {' '.join(words)}")

    def _name() -> str:
        nonlocal pos
        t = _at()
        if t is None or t.kind not in ("word", "ident"):
            raise ValueError("expected a column")
        pos += 1
        return (t.text[1:-1].replace("``", "`") if t.kind == "ident"
                else t.text).lower()

    def _column() -> str:
        name = _name()
        if _take("."):
            if name not in (quals or ()):
                raise ValueError(f"unknown qualifier {name!r}")
            name = _name()
        if name not in cmap:
            raise ValueError(f"no such column {name!r}")
        return cmap[name]

    def _literal(col: str):
        nonlocal pos
        parts = []
        while _at() is not None and _at().kind == "str":
            parts.append(sqltext.string_value(_at().text))
            pos += 1
        if parts:
            return _typed(types[col], "".join(parts), True)
        m = _at() and _NUMBER.match(text, _at().start)
        if not m:
            raise ValueError("expected a literal")
        while pos < len(toks) and toks[pos].start < m.end():
            pos += 1
        return _typed(types[col], m.group(), False)

    def _atom():
        nonlocal pos
        col = _column()
        if _take("IS", "NULL"):
            return ("isnull", col)
        if _take("IS", "NOT", "NULL"):
            return ("isnotnull", col)
        if _take("BETWEEN"):
            lo = _literal(col)
            _expect("AND")
            return ("between", col, lo, _literal(col))
        if _take("IN", "("):
            vals = [_literal(col)]
            while _take(","):
                vals.append(_literal(col))
            _expect(")")
            return ("in", col, vals)
        op = ""
        while _at() is not None and _at().kind == "op" \
                and _at().text in "<>=!" \
                and (not op or _at().start == toks[pos - 1].end):
            op += _at().text
            pos += 1
        if op not in _CMP_OPS:
            raise ValueError(f"not a comparison: {op!r}")
        return (_CMP_OPS[op], col, _literal(col))

    def _chain(word: str, part):
        node = [part()]
        while _take(word):
            node.append(part())
        return node[0] if len(node) == 1 else (word.lower(), *node)

    def _factor():
        if not _take("("):
            return _atom()
        node = _expr()
        _expect(")")
        return node

    def _expr():
        return _chain("OR", lambda: _chain("AND", _factor))

    try:
        toks = sqltext.lex(text)
        node = _expr()
    except (ValueError, RecursionError):       # RecursionError: deep parens
        return None
    return node if pos == len(toks) else None


def pred_columns(pred: tuple) -> set[str]:
    """Every column a pruning AST tests."""
    if pred[0].lower() in ("and", "or", "not"):
        return set().union(*map(pred_columns, pred[1:]))
    return {pred[1]}


def to_sql(pred: tuple) -> str:
    """Render the AST as a SQL condition for the residual scan filter —
    the inverse of ``parse_where``."""
    op = pred[0].lower()
    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(to_sql(p) for p in pred[1:]) + ")"
    if op == "not":
        return f"(NOT {to_sql(pred[1])})"
    col = f"`{pred[1]}`"
    if op == "in":
        return f"{col} IN ({', '.join(_lit(v) for v in pred[2])})"
    if op == "between":
        return f"{col} BETWEEN {_lit(pred[2])} AND {_lit(pred[3])}"
    if op == "isnull":
        return f"{col} IS NULL"
    if op == "isnotnull":
        return f"{col} IS NOT NULL"
    return f"{col} {pred[0]} {_lit(pred[2])}"


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return sqltext.quote(v)
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


# Point-get bound: the most rows (by the index's recorded ``rows``) the
# pruned files may hold for ``read_local`` to read them on the driver.
# The kv_ingest benchmark's gets, short ranges and range-COUNT boundary
# files prune to 1-3 files of 4.5k-15k rows, nearly all under this
# bound; no larger pruned set is benchmarked. On one file of N rows of
# that table (4-core box), a get or short range read locally took
# 24-38 ms against Spark's 60-87 ms for N = 5k-80k, but an aggregate
# over the kept rows of an all-boundary file was even at 11k rows and
# lost above (103 vs 92 ms at 20k). The rows handed to Spark stay a
# ``LocalRelation`` while their Arrow bytes are under
# ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
# default), i.e. for rows averaging up to ~4 KiB at this bound; wider
# rows are still answered, by a job.
LOCAL_SCAN_ROWS = 12_000

# Footer keys of files whose dates/timestamps Spark rebases from the
# hybrid Julian calendar on read; pyarrow would not, so such files are
# left to Spark.
_LEGACY_CALENDAR = {b"org.apache.spark.legacyDateTime",
                    b"org.apache.spark.legacyINT96"}


def _file_type(t):
    """A parquet column's Arrow type as Spark reads it: INT96
    timestamps, naive from pyarrow, are UTC instants."""
    import pyarrow as pa

    if pa.types.is_timestamp(t) and t.tz is None:
        return pa.timestamp(t.unit, tz="UTC")
    return t


def _same_type(have, want) -> bool:
    import pyarrow as pa

    if pa.types.is_list(have) and pa.types.is_list(want):
        return have.value_type == want.value_type
    if pa.types.is_timestamp(have) and pa.types.is_timestamp(want):
        return have.tz == want.tz
    return have == want


def _readable(pf, arrow) -> bool:
    """Whether pyarrow reads parquet file ``pf`` under Arrow schema
    ``arrow`` the way Spark's reader does: no legacy-calendar footer,
    and every column either matched by its exact name with the same
    type or absent under any case (then null-filled). Footer-only."""
    if _LEGACY_CALENDAR & set(pf.metadata.metadata or {}):
        return False
    have = {f.name: _file_type(f.type) for f in pf.schema_arrow}
    lower = {n.lower() for n in have}
    return all(_same_type(have[f.name], f.type) if f.name in have
               else f.name.lower() not in lower for f in arrow)


def _read_file(pf, arrow):
    """A ``_readable`` parquet file as a table in Arrow schema ``arrow``:
    columns by name, a column the file lacks (added by ALTER after it
    was written) null-filled, extra (dropped) columns ignored."""
    import pyarrow as pa

    names = set(pf.schema_arrow.names)
    t = pf.read(columns=[f.name for f in arrow if f.name in names])
    cols = [t.column(f.name).cast(f.type) if f.name in names
            else pa.nulls(t.num_rows, f.type) for f in arrow]
    return pa.Table.from_arrays(cols, schema=arrow)


_ARROW_CMP = {"=": "equal", "!=": "not_equal", "<": "less",
              "<=": "less_equal", ">": "greater", ">=": "greater_equal"}


def _arrow_operand(arrow_type):
    """The Arrow type a column of ``arrow_type`` is compared in, or None
    for a column ``eval_arrow`` does not cover: integral columns compare
    as BIGINT (Spark widens the column to the literal's type), float
    and double columns as DOUBLE, strings as UTF-8 bytes, dates as
    days."""
    import pyarrow as pa

    if pa.types.is_signed_integer(arrow_type):
        return pa.int64()
    if pa.types.is_float32(arrow_type) or pa.types.is_float64(arrow_type):
        return pa.float64()
    if pa.types.is_string(arrow_type) or pa.types.is_date32(arrow_type):
        return arrow_type
    return None


def _arrow_literal(as_type, v):
    """``parse_where``'s literal ``v`` as a value of ``_arrow_operand``
    type ``as_type`` (an ``int``, a non-NaN ``float``, a ``str``, a
    canonical ``'YYYY-MM-DD'`` string); TypeError for any other."""
    import pyarrow as pa

    if pa.types.is_int64(as_type) and type(v) is int:
        return v
    if pa.types.is_float64(as_type) and type(v) is float \
            and not math.isnan(v):
        return v + 0.0                 # -0.0 → 0.0: SQL says they are =
    if pa.types.is_string(as_type) and type(v) is str:
        return v
    if pa.types.is_date32(as_type) and type(v) is str \
            and _ISO_DATE.fullmatch(v):
        return datetime.date.fromisoformat(v)
    raise TypeError(f"{v!r} is not a literal for a {as_type} column")


def _compile_arrow(pred: tuple, schema):
    """``pred`` compiled against Arrow ``schema``: a function from a
    table in that schema to the predicate's Kleene mask, or None when
    some atom is not covered (see ``eval_arrow``). Deciding from the
    schema alone lets ``read_local`` decline before reading a file."""
    import pyarrow as pa
    import pyarrow.compute as pc

    op = pred[0].lower()
    if op in ("and", "or", "not"):
        parts = [_compile_arrow(p, schema) for p in pred[1:]]
        if None in parts:
            return None
        if op == "not":
            return lambda t: pc.invert(parts[0](t))
        join = pc.and_kleene if op == "and" else pc.or_kleene
        return lambda t: functools.reduce(join, [f(t) for f in parts])
    i = schema.get_field_index(pred[1])
    if i < 0:
        return None
    if op == "isnull":
        return lambda t: pc.is_null(t.column(i))
    if op == "isnotnull":
        return lambda t: pc.is_valid(t.column(i))
    as_type = _arrow_operand(schema.field(i).type)
    if as_type is None or op not in (*_ARROW_CMP, "in", "between"):
        return None
    try:
        lits = pa.array([_arrow_literal(as_type, v) for v in
                         (pred[2] if op == "in" else pred[2:])], as_type)
    except (TypeError, ValueError, OverflowError, pa.ArrowException):
        return None             # e.g. a literal outside the column's range
    floating = pa.types.is_floating(as_type)

    def cmp(c, o, v):
        m = getattr(pc, _ARROW_CMP[o])(c, v)
        # Spark orders NaN above every number (IEEE says unordered).
        return pc.or_kleene(m, pc.is_nan(c)) if floating and o in (
            ">", ">=") else m

    def mask(t):
        c = t.column(i)
        if c.type != as_type:
            c = c.cast(as_type)
        if op == "between":
            return pc.and_kleene(cmp(c, ">=", lits[0]), cmp(c, "<=", lits[1]))
        if op != "in":
            return cmp(c, op, lits[0])
        if floating:
            c = pc.add(c, 0.0)                  # -0.0 → 0.0 for the hash
        # is_in says FALSE for a NULL input; SQL says NULL.
        return pc.if_else(pc.is_valid(c), pc.is_in(c, value_set=lits), None)

    return mask


def eval_arrow(pred: tuple, table):
    """SQL's three-valued mask of pruning AST ``pred`` over Arrow
    ``table`` (TRUE, FALSE or NULL per row; a WHERE keeps the TRUE
    rows), computed with pyarrow compute exactly as Spark evaluates
    ``to_sql(pred)`` — or None when some atom is not covered. Covered:
    every AST ``parse_where`` emits, i.e. IS [NOT] NULL on any column
    and comparisons, IN and BETWEEN on integral, float/double, string
    and date columns with literals of ``parse_where``'s types. Spark's
    float semantics hold: NaN = NaN, NaN sorts above every number and
    -0.0 = 0.0. A literal outside the column's range, or of another
    type, is not covered (None), never an error."""
    fn = _compile_arrow(pred, table.schema)
    return None if fn is None else fn(table)


def read_local(tbl: KeyTable, files: list[dict[str, Any]],
               pred: tuple | None) -> "pyarrow.Table | None":
    """Point-get conversion: the rows of ``files`` for which ``pred`` is
    TRUE (all of them when ``pred`` is None), read and filtered on the
    driver into ``tbl``'s Arrow schema by ``eval_arrow`` — or None,
    decided before any data is read, when the files are for Spark to
    read: some entry has no recorded ``rows``, they hold more than
    ``LOCAL_SCAN_ROWS`` rows, a file's footer shows Spark would read it
    differently (``_readable``), or ``eval_arrow`` does not cover
    ``pred``."""
    import contextlib

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    total = recorded_rows(files)
    if total is None or total > LOCAL_SCAN_ROWS:
        return None
    arrow = to_arrow_schema(tbl.schema())
    mask_of = None if pred is None else _compile_arrow(pred, arrow)
    if pred is not None and mask_of is None:
        return None
    with contextlib.ExitStack() as stack:
        pfs = [stack.enter_context(pq.ParquetFile(
            f["path"], coerce_int96_timestamp_unit="us")) for f in files]
        if not all(_readable(pf, arrow) for pf in pfs):
            return None
        parts = [_read_file(pf, arrow) for pf in pfs]
    table = pa.concat_tables(parts) if parts else arrow.empty_table()
    return table if mask_of is None else table.filter(mask_of(table))


def scan(spark: SparkSession, catalog: HeraclesCatalog, table: str,
         pred: tuple | None = None,
         stats_out: "dict[str, Any] | None" = None,
         residual: bool = True) -> DataFrame:
    """Pruned scan: file-index pruning, then a read of the survivors
    filtered by the full predicate — on the driver by ``read_local``
    when they are small and ``eval_arrow`` covers the predicate (the
    frame carries no filter), else a parquet read with the predicate as
    a Spark residual filter (pushed to parquet row groups by Spark — ≙
    per-partition predicate specialization,
    HBasePartition.computePredicate).

    ``stats_out`` (optional) receives this call's own pruning record —
    ``files_read``, ``files_total``, ``scan`` ("local" or "spark") and,
    for a local scan, ``local_rows``: the rows the predicate keeps.

    ``residual=False`` returns the pruned files WITHOUT the Spark row
    filter — for callers that re-apply the original predicate text
    themselves (the SQL agg router swaps the table ref for this
    relation and keeps the statement's own WHERE, so the filter runs
    exactly once); a local scan has filtered its rows already."""
    tbl = catalog.get_table(table)
    keep = prune_files(tbl.files, pred, tbl.key_cols)
    stats: dict[str, Any] = {"files_read": len(keep),
                             "files_total": len(tbl.files)}
    rows = read_local(tbl, keep, pred)
    if rows is None:
        stats["scan"] = "spark"
        df = spark.read.schema(tbl.schema()).parquet(
            *[f["path"] for f in keep])
        if pred is not None and residual:
            df = df.where(to_sql(pred))
    else:
        stats.update(scan="local", local_rows=rows.num_rows)
        df = local_frame(spark, rows, tbl.schema())
    if stats_out is not None:
        stats_out.update(stats)
    return df
