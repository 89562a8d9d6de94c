"""The filter contract: one normalizer and one range test behind every
pruning tier.

A filter is a DNF over ``(col, op, val)`` terms — a flat AND-list
``[(col, op, val), ...]`` or an OR-of-ANDs ``[[...], [...]]`` (the
reference's contract, fastparquet/api.py:948-999, ops util.py:411-419).
:func:`dnf` normalizes every accepted spelling; :func:`may_match` is the
one min/max/null-count test that row-group stats, ColumnIndex pages,
fpsc container stats and hive partition values are all judged by
(the reference likewise serves ``filter_out_stats``, ``filter_out_cats``
and ``filter_row_groups`` from one ``filter_val``/``filter_in``/
``filter_not_in`` set).  The per-file clause rewrites and the Arrow
residual row filter live here too, so every tier reads one definition
of what a term means:

- SQL null semantics: a null matches ``is_null`` and nothing else
  (``!=`` and ``not in`` included), and a ``None`` member of an
  ``in``/``not in`` list matches no row;
- NaN never compares: a NaN equals nothing, itself included, and
  orders with nothing, so ``==``, ``in`` and the orderings are false
  for it and ``!=`` and ``not in`` true (IEEE; a NaN member of a list
  matches no row);
- pruning is sound: False from :func:`may_match` means no value of the
  chunk can match; True promises nothing.  A file's float bounds may
  leave a NaN out (pyarrow's do), which :func:`_stat_may_match` allows
  for.
"""

from __future__ import annotations

import bisect

OPS = ("==", "=", "!=", "<", "<=", ">", ">=", "in", "not in",
       "is_null", "is_not_null")


def dnf(filters) -> list[list[tuple]]:
    """Normalize a filter to a list of AND-clauses of ``(col, op, val)``
    tuples.  ``None`` and ``[]`` mean match-all, ``[[]]`` (an empty
    clause is true for every row); a flat AND-list becomes one clause.
    A term is any sequence whose first element is a ``str``, so JSON
    lists work as well as tuples.  An op outside :data:`OPS` raises
    ``ValueError`` — a silently dropped term would return wrong rows."""
    if not filters:
        return [[]]
    if filters[0] and isinstance(filters[0][0], str):
        filters = [filters]
    out = []
    for clause in filters:
        terms = []
        for col, op, val in clause:
            if op not in OPS:
                raise ValueError(f"unsupported filter op {op!r}")
            terms.append((col, op, val))
        out.append(terms)
    return out


def may_match(op, val, lo, hi, nulls, nvals) -> bool:
    """Can any value of a chunk satisfy ``col <op> val``?  The chunk is
    described by its bounds ``lo``/``hi`` (``None``: unknown on that
    side), its null count ``nulls`` and value count ``nvals`` (either
    ``None``: unknown).  False only when provably no value matches; on
    a constant chunk (``lo == hi``, no nulls) the answer is exact.
    Incomparable ``val``/bound types raise ``TypeError``."""
    if op == "is_null":
        return nulls != 0
    all_null = nulls is not None and nulls == nvals
    if op == "is_not_null":
        return not all_null
    if all_null:
        return False  # every comparison with null is unknown -> false
    if op in ("==", "="):
        return not ((hi is not None and val > hi)
                    or (lo is not None and val < lo))
    if op == ">":
        return hi is None or hi > val
    if op == ">=":
        return hi is None or hi >= val
    if op == "<":
        return lo is None or lo < val
    if op == "<=":
        return lo is None or lo <= val
    if op == "in":
        sv = sorted(_members(val))
        if not sv:
            return False
        if lo is None:
            return hi is None or sv[0] <= hi
        if hi is None:
            return sv[-1] >= lo
        return bisect.bisect_left(sv, lo) < bisect.bisect_right(sv, hi)
    # != / not in rule out only a constant chunk holding a rejected value
    constant = lo is not None and lo == hi
    if op == "!=":
        return not (constant and lo == val)
    if op == "not in":
        return not (constant and lo in val)
    raise ValueError(f"unsupported filter op {op!r}")


def _members(val) -> list:
    """The members of an ``in``/``not in`` list a value can equal: its
    nulls and NaNs match no row."""
    return [v for v in val if v is not None and v == v]


def _stat_may_match(op, val, lo, hi, nulls, nvals) -> bool:
    """:func:`may_match` over bounds read from a file (row-group,
    page-index or container stats).  Float bounds may leave a NaN out,
    so a constant float chunk can still hold a NaN that ``!=`` and
    ``not in`` keep: the chunk is judged as if its upper bound were
    unknown."""
    if isinstance(lo, float) and op in ("!=", "not in"):
        hi = None
    return may_match(op, val, lo, hi, nulls, nvals)


def point_values(op, val):
    """The probe values of a term a bloom filter can answer (``==``:
    the value, ``in``: its members a value can equal), or None for
    every other op."""
    if op in ("==", "="):
        return [val]
    if op == "in":
        return _members(val)
    return None


def _chunk_may_match(cols, clause) -> bool:
    """Can any row of a chunk satisfy the AND-clause?  ``cols`` maps a
    column to its ``(lo, hi, nulls, nvals)`` stats; terms on other
    columns, or whose value cannot be compared with the stats, cannot
    prune (conservative)."""
    for col, op, val in clause:
        st = cols.get(col)
        if st is None:
            continue
        try:
            if not _stat_may_match(op, val, *st):
                return False
        except TypeError:
            continue
    return True


def check_columns(clauses, known) -> None:
    """Raise ``ValueError`` for a term on a column outside ``known``
    (the union schema's columns and the partition columns), as the
    reference does (fastparquet/api.py:948-999): a reader that cannot
    find a term's column would otherwise drop the term and return rows
    it does not match."""
    bad = {col for clause in clauses for col, _op, _v in clause
           if col not in known}
    if bad:
        raise ValueError(
            f"No filter can be applied on nonexistent column(s) {bad}")


def _eval_partition_term(v, op, val) -> bool:
    """Evaluate one term against a file's constant partition value
    ``v`` — :func:`may_match` on a constant, which is exact.

    When the partition COLUMN resolved to string (mixed spellings like
    k=3 beside k=abc) the stored value is a str while the filter value
    may be numeric — equality-class ops compare stringified (matching
    the column's resolved type); ordering ops against an incomparable
    type raise loudly instead of silently dropping the file."""
    if isinstance(v, str) and not isinstance(val, str):
        if op in ("==", "=", "!="):
            val = str(val)
        elif op in ("in", "not in"):
            val = [x if isinstance(x, str) else str(x) for x in val]
        elif isinstance(val, (int, float)):
            raise ValueError(
                f"cannot order-compare numeric filter value {val!r} "
                f"against string-typed partition value {v!r} — the "
                f"column resolved to string (mixed value spellings); "
                f"pass a string bound")
    return may_match(op, val, v, v, int(v is None), 1)


def _file_clauses(clauses, pvals: dict, absent=()):
    """Per-file DNF rewrite: partition terms are decided HERE against
    the file's constant values — a clause whose partition term fails is
    dropped for this file, a passing term is stripped (already true for
    every row).  Columns the file predates (``absent``, schema
    evolution) read as all-null, i.e. as the constant None: ``is_null``
    is stripped, any other term drops its clause.  Returns the residual
    clauses; an empty residual clause means 'every row of this file
    matches that branch'."""
    pvals = {**dict.fromkeys(absent), **pvals}
    out = []
    for clause in clauses:
        keep, resid = True, []
        for col, op, val in clause:
            if col in pvals:
                if not _eval_partition_term(pvals[col], op, val):
                    keep = False
                    break
            else:
                resid.append((col, op, val))
        if keep:
            out.append(resid)
    return out


def _apply_row_filter_dnf(table, clauses):
    """The exact residual filter in Arrow compute (behind
    read_pages(exact=True) and ``to_pandas(row_filter=True)``): the OR
    of the clauses' AND masks.  Terms on columns the table lacks are
    skipped; a clause left with no term keeps every row."""
    import pyarrow.compute as pc

    masks = [_row_mask(table, clause) for clause in clauses]
    if any(m is None for m in masks):
        return table
    keep = masks[0]
    for m in masks[1:]:
        keep = pc.or_(keep, m)
    return table.filter(keep)


def _row_mask(table, clause):
    """AND-clause as an Arrow boolean mask (None: no term applies); a
    null matches only ``is_null``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cmp = {"==": pc.equal, "=": pc.equal, "!=": pc.not_equal,
           "<": pc.less, "<=": pc.less_equal,
           ">": pc.greater, ">=": pc.greater_equal}
    mask = None
    for col, op, val in clause:
        if col not in table.column_names:
            continue
        c = table.column(col)
        if op == "is_null":
            m = pc.is_null(c)
        elif op == "is_not_null":
            m = pc.is_valid(c)
        elif op in ("in", "not in"):
            members = _members(val)
            # an empty set takes the column's type: Arrow rejects a
            # null-typed set against a string column
            m = pc.is_in(c, value_set=pa.array(
                members, type=None if members else c.type))
            if op == "not in":
                m = pc.and_(pc.invert(m), pc.is_valid(c))
        else:
            m = cmp[op](c, val)
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return mask
