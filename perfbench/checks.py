"""Checks of the program's outputs against independently computed results.

Pure functions over plain Python data, so ``tests/test_checks.py`` can feed
each one a perturbed output and see it rejected. Each returns a list of
mismatch messages; an empty list means the output passed.
"""

from __future__ import annotations

import decimal
import math

import numpy as np


def compare_counts(expected: dict[str, int], actual: dict[str, int]) -> list[str]:
    """Every key of either side must carry the same count (a missing key
    counts as 0)."""
    return [
        f"{k}: expected {expected.get(k, 0)}, got {actual.get(k, 0)}"
        for k in sorted(set(expected) | set(actual))
        if expected.get(k, 0) != actual.get(k, 0)
    ]


def integrity_messages(dangling: int, duplicates: int) -> list[str]:
    """Edges with a dangling endpoint and surplus (from, to, type) rows,
    as counted on the program's tables (``run.graph_integrity_counts``)."""
    out = []
    if dangling:
        out.append(f"{dangling} edges with a dangling endpoint")
    if duplicates:
        out.append(f"{duplicates} duplicate (from, to, type) edges")
    return out


def missing_pairs(expected: np.ndarray, actual: np.ndarray) -> list[str]:
    """Every expected SIMILAR_TO pair code must be among ``actual``."""
    n = int(np.count_nonzero(~np.isin(expected, actual)))
    return [f"{n} expected SIMILAR_TO pairs missing"] if n else []


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column names sorted, each row's values in that order with floats
    rounded to 6 places, rows sorted: an order-insensitive form of a
    result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_row_key)


def _row_key(row: tuple) -> tuple:
    # numbers by value (an int and an equal float tie), None apart, the
    # rest by text: a total order over mixed-type rows
    return tuple(
        (0, float(v), "") if isinstance(v, (int, float)) and not isinstance(v, bool)
        else (1, 0.0, "") if v is None
        else (2, 0.0, str(v))
        for v in row
    )


def compare_results(
    name: str,
    got_columns: list[str],
    got_rows,
    want_columns: list[str],
    want_rows,
) -> list[str]:
    """A query's rows against its oracle's: same columns, same row count,
    same rows."""
    gc, gr = normalized_rows(got_columns, got_rows)
    wc, wr = normalized_rows(want_columns, want_rows)
    if gc != wc:
        return [f"{name}: columns {gc} != {wc}"]
    if not wr:
        return [f"{name}: the oracle returned no rows, so the check is void"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows, oracle has {len(wr)}"]
    bad = [(a, b) for a, b in zip(gr, wr) if a != b]
    return [f"{name}: {len(bad)} rows differ, first {bad[0]}"] if bad else []
