"""Canonical form of a query result, shared by the oracle generator and
the run-time check: columns sorted by name, rows sorted, cells as JSON
values. DECIMAL cells are tagged {"dec": "<plain string>"} so they
compare exactly; a float on either side compares as float, like the
repository's DuckDB correctness harness.
"""
import decimal


def cell(v):
    """A DuckDB (Python) value as the JSON cell the JVM side writes."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return {"dec": format(n, "f") if n != 0 else "0"}
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def _key(c):
    if c is None:
        return (0, 0.0, "")
    if isinstance(c, dict):
        return (1, float(c["dec"]), "")
    if isinstance(c, (bool, int, float)):
        return (1, float(c), "")
    return (2, 0.0, c)


def canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [[r[i] for i in order] for r in rows]
    out.sort(key=lambda r: tuple(_key(c) for c in r))
    return cols, out


def _num(c):
    return decimal.Decimal(c["dec"]) if isinstance(c, dict) else c


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    numeric = (dict, bool, int, float)
    if isinstance(a, numeric) and isinstance(b, numeric):
        x, y = _num(a), _num(b)
        if isinstance(x, float) or isinstance(y, float):
            return float(x) == float(y)
        return x == y
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a one-line description of the first difference."""
    gc, gr = canonical(got_cols, got_rows)
    if gc != want_cols:
        return f"columns differ: {gc} vs {want_cols}"
    if len(gr) != len(want_rows):
        return f"row counts differ: {len(gr)} vs {len(want_rows)}"
    for i, (g, w) in enumerate(zip(gr, want_rows)):
        for col, x, y in zip(gc, g, w):
            if not cells_equal(x, y):
                return f"row {i} column {col}: {x!r} != {y!r}"
    return None
