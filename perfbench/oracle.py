"""Result canonicalisation and comparison shared by make_expected.py and
run.py, after tools/check.py: columns by name, rows sorted, cells compared
exactly, with a float-tolerance diagnostic that tells float drift ("close")
from a wrong result."""
import math

import pyarrow as pa


def kind(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "time"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + kind(t.value_type) + ">"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{kind(f.type)}" for f in t) + ">"
    if pa.types.is_binary(t):
        return "binary"
    return str(t)


def canon(table: pa.Table):
    """(column names, kinds, rows): columns sorted by name, rows sorted."""
    names = sorted(table.column_names)
    t = table.select(names)
    kinds = [kind(t.schema.field(n).type) for n in names]
    cols = [t.column(n).to_pylist() for n in names]
    rows = list(zip(*cols)) if cols else []

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float) and math.isnan(v):
            return (1, "")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return (2, float(v), "")
        return (3, repr(v))

    rows.sort(key=lambda r: tuple(key(v) for v in r))
    return names, kinds, rows


def cell(a, b):
    """(exact, close) for two cells."""
    if a is None and b is None:
        return True, True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return (a == b,) * 2
        if math.isnan(af) and math.isnan(bf):
            return True, True
        exact = af == bf
        return exact, exact or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        if len(a) != len(b):
            return False, False
        rs = [cell(x, y) for x, y in zip(a, b)]
        return all(r[0] for r in rs), all(r[1] for r in rs)
    if isinstance(a, dict) and isinstance(b, dict):
        if sorted(a) != sorted(b):
            return False, False
        rs = [cell(a[k], b[k]) for k in a]
        return all(r[0] for r in rs), all(r[1] for r in rs)
    return (a == b,) * 2


def compare(got: pa.Table, want: pa.Table, con=None):
    """('PASS' | 'CLOSE' | 'FAIL', note). Names, column types and row counts
    first; then an exact multiset comparison in DuckDB (EXCEPT ALL both
    ways); only a mismatch pays for the cell-by-cell diagnostic."""
    gn, wn = sorted(got.column_names), sorted(want.column_names)
    if gn != wn:
        return "FAIL", f"columns {gn} != {wn}"
    gk = [kind(got.schema.field(n).type) for n in gn]
    wk = [kind(want.schema.field(n).type) for n in wn]
    if gk != wk:
        bad = [(n, a, b) for n, a, b in zip(gn, gk, wk) if a != b]
        return "FAIL", f"column types differ {bad[:3]}"
    if got.num_rows != want.num_rows:
        return "FAIL", f"rows {got.num_rows} != {want.num_rows}"
    if con is not None:
        g, w = got.select(gn), want.select(gn)
        con.register("g_tbl", g)
        con.register("w_tbl", w)
        try:
            d = con.execute("SELECT (SELECT count(*) FROM (SELECT * FROM g_tbl EXCEPT ALL "
                            "SELECT * FROM w_tbl)) + (SELECT count(*) FROM (SELECT * FROM "
                            "w_tbl EXCEPT ALL SELECT * FROM g_tbl))").fetchone()[0]
        finally:
            con.unregister("g_tbl")
            con.unregister("w_tbl")
        if d == 0:
            return "PASS", f"{got.num_rows} rows"
    _, _, gr = canon(got)
    _, _, wr = canon(want)
    exact = True
    for i, (x, y) in enumerate(zip(gr, wr)):
        for n, a, b in zip(gn, x, y):
            e, c = cell(a, b)
            if not c:
                return "FAIL", f"row {i} col {n}: {a!r} != {b!r}"
            exact &= e
    return ("PASS", f"{len(gr)} rows") if exact else ("CLOSE", "float-only drift")
