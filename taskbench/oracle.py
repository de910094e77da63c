"""Output check of the batch workloads against the DuckDB oracle.

Each query's output, as the harness wrote it, and the result of the
query's `SparkEntry.oracleSql` over the same input tables are put in one
canonical form: columns sorted by name, doubles rounded to 1e-6,
timestamps as ISO strings, lists as tuples, rows sorted. Two outputs
match when their canonical digests are equal. A double that lies on a
rounding boundary can round to neighbouring 1e-6 steps on the two
engines (partial aggregates are summed in another order), so on a digest
mismatch the rows are compared again with a tolerance of one step.
"""
import glob
import hashlib
import math

TABLES = ("events",)
STEP = 1e-6


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        return _norm(v.item())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return v


def canonical(columns, rows):
    """(sorted column names, sorted normalised rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(repr(x) for x in r))
    return cols, out


def digest(cols, rows):
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= STEP * 1.5 * max(1.0, abs(a) * 1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got, want):
    """Compare two canonical (cols, rows) pairs; returns (ok, detail)."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return False, f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return False, f"{len(gr)} rows != oracle {len(wr)}"
    if digest(gc, gr) == digest(wc, wr):
        return True, "digest"
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if not _close(a, b)]
    if bad:
        return False, f"{len(bad)}/{len(gr)} rows differ, first: {gr[bad[0]]} != {wr[bad[0]]}"
    return True, "within one 1e-6 step"


def read_parquet_dir(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no output under {path}")
    tables = [pq.read_table(f) for f in files]
    cols = tables[0].column_names
    rows = [tuple(r[c] for c in cols) for t in tables for r in t.to_pylist()]
    return cols, rows


def check_all(items, data_dir):
    """Check every `oracle` item; returns {query: (ok, detail, oracle_rows)}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for it in items:
        if it.get("kind") != "oracle":
            continue
        name = it["query"]
        try:
            res = con.execute(it["sql"])
            wcols = [d[0] for d in res.description]
            want = canonical(wcols, res.fetchall())
            got = canonical(*read_parquet_dir(it["path"]))
            ok, detail = compare(got, want)
            out[name] = (ok, detail, len(want[1]))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}", None)
    return out
