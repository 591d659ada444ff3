"""DuckDB oracle comparison of a registry query's result, normalised the
way tools/check.py does it: columns sorted by name, rows sorted, values
compared by exact repr."""
import glob
import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare(con, result_dir, sql):
    """(ok, detail) for the parquet result under `result_dir` against `sql`."""
    if not glob.glob(f"{result_dir}/*.parquet"):
        return False, "no result written (the query threw)"
    try:
        mine = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        mc, mr = normalize([d[0] for d in mine.description], mine.fetchall())
        want = con.execute(sql)
        oc, orows = normalize([d[0] for d in want.description], want.fetchall())
    except Exception as e:  # a DuckDB error is a failed check, not a crash
        return False, str(e).splitlines()[0][:160]
    if mc != oc:
        return False, f"columns {mc} vs {oc}"
    if mr != orows:
        diff = next(((a, b) for a, b in zip(mr, orows) if a != b), None)
        return False, f"rows {len(mr)} vs {len(orows)}; first diff {diff}"
    return True, f"{len(mr)} rows"
