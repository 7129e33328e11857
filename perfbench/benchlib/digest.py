"""Order-independent digests of query results, rendered the way the
repository's correctness check (`scripts/check.py`) renders them.

check.py loads a result into pandas, sorts its columns by name, sorts the
rows and compares the rendered cells. Two results compare equal there
exactly when their multisets of rendered rows are equal, so the digest here
is the row count plus the sum, modulo 2**128, of a hash of every rendered
row. It does not depend on row order and changes when any single cell does.
"""
import hashlib
import math

MOD = 1 << 128


def norm(v):
    """check.py's cell rendering: numpy scalars become Python values, NaN
    renders as "NaN", any float zero as "0", other floats by repr."""
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return repr(v)
    return str(v)


def frame_digest(df):
    """Digest of a pandas frame: "<sorted columns>|<rows>|<row-hash sum>"."""
    cols = sorted(df.columns)
    total = 0
    rows = 0
    for row in df[cols].itertuples(index=False, name=None):
        h = hashlib.blake2b("\x1f".join(norm(v) for v in row).encode(), digest_size=16)
        total = (total + int.from_bytes(h.digest(), "little")) % MOD
        rows += 1
    return f"{','.join(cols)}|{rows}|{total:032x}"


def sql_digest(con, sql):
    """Digest of the result of `sql` on a DuckDB connection."""
    return frame_digest(con.sql(sql).df())


def parquet_digest(con, path):
    """Digest of a directory of parquet files written by the engine."""
    return frame_digest(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
