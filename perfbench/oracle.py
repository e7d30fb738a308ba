"""DuckDB comparison with the rules of the repo's `tools/check.py`: equal
row count, equal column names once sorted, and an equal MD5 over the
CSV rendering of the values (columns sorted by name, floats at full
`%.17g` precision). Two normalisations apply to both sides alike:
timestamp columns compare as epoch milliseconds, and a result whose order
is not part of its answer compares as a row set (rows sorted).
"""
import glob
import hashlib
import json
import os

import duckdb


def connect(data_dir, spill_dir):
    con = duckdb.connect()
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    for t in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        src = os.path.join(t, "*.parquet") if os.path.isdir(t) else t
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def fingerprint(con, sql, ordered=True):
    """(rows, sorted column names, value hash, first cell) of a query."""
    cols = con.execute(f"DESCRIBE {sql}").fetchall()
    proj = ", ".join(
        f'epoch_ms("{c}") AS "{c}"' if "TIMESTAMP" in t.upper() else f'"{c}"'
        for c, t, *_ in cols)
    df = con.execute(f"SELECT {proj} FROM ({sql}) AS q").fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    if not ordered and len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.md5(df.to_csv(index=False, float_format="%.17g").encode()).hexdigest()
    first = None
    if len(df) == 1 and len(df.columns) == 1:
        v = df.iat[0, 0]
        first = int(v) if v is not None else None
    return {"rows": len(df), "cols": list(df.columns), "hash": h, "first": first}


def spark_side(con, out_dir, ordered=True):
    return fingerprint(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')", ordered)


class OracleCache:
    """Oracle fingerprints keyed by SQL and fixture, kept across runs."""

    def __init__(self, path, fixture_stamp):
        self.path, self.stamp = path, fixture_stamp
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}
        self.dirty = False

    def get(self, con, sql, ordered=True):
        key = hashlib.sha256(f"{self.stamp}\n{ordered}\n{sql}".encode()).hexdigest()
        if key not in self.data:
            self.data[key] = fingerprint(con, sql, ordered)
            self.dirty = True
        return self.data[key]

    def save(self):
        if self.dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.data, f)
            os.replace(tmp, self.path)


def compare(spark_fp, oracle_fp):
    """None when equal, else a one-line reason."""
    if spark_fp["rows"] != oracle_fp["rows"]:
        return f"rows {spark_fp['rows']} vs oracle {oracle_fp['rows']}"
    if spark_fp["cols"] != oracle_fp["cols"]:
        return f"columns {spark_fp['cols']} vs oracle {oracle_fp['cols']}"
    if spark_fp["hash"] != oracle_fp["hash"]:
        return "value hash differs"
    return None
