"""DuckDB oracle comparison for one query result.

Same rule as the repository's result gate: column names compared
case-insensitively, DuckDB's view of both sides' types must agree (up to
integer width and timestamp precision), and the rows, with columns
sorted by name, must be equal as sorted multisets of exact values.
"""
import math

import duckdb

import datagen

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
_TS = {"TIMESTAMP", "TIMESTAMP_NS", "TIMESTAMP WITH TIME ZONE"}


def _canon(rows):
    return sorted(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                        for v in row) for row in rows)


def _types_equiv(got, exp):
    return got == exp or (got in _INTS and exp in _INTS) or (got in _TS and exp in _TS)


def compare(data_dir, result_dir, sql):
    """None when the parquet result at `result_dir` equals the oracle
    `sql` over the tables in `data_dir`, else a one-line reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in datagen.TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        except duckdb.Error:
            pass  # tables the workload does not generate
    got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'")
    exp = con.sql(sql)
    gc, ec = list(got.columns), list(exp.columns)
    if sorted(c.lower() for c in gc) != sorted(c.lower() for c in ec):
        return f"columns differ: {sorted(gc)} vs {sorted(ec)}"
    gt = {c.lower(): str(t) for c, t in zip(gc, got.types)}
    et = {c.lower(): str(t) for c, t in zip(ec, exp.types)}
    bad = [c for c in gt if not _types_equiv(gt[c], et[c])]
    if bad:
        return "types differ: " + ", ".join(f"{c}: {gt[c]} vs {et[c]}" for c in bad)
    g = _canon(got.select(",".join(f'"{c}"' for c in sorted(gc, key=str.lower))).fetchall())
    e = _canon(exp.select(",".join(f'"{c}"' for c in sorted(ec, key=str.lower))).fetchall())
    if g != e:
        return f"rows differ: {len(g)} vs {len(e)}"
    return None
