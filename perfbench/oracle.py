"""Checks the operator suite's outputs against the DuckDB oracle queries in
`perfbench/oracle/<query>.sql` (pinned copies of `SparkEntry.oracleSql`),
run over the same generated `documents` and `embeddings` files."""
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
TOLERANCE = 2e-6  # results are rounded to 6 decimals on both sides


def _key(row):
    return tuple((0, "") if v is None else (1, v) for v in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=0, abs_tol=TOLERANCE)
    return a == b


def check(inputs, outputs, queries):
    """Returns a list of mismatch descriptions, empty when every query agrees."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')")
    problems = []
    for q in queries:
        with open(os.path.join(HERE, "oracle", q + ".sql")) as f:
            want = con.execute(f.read())
        cols = [d[0] for d in want.description]
        want = sorted(want.fetchall(), key=_key)
        sel = ", ".join(f'"{c}"' for c in cols)
        got = sorted(con.execute(
            f"SELECT {sel} FROM read_parquet('{outputs}/{q}/*.parquet')").fetchall(), key=_key)
        if len(got) != len(want):
            problems.append(f"{q}: {len(got)} rows, oracle has {len(want)}")
            continue
        bad = [(g, w) for g, w in zip(got, want)
               if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w))]
        if bad:
            problems.append(f"{q}: {len(bad)} rows differ from the oracle, first {bad[0]}")
    con.close()
    return problems
