"""Order-insensitive comparison of Spark results with the DuckDB oracle.

The normalization follows tools/check_oracle.py: columns compared by
sorted name, rows as a multiset, every value rendered the same way on both
sides (numbers as doubles in their shortest round-trip text), NaN equal to
NaN. The comparison runs inside DuckDB, which keeps it fast enough to check
every op on every run: each side is reduced to its column names, row count
and the sum of its rendered rows' hashes.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rendered(con, relation):
    """SQL rendering every column of `relation` (a view name) as text, in
    sorted column order."""
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0]):
        q = f'"{name}"'
        if typ in ("FLOAT", "DOUBLE", "REAL") or typ.startswith("DECIMAL"):
            parts.append(f"CASE WHEN isnan(CAST({q} AS DOUBLE)) THEN 'NaN' "
                         f"ELSE CAST(CAST({q} AS DOUBLE) AS VARCHAR) END")
        elif typ.endswith("[]"):
            parts.append(f"CAST(list_transform({q}, x -> CAST(CAST(x AS DOUBLE) AS VARCHAR)) AS VARCHAR)"
                         if typ.startswith(("FLOAT", "DOUBLE")) else f"CAST({q} AS VARCHAR)")
        else:
            parts.append(f"CAST({q} AS VARCHAR)")
    names = [c[0] for c in sorted(cols, key=lambda c: c[0])]
    row = " || chr(31) || ".join(f"coalesce({p}, chr(0))" for p in parts) or "''"
    return names, f"SELECT {row} AS r FROM {relation}"


def _fingerprint(con, relation):
    names, rows = _rendered(con, relation)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash(r)::HUGEINT), 0) FROM ({rows})").fetchone()
    return names, n, h


def compare(inputs, checks):
    """`checks`: [op, spark result dir, oracle SQL]. Returns [(op, message)]
    for every op whose result differs from the oracle's."""
    if not checks:
        return []
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    wrong = []
    for op, result_dir, sql in checks:
        try:
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM '{result_dir}/*.parquet'")
            con.execute(f"CREATE OR REPLACE VIEW want AS {sql}")
            g, w = _fingerprint(con, "got"), _fingerprint(con, "want")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            wrong.append((op, f"check error: {str(e)[:200]}"))
            continue
        if g[0] != w[0]:
            wrong.append((op, f"columns differ: spark={g[0]} oracle={w[0]}"))
        elif g[1:] != w[1:]:
            wrong.append((op, f"rows differ: spark n={g[1]} oracle n={w[1]}"))
    con.close()
    return wrong
