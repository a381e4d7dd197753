"""Answer checks: DuckDB expectations and the canonical result digests.

String-valued answers (BGP and served results) are compared by digest:
columns sorted by name, rows rendered cell by cell and sorted, sha256 —
the same rendering as the harness's `Ops.digest`. Registry answers carry
typed values, so they are compared with the repository's own oracle
gate, `scripts/oracle_check.py` (its tables, `norm_cell` and `canon`):
same column names, same row count, same sorted normalized rows.
"""
import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from oracle_check import TABLES, canon  # noqa: E402


def connect(corpus_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def digest(cols, rows):
    """Order-insensitive digest of string-valued rows (None = unbound)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join("NULL" if r[i] is None else str(r[i])
                               for i in order) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).digest()[:16].hex()


def sql_digest(con, sql):
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())


def registry_check(con, dump_dir, sql):
    """None if the engine's dumped answer equals the oracle's, else why not."""
    got = con.sql(f"SELECT * FROM '{dump_dir}/*.parquet'")
    grows, gcols = got.fetchall(), [c.lower() for c in got.columns]
    exp = con.sql(sql)
    erows, ecols = exp.fetchall(), [c.lower() for c in exp.columns]
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} != oracle {sorted(ecols)}"
    if len(grows) != len(erows):
        return f"{len(grows)} rows != oracle {len(erows)}"
    if canon(grows, gcols) != canon(erows, ecols):
        return "values differ from the oracle"
    return None
