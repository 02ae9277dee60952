"""Output checks, run after the clock stops.

Spark writes each operation's result to parquet inside the timed region;
these helpers compare that parquet with an independent reference:
DuckDB SQL over the same input parquet (the CEP and live workloads),
the planted duplicate pairs (dedup) and exact numpy top-k (ANN).
"""

from __future__ import annotations

import duckdb
import numpy as np


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table (name -> parquet
    glob), UTC session time zone like the Spark session."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for name, glob in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{glob}')")
    return con


def _canonical(con, rel: str, cols: list[str]) -> str:
    """``rel`` with columns in sorted order and time-zone-aware
    timestamps made naive (Spark writes instants, the oracles use local
    UTC timestamps)."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}
    sel = []
    for c in sorted(cols):
        t = types.get(c, "")
        sel.append(f'CAST("{c}" AS TIMESTAMP) AS "{c}"'
                   if t.startswith("TIMESTAMP WITH") else f'"{c}"')
    return f"SELECT {', '.join(sel)} FROM {rel}"


def compare(con, out_glob: str, oracle_sql: str) -> dict:
    """Multiset comparison of a Spark parquet output with an oracle.

    Returns row counts on both sides, rows missing from the output and
    rows the output has that the oracle lacks (``EXCEPT ALL`` both ways;
    NULLs compare equal, doubles compare exactly)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW __out AS SELECT * FROM "
                f"read_parquet('{out_glob}')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE __ref AS {oracle_sql}")
    ocols = [r[0] for r in con.execute("DESCRIBE __out").fetchall()]
    rcols = [r[0] for r in con.execute("DESCRIBE __ref").fetchall()]
    if sorted(ocols) != sorted(rcols):
        n_ref = con.execute("SELECT count(*) FROM __ref").fetchone()[0]
        return {"ok": False, "ref_rows": n_ref, "missing": n_ref,
                "extra": None, "why": f"columns {ocols} vs {rcols}"}
    a = _canonical(con, "__out", ocols)
    b = _canonical(con, "__ref", rcols)
    n_out = con.execute("SELECT count(*) FROM __out").fetchone()[0]
    n_ref = con.execute("SELECT count(*) FROM __ref").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    return {"ok": missing == 0 and extra == 0, "out_rows": n_out,
            "ref_rows": n_ref, "missing": missing, "extra": extra}


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids per query (ties to the lower id)."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ c.T.astype(np.float64)
    order = np.lexsort((np.broadcast_to(np.arange(c.shape[0]), sims.shape),
                        -sims), axis=1)
    return order[:, :k]


def pair_recall(found: set, planted: list) -> float:
    return (sum(1 for p in planted if p in found) / len(planted)
            if planted else 1.0)
