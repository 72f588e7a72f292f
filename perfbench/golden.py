"""Golden row-set hashes of the DuckDB oracles over the battery data.

The battery compares every query's collected result with the hash of its
DuckDB oracle (`aperag_spark.queries.ORACLES`), normalised the way
`scripts/check_oracle.py` does (columns sorted by name, floats rounded to 6
places, rows sorted). Running the 41 oracles takes about 90 s, most of it
`dedup_ngram_jaccard`, so the hashes are computed once and stored in
`golden_sf0.01.json`; each entry records the md5 of the oracle SQL it came
from, and a changed SQL string fails the check instead of passing silently.

Regenerate (needs duckdb):

    python3 perfbench/golden.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
GOLDEN_PATH = os.path.join(HERE, "golden_sf0.01.json")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def row_hash(pdf) -> str:
    """md5 over check_oracle's normalised rows of a pandas frame."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from scripts.check_oracle import _normalize

    return hashlib.md5("\n".join(_normalize(pdf)).encode()).hexdigest()


def sql_md5(sql: str) -> str:
    return hashlib.md5(sql.encode()).hexdigest()


def load() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def main() -> None:
    import duckdb

    sys.path.insert(0, ROOT)
    from aperag_spark.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    out = {}
    for name, sql in ORACLES.items():
        t0 = time.time()
        pdf = con.execute(sql).df()
        out[name] = {"rows": len(pdf), "hash": row_hash(pdf), "sql_md5": sql_md5(sql)}
        print(f"{name}: {len(pdf)} rows ({time.time() - t0:.1f}s)", file=sys.stderr)
    with open(GOLDEN_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
