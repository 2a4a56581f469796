"""Order-insensitive digests of the DuckDB oracle results.

The benchmark checks each query's Spark result once per run against a
committed digest instead of running DuckDB on every run.  Both sides are
canonicalized with ``tests/parity.py``, the module the oracle-parity
tests use, so a digest match is the same verdict as ``assert_parity``.

Regenerate ``digests.json`` after a change to the data or the query
lists (from the repository root; needs duckdb):

    python3 perfbench/digests.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "digests.json")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Row count plus sha256 over the column names and the sorted reprs of
    the canonical rows (so row order does not matter)."""
    h = hashlib.sha256(repr(list(cols)).encode())
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def regenerate() -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    from flink_pipeline_spark.plans import oracle_sqls
    from tests.parity import rows_from_duckdb

    from workloads import QUERIES

    names = sorted({q for qs in QUERIES.values() for q in qs})
    out: dict[str, dict] = {}
    for tag in sorted(os.listdir(DATA)):
        sf_dir = os.path.join(DATA, tag)
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sqls = oracle_sqls(sf_dir)
        out[tag] = {}
        for name in names:
            cols, rows = rows_from_duckdb(con, sqls[name])
            out[tag][name] = digest(cols, rows)
            print(tag, name, out[tag][name]["rows"], flush=True)
        con.close()
    return out


if __name__ == "__main__":
    result = regenerate()
    with open(DIGESTS, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
