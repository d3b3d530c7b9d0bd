"""Oracle fingerprints pinned in oracle_fingerprints.json: sha256(oracle SQL +
canonical DuckDB sf0.001 result), first 16 hex digits. After an intended
output change, regenerate and commit: python -m tests.oracle_fingerprints --write
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from tests.oracle_compare import canonical_rows, duckdb_connection

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_fingerprints.json")


def fingerprint(sql: str, oracle_pdf) -> str:
    h = hashlib.sha256(sql.encode())
    for row in canonical_rows(oracle_pdf):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def load() -> dict[str, str]:
    with open(PATH) as f:
        return json.load(f)


if __name__ == "__main__":
    from __spark_entry__ import SF0001, oracle_sql

    con = duckdb_connection(SF0001)
    current = {n: fingerprint(q, con.execute(q).df()) for n, q in sorted(oracle_sql().items())}
    pinned = load()
    drifted = sorted(n for n in current.keys() | pinned.keys() if current.get(n) != pinned.get(n))
    print(f"{len(drifted)} of {len(current)} oracles differ from {PATH}: {drifted}")
    if "--write" in sys.argv[1:]:
        with open(PATH, "w") as f:
            f.write(json.dumps(current, indent=2) + "\n")
