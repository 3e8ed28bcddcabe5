"""Correctness check against the catalog's DuckDB twins (``oracle_sql()``).

The comparison is the repository's own: ``scripts/check_oracle.value_hash``
(order-insensitive, canonicalised by ``_canon``) over the tables named in
``scripts/oracle_types.TABLES``. Expected results are computed once per
input directory and cached next to it.
"""

from __future__ import annotations

import json
from pathlib import Path

from scripts.check_oracle import _canon, value_hash
from scripts.oracle_types import TABLES


def _digest(rows, cols) -> dict:
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": value_hash(rows, cols)}


def expected(sf_dir: Path, names: list[str], oracles: dict[str, str],
             cache: Path) -> dict[str, dict]:
    """name -> {rows, cols, hash} of each oracle's output on ``sf_dir``,
    read from ``cache`` when present and computed for the missing names."""
    got = json.loads(cache.read_text()) if cache.exists() else {}
    missing = [n for n in names if n not in got]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        for n in missing:
            res = con.execute(oracles[n])
            got[n] = _digest(res.fetchall(), [d[0] for d in res.description])
        con.close()
        tmp = cache.with_suffix(".tmp")
        tmp.write_text(json.dumps(got, indent=1, sort_keys=True))
        tmp.replace(cache)
    return {n: got[n] for n in names}


def check(rows, cols, want: dict) -> str | None:
    """None when Spark's output matches the oracle digest, else the first
    difference found."""
    have = _digest(rows, cols)
    if have["cols"] != want["cols"]:
        return f"cols spark={have['cols']} duckdb={want['cols']}"
    if have["rows"] != want["rows"]:
        return f"rowcount spark={have['rows']} duckdb={want['rows']}"
    if have["hash"] != want["hash"]:
        first = min((tuple(_canon(v) for v in r) for r in rows), default=())
        return f"value-hash mismatch (first spark row {first})"
    return None
