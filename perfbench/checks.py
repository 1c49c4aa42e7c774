"""Output checks: DuckDB oracle digests of registered queries."""

from __future__ import annotations

import hashlib
import json
import math
import os

from perfbench.inputs import TABLES


def _canon(value) -> str:
    if value is None:
        return "N"
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else f"{value:.9g}"
    return str(value)


def frame_digest(pdf) -> dict:
    """Order-insensitive digest of a pandas frame: column names, row
    count and a hash of the sorted canonical rows."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict:
    """Run each oracle SQL in DuckDB over the tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {name: frame_digest(con.execute(sql).df())
                for name, sql in sorted(oracles.items())}
    finally:
        con.close()


def cached_oracle_digests(
    data_dir: str, content: str, oracles: dict[str, str], cache_dir: str
) -> dict:
    """``oracle_digests`` cached per input content and oracle text."""
    h = hashlib.sha256(content.encode())
    for name in sorted(oracles):
        h.update(f"{name}\x1f{oracles[name]}\x1e".encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:32]}.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    out = oracle_digests(data_dir, oracles)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out

