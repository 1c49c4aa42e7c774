"""Seeded benchmark inputs derived from the base tables in ``base/``.

``base/`` holds the engine's star schema at scale factor 0.01 (the
synthetic seed-42 tables the engine's oracle-parity suite runs on).
A workload seed turns them into a fresh input set with transforms that
keep every operator's work the same while changing the bytes it reads:

* key bijections on the id columns, one per key space, applied to every
  column of that space so joins still match. Keys move only within
  their residue class mod ``KEY_CLASSES``, so slices such as
  ``doc_id % 10`` or ``c_custkey % n_folds`` keep the same members
  count;
* a new row order for every table;
* a per-seed alphabet bijection on ``documents.text`` (letters among
  letters, digits among digits): token lengths, counts and overlaps are
  unchanged;
* a dimension permutation and per-dimension sign flips on
  ``embeddings.embedding``: norms, dot products and distances are
  unchanged.

The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Columns that share one key space get the same bijection.
KEY_SPACES = {
    "customer": (("customer", "c_custkey"), ("orders", "o_custkey"),
                 ("events", "user_id")),
    "order": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "part": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "supplier": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "event": (("events", "event_id"),),
    # doc_id and vec_id index the same items in the cross-modal operators.
    "document": (("documents", "doc_id"), ("embeddings", "vec_id")),
}

# lcm of the key moduli the operators slice on (2, 3, 5, 10).
KEY_CLASSES = 30

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"


def key_bijection(keys: np.ndarray, rng: np.random.Generator) -> dict:
    """Map each distinct key to another key of the same residue class."""
    keys = np.unique(keys)
    mapping = {}
    for r in range(KEY_CLASSES):
        cls = keys[keys % KEY_CLASSES == r]
        mapping.update(zip(cls.tolist(), rng.permutation(cls).tolist()))
    return mapping


def text_bijection(rng: np.random.Generator) -> dict:
    src = _LETTERS + _DIGITS
    dst = "".join(rng.permutation(list(_LETTERS))) + "".join(
        rng.permutation(list(_DIGITS))
    )
    return str.maketrans(src, dst)


def _remap(column: pa.ChunkedArray, mapping: dict) -> pa.Array:
    values = column.to_numpy()
    out = np.fromiter((mapping[v] for v in values.tolist()), dtype=values.dtype,
                      count=len(values))
    return pa.array(out, type=column.type)


def transform(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Apply the seed's transforms to in-memory base tables."""
    rng = np.random.default_rng(seed)
    out = dict(tables)
    for space in sorted(KEY_SPACES):
        cols = KEY_SPACES[space]
        keys = np.concatenate([out[t].column(c).to_numpy() for t, c in cols])
        mapping = key_bijection(keys, rng)
        for t, c in cols:
            i = out[t].schema.get_field_index(c)
            out[t] = out[t].set_column(i, c, _remap(out[t].column(c), mapping))

    docs = out["documents"]
    tr = text_bijection(rng)
    i = docs.schema.get_field_index("text")
    text = [None if s is None else s.translate(tr)
            for s in docs.column("text").to_pylist()]
    out["documents"] = docs.set_column(i, "text", pa.array(text, pa.string()))

    emb = out["embeddings"]
    field = emb.schema.field("embedding")
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    dim = vecs.shape[1]
    perm = rng.permutation(dim)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=vecs.dtype), size=dim)
    vecs = vecs[:, perm] * signs
    i = emb.schema.get_field_index("embedding")
    out["embeddings"] = emb.set_column(
        i, field, pa.array(list(vecs), type=field.type)
    )

    for t in TABLES:
        out[t] = out[t].take(pa.array(rng.permutation(out[t].num_rows)))
    return out


def read_base(base_dir: str = BASE_DIR) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
            for t in TABLES}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write one parquet file per table, replacing ``out_dir``."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for t in TABLES:
        pq.write_table(tables[t], os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")


def generate(seed: int, out_dir: str, base_dir: str = BASE_DIR) -> dict[str, int]:
    """Write the seed's input set to ``out_dir``; returns rows per table."""
    tables = transform(read_base(base_dir), seed)
    write_tables(tables, out_dir)
    return {t: tables[t].num_rows for t in TABLES}


def content_digest(data_dir: str) -> str:
    """sha256 over the table files, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
