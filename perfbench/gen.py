"""Seeded load generator: the only inputs the program sees.

Every input derives from a committed copy of the test-data ``documents``
table (TESTDATA.md): ``data/documents_sf0.01.parquet``, 500 rows, the input
behind ``fixturedata/golden_sf0.01.parquet``. The seed shifts every
``doc_id >= 100`` by a multiple of 40, the least common multiple of 8 and
10, so the two shapes the fixture derives from ``doc_id`` hold for any
seed:

- conversation shape: ``conv = (doc_id - 100) // 8``, ``turn = (doc_id - 100) % 8``;
- payload kind mix: ``doc_id % 10``.

Payload decorations (wrong tool hints, stutter, ligatures, link gaps) are
keyed on ``md5(doc_id)``, so they change with the seed. Ids below 100 are
not shifted: they keep the hot ``conv-skew`` conversation and its giant
payload (doc 7).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS_SF001 = os.path.join(HERE, "data", "documents_sf0.01.parquet")

SHIFT_UNIT = 40  # lcm(8, 10)
#: bounds the shift so conv ordinals stay below 10^6 (``conv-%06d``)
SEED_SPAN = 20_000


def seed_shift(seed: int) -> int:
    return SHIFT_UNIT * (1 + seed % SEED_SPAN)


def read_docs(path: str) -> pa.Table:
    return pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")


def seeded_docs(seed: int, base: str) -> pa.Table:
    """``base`` with every id from 100 up shifted by the seed."""
    table = read_docs(base)
    shift = seed_shift(seed)
    ids = [d if d < 100 else d + shift for d in table.column("doc_id").to_pylist()]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": table.column("text")})


def table_digest(table: pa.Table) -> str:
    """md5 over the rows in ``doc_id`` order (the input digest)."""
    h = hashlib.md5()
    t = table.sort_by("doc_id")
    for d, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        h.update(f"{d}\x1f".encode())
        h.update((s or "").encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def write_docs_dir(table: pa.Table, out_dir: str) -> str:
    """Write ``<out_dir>/documents.parquet`` (the ``sf_dir`` layout the
    pipeline reads) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir
