"""Seeded inputs of the benchmark.

assembly_refresh reads the corpus fixture `perfbench/data/documents.parquet`
(500 documents) with its `doc_id` column relabelled by a seeded bijection:
which documents fall in x114's `doc_id`-residue carves (v1/v2 drops, the
delta edit, the `% 37` bench slice) moves with the seed. datagen_loop's
records come from `RecordGen.records` with a per-batch seed derived from
the workload seed on the JVM side.
"""
import hashlib
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"


def relabel(ids, seed):
    """A seeded bijection of the id set onto itself: id -> new id."""
    src = sorted(set(ids))
    if len(src) != len(ids):
        raise ValueError("ids are not distinct")
    dst = list(src)
    random.Random(seed).shuffle(dst)
    return dict(zip(src, dst))


def content_hash(table):
    """sha256 of the table's rows in file order, independent of encoding."""
    h = hashlib.sha256()
    for row in table.to_pylist():
        h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


def derive_fixture(seed, out_dir):
    """Write the seeded corpus fixture to `out_dir/documents.parquet` and
    return its content hash."""
    table = pq.read_table(DATA / "documents.parquet")
    ids = table.column("doc_id").to_pylist()
    mapping = relabel(ids, seed)
    i = table.schema.get_field_index("doc_id")
    table = table.set_column(i, "doc_id", pa.array([mapping[x] for x in ids], pa.int64()))
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out_dir / "documents.parquet")
    return content_hash(table)
