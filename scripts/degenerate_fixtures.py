#!/usr/bin/env python3
"""Degenerate-input fixtures for Verify + scripts/parity.py.

Usage: degenerate_fixtures.py SRC_SF_DIR OUT_DIR

Writes three scale-factor directories under OUT_DIR, each holding every
table of SRC_SF_DIR (the untouched ones as symlinks):
  empty/    documents and embeddings with the source schema, zero rows;
  one-row/  documents = the first row whose doc_id is a multiple of 5
            from 5 up (its reference edges, to doc_id/2 and doc_id/3,
            point at parents the table does not hold); embeddings empty;
  null-k/   events with props = '{}' on every 7th event_id, so those
            versions carry a NULL k in the registry field model.
The same fixtures DegenerateInputSpec builds with Spark. Never write
into the source directory.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def write_dir(src, out, tables):
    os.makedirs(out, exist_ok=True)
    for name in sorted(os.listdir(src)):
        dst = os.path.join(out, name)
        stem = name[:-len(".parquet")] if name.endswith(".parquet") else None
        if os.path.lexists(dst):
            continue
        if stem in tables:
            pq.write_table(tables[stem], dst)
        else:
            os.symlink(os.path.join(src, name), dst)


def main(src, out):
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ids = docs.column("doc_id").to_pylist()
    pick = min((d, i) for i, d in enumerate(ids) if d is not None and d >= 5 and d % 5 == 0)[1]
    one = docs.slice(pick, 1)
    write_dir(src, os.path.join(out, "empty"), {"documents": docs.slice(0, 0), "embeddings": emb.slice(0, 0)})
    write_dir(src, os.path.join(out, "one-row"), {"documents": one, "embeddings": emb.slice(0, 0)})
    ev = pq.read_table(os.path.join(src, "events.parquet"))
    seventh = pa.array([e is not None and e % 7 == 0 for e in ev.column("event_id").to_pylist()])
    props = pc.if_else(seventh, pa.scalar("{}", ev.schema.field("props").type), ev.column("props"))
    ev = ev.set_column(ev.schema.get_field_index("props"), ev.schema.field("props"), props)
    write_dir(src, os.path.join(out, "null-k"), {"events": ev})
    print(f"one-row doc_id={one.column('doc_id')[0].as_py()}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
