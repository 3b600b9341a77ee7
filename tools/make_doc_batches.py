#!/usr/bin/env python3
"""Stage a document corpus as N sequential parquet files for the streaming
dedup growth replay (graft.Bench dedup-growth): batch k is a full copy of the
source documents with a doc_id offset and a copy-index token salt, so
copies are NEAR- (not exact-) duplicates of every earlier batch — each
arriving batch genuinely collides with the landed store, exercising the
probe path, while the store grows by one corpus per batch.

  python3 tools/make_doc_batches.py [srcDir] [dstDir] [batches]

Files are written in batch order with strictly increasing mtimes so the
file stream (maxFilesPerTrigger=1) replays them oldest-first.
"""
import os, sys, time
import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_doc_batches"
batches = int(sys.argv[3]) if len(sys.argv) > 3 else 10

os.makedirs(dst, exist_ok=True)
con = duckdb.connect()
for k in range(batches):
    salt = "" if k == 0 else f"'growsalt{k} ' || "
    out = f"{dst}/batch_{k:03d}.parquet"
    con.sql(f"""
    COPY (
      SELECT doc_id + {k} * 10000000 AS doc_id,
             {salt}text AS text, lang, source,
             CAST(len({salt}text) AS BIGINT) AS n_chars
      FROM read_parquet('{src}/documents.parquet')
    ) TO '{out}' (FORMAT PARQUET)""")
    # strictly ordered mtimes -> deterministic replay order
    os.utime(out, (time.time() - (batches - k) * 10,
                   time.time() - (batches - k) * 10))
print(f"staged {batches} batches at {dst}")
