#!/usr/bin/env python3
"""Synthesize the sf1 stress tables (10x sf0.1) for the scale-cliff
bench — documents + embeddings only, which is what the dedup / ANN /
streaming-trigger families read.

Writes to /tmp/graft_sf1 (NEVER into /root/testdata, which is
driver-owned and read-only). Construction: 10 id-shifted replicas of
sf0.1. Replica r > 0 suffixes every word with `_r`, so each replica
keeps sf0.1's internal near-dup structure EXACTLY (shingle sets are
isomorphic) while no shingle ever matches across replicas — a 10x
corpus with 10x the true duplicate mass instead of an artificial
everything-matches-everything blowup. Embeddings likewise: replica r
rotates the vector by r positions (norms and within-replica cosine
geometry preserved, cross-replica cosines uncorrelated).

Usage: python3 tools/make_sf1.py [reps] [outdir] [tables]
  tables: comma-list of {documents,embeddings,events}; default all.
  The sf10 streaming probe uses `100 /tmp/graft_sf10 documents` —
  a 100x docs-only point (the streaming trigger families read only
  documents), cheap enough to synthesize per round.
"""
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"
TABLES = set((sys.argv[3] if len(sys.argv) > 3
              else "documents,embeddings,events").split(","))


def write_parts(df, path, schema=None, n_parts=32):
    """Write as a DIRECTORY of part files. Spark's scan parallelism is
    file/byte-split-bounded, and the projection-only operator paths
    (e.g. the simhash_fp fingerprint pass) inherit it directly — a
    single-file sf1 serialized them (measured: the simhash_fp path,
    then keyed dedup_simhash_expr and now run by dedup_simhash,
    31.8s single-file vs parallel over parts). A 100 TB corpus is
    thousands of files; mirror that shape."""
    import os
    import shutil
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    step = (len(df) + n_parts - 1) // n_parts
    for i in range(n_parts):
        chunk = df.iloc[i * step:(i + 1) * step]
        if chunk.empty:
            continue
        t = pa.Table.from_pandas(chunk, preserve_index=False)
        if schema is not None:
            t = t.cast(schema)
        pq.write_table(t, f"{path}/part-{i:04d}.parquet")


def make_documents():
    docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
    n_docs = len(docs)
    parts = []
    for r in range(REPS):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + r * n_docs  # dense ids 0..REPS*n-1
        if r > 0:
            suf = f"_{r}"
            d["text"] = d["text"].map(
                lambda t: " ".join(w + suf for w in t.split(" ")))
            d["n_chars"] = d["text"].str.len().astype("int64")
        parts.append(d)
    out = pd.concat(parts, ignore_index=True)
    write_parts(out, f"{OUT}/documents.parquet", n_parts=max(32, REPS))
    print(f"documents: {len(out)} rows")


def make_embeddings():
    emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
    n_emb = len(emb)
    parts = []
    for r in range(REPS):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + r * n_emb
        if r > 0:
            e["embedding"] = e["embedding"].map(
                lambda v: np.roll(np.asarray(v, dtype=np.float32), r))
        parts.append(e)
    out = pd.concat(parts, ignore_index=True)
    schema = pq.read_table(f"{SRC}/embeddings.parquet").schema
    write_parts(out, f"{OUT}/embeddings.parquet", schema)
    print(f"embeddings: {len(out)} rows")


def make_events():
    # Events for the analytics family: replica r shifts user_id (so
    # app_id = "app-"+user_id becomes 10x distinct apps at sf0.1's
    # per-app volume — the realistic scale-up axis) and event_id by
    # r*n (id-derived event-type/attempt mod patterns stay within each
    # replica; across replicas they just re-sample the same
    # distribution). Timestamps are kept as-is: 10x the apps active in
    # the same calendar window stresses the concurrency/range-join
    # analytics harder, which is the point.
    ev_tbl = pq.read_table(f"{SRC}/events.parquet")
    ev = ev_tbl.to_pandas()
    n_ev = len(ev)
    max_user = int(ev["user_id"].max()) + 1
    parts = []
    for r in range(REPS):
        e = ev.copy()
        e["event_id"] = e["event_id"] + r * n_ev
        e["user_id"] = e["user_id"] + r * max_user
        parts.append(e)
    out = pd.concat(parts, ignore_index=True)
    write_parts(out, f"{OUT}/events.parquet", ev_tbl.schema)
    print(f"events: {len(out)} rows")


def main():
    import os
    os.makedirs(OUT, exist_ok=True)
    if "documents" in TABLES:
        make_documents()
    if "embeddings" in TABLES:
        make_embeddings()
    if "events" in TABLES:
        make_events()


if __name__ == "__main__":
    main()
