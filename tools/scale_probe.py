#!/usr/bin/env python3
"""Build the 8x scaled document corpus used by the PLANS.md scale probe.

Replicates sf0.1 documents 8x with disjoint doc_id ranges; replicas k>0
have every 3rd word replaced by a replica tag, which zeroes cross-replica
3-gram Jaccard (every 3-gram window contains a replaced position), so the
near-dup structure scales linearly instead of exploding combinatorially.
Embeddings are replicated 8x on the SAME disjoint id scheme (values
unchanged — id-aligned with the document replicas, so q101's
candidate→embedding join resolves for every replica). Fact tables are
symlinked from sf0.1.

Usage:
  python3 tools/scale_probe.py [outdir=/tmp/sfbig]
  SPARK_GRAFT_SF_DIR=/tmp/sfbig bash tools/run.sh graft.Bench \
      q31_dedup_ngram_jaccard q33_dedup_simhash q79_simhash_scale
"""
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REPLICAS = 8


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig"
    os.makedirs(out, exist_ok=True)
    for t in ("region nation customer supplier part orders "
              "lineitem events").split():
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)
    df = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    parts = []
    for k in range(REPLICAS):
        d = df.copy()
        d["doc_id"] = d["doc_id"] + k * 1_000_000
        if k > 0:
            tag = f"r{k}"
            d["text"] = d["text"].map(lambda t: " ".join(
                tag if i % 3 == 0 else w for i, w in enumerate(t.split())))
        parts.append(d)
    big = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False),
                   os.path.join(out, "documents.parquet"))
    print(f"{len(big)} docs -> {out}/documents.parquet")
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet")).to_pandas()
    eparts = []
    for k in range(REPLICAS):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * 1_000_000
        eparts.append(e)
    bige = pd.concat(eparts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(bige, preserve_index=False),
                   os.path.join(out, "embeddings.parquet"))
    print(f"{len(bige)} vecs -> {out}/embeddings.parquet")


if __name__ == "__main__":
    main()
