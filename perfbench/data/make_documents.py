#!/usr/bin/env python3
"""Rebuild sf0.1_documents.txt.gz from the sf0.1 test data.

    python3 perfbench/data/make_documents.py <sf0.1 dir>

Writes the `text` column of <sf0.1 dir>/documents.parquet, one document per
line in doc_id order, gzip-compressed with a fixed header so the bytes are
reproducible. Needs pyarrow; the benchmark itself only reads the output.
"""
import gzip
import os
import sys

import pyarrow.parquet as pq


def main():
    t = pq.read_table(os.path.join(sys.argv[1], "documents.parquet"),
                      columns=["doc_id", "text"]).to_pydict()
    assert t["doc_id"] == list(range(len(t["doc_id"]))), "doc_ids are not 0..n-1 in order"
    assert not any("\n" in x for x in t["text"]), "a document spans lines"
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1_documents.txt.gz")
    with gzip.GzipFile(out, mode="wb", compresslevel=9, mtime=0) as g:
        g.write("".join(x + "\n" for x in t["text"]).encode("utf-8"))


if __name__ == "__main__":
    main()
