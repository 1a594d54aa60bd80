"""Inputs of the benchmark workloads.

``data/sf0.01/documents.parquet`` and ``data/sf0.1/documents.parquet`` are
byte-for-byte copies of the ``documents`` table of the repository's sf0.01
and sf0.1 test data (``doc_id, text, lang, source, n_chars``; one row group
each), kept here so that the benchmark reads nothing outside its checkout.
The replicated corpus is written with pyarrow, not Spark, so making it costs
no Spark jobs and the same seed always gives the same bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _sizes(texts: list[str], n_bytes: int, files: int) -> dict:
    return {"docs": len(texts), "tokens": sum(len(t.split()) for t in texts),
            "bytes": n_bytes, "files": files}


def sf001_documents(sf_dir: str, seed: int) -> dict:
    """The sf0.01 documents as they are: 500 docs in one parquet file of
    one row group, so every scan is one task.  The seed does not change
    them."""
    src = os.path.join(DATA, "sf0.01", "documents.parquet")
    os.makedirs(sf_dir, exist_ok=True)
    dst = os.path.join(sf_dir, "documents.parquet")
    shutil.copyfile(src, dst)
    texts = pq.read_table(dst, columns=["text"]).column("text").to_pylist()
    return _sizes(texts, os.path.getsize(dst), 1)


def sf01_corpus(sf_dir: str, seed: int, n_base: int, replicas: int) -> dict:
    """``n_base`` sf0.1 documents drawn by the seed, replicated ``replicas``
    times as ``documents.parquet/part-NNNNN.parquet``, one replica per file.

    Each replica appends one distinct word per two base words, as
    ``scripts/scale_probe.py``'s ``scaled_docs`` does, so cross-replica
    similarity stays near 0.5 at every document length and the same spans
    recur in every file.
    """
    base = pq.read_table(os.path.join(DATA, "sf0.1", "documents.parquet"))
    rng = np.random.default_rng(seed)
    pick = np.sort(rng.choice(base.num_rows, size=n_base, replace=False))
    base = base.take(pa.array(pick))
    texts = base.column("text").to_pylist()
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    all_texts: list[str] = []
    size = 0
    for rep in range(replicas):
        rep_texts = [
            t + " " + " ".join(f"q{rep}x{i}" for i in range(len(t.split(" ")) // 2 + 1))
            for t in texts
        ]
        table = (
            base.set_column(0, "doc_id", pc.add(base.column("doc_id"), rep * 10_000_000))
            .set_column(1, "text", pa.array(rep_texts, pa.string()))
            .set_column(4, "n_chars", pa.array([len(t) for t in rep_texts], pa.int64()))
        )
        path = os.path.join(out, f"part-{rep:05d}.parquet")
        # one row group per file, as in the sf tables: a file is a scan task
        pq.write_table(table, path, row_group_size=table.num_rows)
        size += os.path.getsize(path)
        all_texts += rep_texts
    return _sizes(all_texts, size, replicas)
