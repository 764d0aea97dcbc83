"""Seeded benchmark inputs, generated once per (workload, seed) and cached
under the benchmark's work directory.  Generation is never timed.

Every generator takes the seed and a size; the same seed gives the same
rows.  The program under test only ever sees the files written here.
"""

from __future__ import annotations

import json
import os
import shutil


def _cached(path: str, build) -> dict:
    """Run ``build(path)`` unless ``path`` was completed before; returns the
    metadata dict ``build`` produced.  The metadata file sits beside the
    directory: the file-stream sources read every file inside it."""
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as fh:
            return json.load(fh)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    info = build(path)
    with open(meta + ".tmp", "w") as fh:
        json.dump(info, fh)
    os.replace(meta + ".tmp", meta)
    return info


def pages_stream(root: str, name: str, seed: int, spec: dict, n_files: int) -> dict:
    """A ``gen_pages`` stream replayed as ``n_files`` parquet files."""
    from swingstream.fixtures import PagesSpec, gen_pages, write_pages_stream_dir

    def build(path):
        df = gen_pages(PagesSpec(**spec, seed=seed))
        write_pages_stream_dir(df, path, n_files=n_files)
        return {"docs": int(len(df)), "spec": spec, "files": n_files}

    return {"path": os.path.join(root, name), **_cached(os.path.join(root, name), build)}


def recrawl_batches(
    root: str, name: str, seed: int, n_docs: int, n_batches: int
) -> dict:
    """Zipf-vocabulary corpus in ``n_batches`` micro-batch files.  From
    batch 1 on, one row in ten repeats a batch-0 text byte for byte (the
    digest index rejects it) and a disjoint one in ten repeats a batch-0
    text with two words appended (a near re-crawl).  ``planted_near``
    counts the near re-crawls of texts of at least 100 words: their
    3-word-shingle Jaccard with the source is at least 0.98, so the
    MinHash index rejects each of them but with negligible chance."""
    from swingstream.fixtures import gen_documents

    def build(path):
        full = gen_documents(n_docs=n_docs * n_batches, seed=seed)[["doc_id", "text"]]
        base = full.iloc[:n_docs].reset_index(drop=True)
        # mtimes strictly increase in batch order: the file source
        # replays files by modification time
        t0 = 1_700_000_000
        exact_ids: list[int] = []
        planted_near = 0
        for i in range(n_batches):
            b = full.iloc[i * n_docs:(i + 1) * n_docs].reset_index(drop=True)
            if i > 0:
                exact = b.index % 10 == 0
                near = b.index % 10 == 1
                b.loc[exact, "text"] = base.loc[exact, "text"].values
                b.loc[near, "text"] = base.loc[near, "text"].values + " edit marker"
                exact_ids.extend(int(d) for d in b.loc[exact, "doc_id"])
                planted_near += int((near & (base["text"].str.count(" ") >= 99)).sum())
            p = os.path.join(path, f"batch-{i:04d}.parquet")
            b.to_parquet(p, index=False)
            os.utime(p, (t0 + 10 * i, t0 + 10 * i))
        return {"docs": n_docs * n_batches, "batches": n_batches,
                "planted_near": planted_near, "exact_ids": exact_ids}

    return {"path": os.path.join(root, name), **_cached(os.path.join(root, name), build)}
