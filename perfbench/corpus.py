"""Seeded benchmark inputs: the pages corpus and its analyzer postings.

Both are pure functions of (seed, size) and are cached on disk under the
work directory, so two commits benchmarked with the same seed read
identical bytes and neither pays generation time inside a timed phase.

The postings are the oracle's ground truth. They come from the
generator's own `text` field (never from the HTML extractor under test)
run through `TermGenerator`, the analysis rules `xapian_analyzer` wraps.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context, resource_tracker

import pyarrow as pa
import pyarrow.parquet as pq

# Doc-id blocks handed to each tokenizer worker.
_BLOCK = 250


# Files the pages corpus is split into, so the scan and the HTML
# extraction run in parallel as they would over a crawl's many files.
PAGE_FILES = 8


def _write_atomic(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def pages_path(cache_dir: str, seed: int, n_docs: int) -> str:
    """Directory of PAGE_FILES parquet files of (doc_id, html, text) for
    docs 0..n_docs-1 at `seed`, in doc order."""
    from xapian_spark.io.pages import generate_page

    path = os.path.join(cache_dir, f"pages-s{seed}-n{n_docs}")
    if not os.path.exists(path):
        rows = [generate_page(i, seed) for i in range(n_docs)]
        table = pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
        })
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        step = -(-n_docs // PAGE_FILES)
        for i in range(PAGE_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, f"part-{i:05d}.parquet"))
        os.replace(tmp, path)
    return path


def read_pages(path: str, columns=None) -> pa.Table:
    return pq.read_table(path, columns=columns).sort_by("doc_id")


def analyze(doc_ids, texts):
    """(doc_id, text) pairs → postings and positions columns."""
    from xapian_spark.analysis.tokenizer import TermGenerator

    tg = TermGenerator()
    post = {"term": [], "doc_id": [], "wdf": []}
    pos = {"term": [], "doc_id": [], "p": []}
    for doc_id, text in zip(doc_ids, texts):
        for term, (wdf, positions) in tg.index_text(text).terms.items():
            post["term"].append(term)
            post["doc_id"].append(doc_id)
            post["wdf"].append(wdf)
            for p in positions:
                pos["term"].append(term)
                pos["doc_id"].append(doc_id)
                pos["p"].append(p)
    return post, pos


def _analyze_block(args):
    path, lo, hi = args
    t = read_pages(path, ["doc_id", "text"]).slice(lo, hi - lo)
    return analyze(t.column("doc_id").to_pylist(),
                   t.column("text").to_pylist())


def postings_paths(cache_dir: str, pages: str, workers: int):
    """(postings.parquet, positions.parquet) for a pages corpus, built
    with `workers` spawned tokenizer processes on a cache miss."""
    post_path, pos_path = pages + ".post.parquet", pages + ".pos.parquet"
    if os.path.exists(post_path) and os.path.exists(pos_path):
        return post_path, pos_path
    n = read_pages(pages, ["doc_id"]).num_rows
    blocks = [(pages, lo, min(lo + _BLOCK, n)) for lo in range(0, n, _BLOCK)]
    post = {"term": [], "doc_id": [], "wdf": []}
    pos = {"term": [], "doc_id": [], "p": []}
    with ProcessPoolExecutor(max_workers=workers,
                             mp_context=get_context("spawn")) as ex:
        for bpost, bpos in ex.map(_analyze_block, blocks):
            for k in post:
                post[k].extend(bpost[k])
            for k in pos:
                pos[k].extend(bpos[k])
    # spawn started a resource-tracker process; end it now rather than
    # at interpreter exit
    resource_tracker._resource_tracker._stop()
    _write_atomic(pa.table({
        "term": pa.array(post["term"], pa.string()),
        "doc_id": pa.array(post["doc_id"], pa.int64()),
        "wdf": pa.array(post["wdf"], pa.int64()),
    }), post_path)
    _write_atomic(pa.table({
        "term": pa.array(pos["term"], pa.string()),
        "doc_id": pa.array(pos["doc_id"], pa.int64()),
        "p": pa.array(pos["p"], pa.int64()),
    }), pos_path)
    return post_path, pos_path
