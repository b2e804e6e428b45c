"""Batch query evaluation == the single-query path, per query.

The contract (WandEnquire.get_mset_batch, the one batch serving path):
one job answering a whole query workload over the chunk-encoded
segment index must reproduce Enquire.get_mset over the flat index
exactly — same docids, same BM25 scores, same tiebreak — for every
query in the batch, for OR and AND semantics, wqf-merged duplicates,
and unknown terms.
"""

import pytest

from xapian_spark.query import ops
from xapian_spark.query.executor import Enquire
from xapian_spark.query.wand import WandEnquire


def _single(enq, terms, op, k):
    if op == "and":
        node = ops.And(list(terms))
    else:
        wqf = {}
        for t in terms:
            wqf[t] = wqf.get(t, 0) + 1
        ch = [ops.Term(t, wqf=w) for t, w in wqf.items()]
        node = ch[0] if len(ch) == 1 else ops.Or(ch)
    rows = enq.get_mset(node, 0, k).collect()
    return [(i + 1, r["doc_id"], round(r["score"], 9))
            for i, r in enumerate(rows)]


def _batch(seg, specs, k):
    res = WandEnquire(seg).get_mset_batch(
        [(q, t) for q, t, _o in specs], k,
        ops_by_id={q: o for q, _t, o in specs}).collect()
    out = {}
    for r in res:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for q in out:
        out[q].sort()
    return out


SPECS = [
    ("or3", ["paragraph", "word", "banana"], "or"),
    ("and2", ["paragraph", "word"], "and"),
    ("single", ["paragraph"], "or"),
    ("wqf", ["paragraph", "paragraph", "word"], "or"),
    ("missing_and", ["paragraph", "zzzznotaterm"], "and"),
    ("missing_or", ["paragraph", "zzzznotaterm"], "or"),
    ("all_missing", ["zzzznotaterm"], "or"),
]


@pytest.fixture(scope="module")
def seg_index(tmp_path_factory, spark):
    from xapian_spark.index.segments import build_segments
    from xapian_spark.io.apitest import corpus_df

    docs = corpus_df(spark, "apitest_simpledata")
    path = str(tmp_path_factory.mktemp("batch_seg"))
    return build_segments(docs, path, n_segments=4, analyzer="apitest",
                          text_col="data", input_desc="apitest_simpledata")


def test_batch_matches_single_path(seg_index, simpledata_index):
    enq = Enquire(simpledata_index)
    got = _batch(seg_index, SPECS, k=10)
    for qid, terms, op in SPECS:
        exp = _single(enq, terms, op, 10)
        assert got.get(qid, []) == exp, qid


def test_batch_k_truncates(seg_index, simpledata_index):
    got = _batch(seg_index, [("or3", ["paragraph", "word"], "or")], k=2)
    assert len(got["or3"]) == 2
    assert [r[0] for r in got["or3"]] == [1, 2]
    assert got["or3"] == _single(Enquire(simpledata_index),
                                 ["paragraph", "word"], "or", 2)


def test_wand_batch_matches_single_wand(seg_index):
    wq = WandEnquire(seg_index)
    by_q = _batch(seg_index, SPECS, k=10)
    for qid, terms, op in SPECS:
        wqf = {}
        for t in terms:
            wqf[t] = wqf.get(t, 0) + 1
        rows = wq.get_mset(list(dict.fromkeys(terms)), 10, op=op,
                           wqf=wqf).collect()
        exp = [(i + 1, r["doc_id"], round(r["score"], 9))
               for i, r in enumerate(rows)]
        assert by_q.get(qid, []) == exp, qid
