import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import corpus
from oracle import Oracle, matches
from workloads import Run

TEXTS = ["apple banana apple cherry", "banana cherry", "apple date",
         "cherry cherry banana apple date", "elder fig"]


@pytest.fixture
def oracle(tmp_path):
    post, pos = corpus.analyze(range(1, len(TEXTS) + 1), TEXTS)
    pq.write_table(pa.table(post), tmp_path / "post.parquet")
    pq.write_table(pa.table(pos), tmp_path / "pos.parquet")
    o = Oracle(str(tmp_path / "post.parquet"),
               str(tmp_path / "pos.parquet"), str(tmp_path))
    yield o
    o.close()


def _bm25(tf, n, wdf, doclen, avgdl):
    """Xapian BM25 with the default parameters, written out by hand."""
    r = (n - tf + 0.5) / (tf + 0.5)
    tw = math.log(r * 0.5 + 1 if r < 2 else r)
    normlen = max(doclen / avgdl, 0.5)
    return tw * 2 * wdf / ((normlen * 0.5 + 0.5) + wdf)


def test_scores_follow_the_bm25_formula(oracle):
    # 'Zappl' is in docs 1, 3, 4; each doc's length counts raw and Z terms
    lens = {1: 8, 2: 4, 3: 4, 4: 10, 5: 4}
    avgdl = sum(lens.values()) / 5
    want = sorted(((d, _bm25(3, 5, w, lens[d], avgdl))
                   for d, w in ((1, 2), (3, 1), (4, 1))),
                  key=lambda x: (-x[1], x[0]))
    got = oracle.topk(("or", ["Zappl"]), 10)
    assert [d for d, _s in got] == [d for d, _s in want]
    assert all(math.isclose(a, b, rel_tol=1e-12)
               for (_d, a), (_e, b) in zip(got, want))


def test_shapes(oracle):
    docs = lambda spec: {d for d, _s in oracle.topk(spec, 10)}  # noqa: E731
    assert docs(("and", ["Zappl", "Zdate"])) == {3, 4}
    assert docs(("andnot", ["Zappl", "Zdate"])) == {1}
    assert docs(("phrase", ["apple", "banana"])) == {1}
    assert docs(("phrase", ["banana", "apple"])) == {1, 4}


def test_swapped_or_missing_doc_counts_as_failed(oracle):
    spec = ("or", ["Zappl", "Zcherri"])
    # docs 2 and 3 tie for third place, so a top 3 keeps both
    assert [d for d, _s in oracle.topk(spec, 3)] == [1, 4, 2, 3]
    exp = oracle.topk(spec, 2)
    assert [d for d, _s in exp] == [1, 4]
    swapped = [exp[1], exp[0]]
    wrong_doc = [exp[0], (2, exp[1][1])]
    missing = exp[:1]
    run = Run()
    for got in (exp, swapped, wrong_doc, missing):
        run.record(0.5, matches(got, exp, 2))
    assert (run.attempted, run.failed) == (4, 3)
    assert run.failed / run.attempted == 0.75
    assert run.latencies == [0.5, math.inf, math.inf, math.inf]


def test_swap_inside_a_tie_is_allowed():
    exp = [(1, 3.0), (2, 2.0), (3, 2.0 * (1 + 1e-12)), (4, 1.0)]
    exp = sorted(exp, key=lambda x: (-x[1], x[0]))
    assert matches([exp[0], exp[2], exp[1]], exp, 3)
    # a tie that straddles the cut: the oracle keeps the tied doc
    assert matches([(1, 3.0), (3, 2.0)], [(1, 3.0), (2, 2.0), (3, 2.0)], 2)
    assert not matches([(1, 3.0), (4, 2.0)], [(1, 3.0), (2, 2.0)], 2)
    assert not matches([(1, 3.0), (1, 3.0)], [(1, 3.0), (2, 3.0)], 2)


def test_replace_swaps_document_versions(oracle):
    post, pos = corpus.analyze([5], ["apple apple"])
    oracle.replace(post, pos)
    assert 5 in {d for d, _s in oracle.topk(("or", ["Zappl"]), 10)}
    assert oracle.totals() == (5, 8 + 4 + 4 + 10 + 4)
