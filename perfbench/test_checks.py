"""Each checker accepts a correct answer and rejects a corrupted one.

Run with ``python3 -m pytest perfbench/test_checks.py -q``; no Spark needed.
"""

from __future__ import annotations

import numpy as np
import pytest

import checks
import gen

K = 5


@pytest.fixture(scope="module")
def space():
    sp = gen.VectorSpace(7, 16, 8)
    base = sp.base(2000)
    ids = np.arange(len(base), dtype=np.int64)
    q = gen.perturbed_queries(7, 0, base, 6)
    return ids, base, q


def answer(ids, scores):
    """Ranked rows in the engine's (query_id, vec_id, score, rank) shape."""
    return [
        (j, int(v), float(s), r + 1)
        for j in range(len(ids))
        for r, (v, s) in enumerate(zip(ids[j], scores[j]))
    ]


def topk_errors(rows, space):
    ids, base, q = space
    exp_ids, exp_s = checks.exact_topk(ids, base, q, K)
    id_to_row = {int(v): int(v) for v in ids}
    return checks.check_topk(rows, np.arange(len(q)), exp_ids, exp_s, id_to_row, base, q)


def test_exact_topk_breaks_ties_by_id():
    base = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    ids, scores = checks.exact_topk(np.array([30, 10, 20, 5]), base, np.array([[1.0, 0.0]]), 2)
    assert ids.tolist() == [[5, 10]]
    assert scores.tolist() == [[1.0, 1.0]]


def test_topk_accepts_exact(space):
    ids, base, q = space
    exp_ids, exp_s = checks.exact_topk(ids, base, q, K)
    assert topk_errors(answer(exp_ids, exp_s), space) == []


@pytest.mark.parametrize("corrupt", ["swap_id", "score", "rank", "drop_query"])
def test_topk_rejects(space, corrupt):
    ids, base, q = space
    exp_ids, exp_s = checks.exact_topk(ids, base, q, K)
    exp_ids, exp_s = exp_ids.copy(), exp_s.copy()
    rows = answer(exp_ids, exp_s)
    if corrupt == "swap_id":  # a non-neighbour in place of the k-th
        outsider = next(v for v in ids if v not in exp_ids[0])
        exp_ids[0, -1] = outsider
        rows = answer(exp_ids, exp_s)
    elif corrupt == "score":
        rows[0] = (rows[0][0], rows[0][1], rows[0][2] + 1e-6, rows[0][3])
    elif corrupt == "rank":
        rows[0] = (rows[0][0], rows[0][1], rows[0][2], 2)
    else:
        rows = [r for r in rows if r[0] != 0]
    assert topk_errors(rows, space)


def test_ranked_rejects_wrong_score_and_order(space):
    ids, base, q = space
    exp_ids, exp_s = checks.exact_topk(ids, base, q, K)
    vec_of = dict(enumerate(base))
    qids = np.arange(len(q))
    good = answer(exp_ids, exp_s)
    assert checks.check_ranked(good, qids, K, vec_of, q) == []
    bad_score = [(a, b, c + 1e-6, d) if (a, d) == (1, 1) else (a, b, c, d) for a, b, c, d in good]
    assert checks.check_ranked(bad_score, qids, K, vec_of, q)
    swapped = answer(exp_ids[:, ::-1], exp_s[:, ::-1])
    assert checks.check_ranked(swapped, qids, K, vec_of, q)


def test_same_ids_rejects_difference(space):
    ids, base, q = space
    exp_ids, exp_s = checks.exact_topk(ids, base, q, K)
    rows = answer(exp_ids, exp_s)
    assert checks.check_same_ids(rows, rows, "x") == []
    other = exp_ids.copy()
    other[2, 0] = other[2, 0] + 1
    assert checks.check_same_ids(rows, answer(other, exp_s), "x")


def test_recall_value_and_recall():
    exp = np.array([[1, 2, 3, 4]])
    assert checks.recall(exp, {0: [1, 2, 9, 8]}, [0], 4) == 0.5
    assert checks.check_recall_value(0.5, 0.5) == []
    assert checks.check_recall_value(0.5, 0.5 + 1e-9)


def test_dequant_bound(space):
    _, base, _ = space
    codes, scale = checks.i8_encode(base)
    assert checks.check_dequant(codes, scale, base) == []
    off = codes.copy()
    off[3, 4] += 1  # one code a step away
    assert checks.check_dequant(off, scale, base)
    assert checks.check_dequant(codes, scale * 0.9, base)


def test_i8_refine_expected_and_recall_gain(space):
    ids, base, q = space
    i8_only, ref_ids, ref_s = checks.i8_refine_expected(ids, base, q, K, 4 * K)
    exact, _ = checks.exact_topk(ids, base, q, K)
    qids = list(range(len(q)))
    refined = checks.recall(exact, dict(zip(qids, ref_ids.tolist())), qids, K)
    coarse = checks.recall(exact, dict(zip(qids, i8_only.tolist())), qids, K)
    assert refined >= coarse
    # a refined answer that kept the int8 order fails the top-k check
    id_to_row = {int(v): int(v) for v in ids}
    wrong = answer(i8_only, ref_s)
    if not np.array_equal(i8_only, ref_ids):
        assert checks.check_topk(wrong, np.arange(len(q)), ref_ids, ref_s, id_to_row, base, q)


def test_cluster_counts():
    assert checks.check_cluster_counts({0: 3, 1: 2}, 2, 5) == []
    assert checks.check_cluster_counts({0: 3, 1: 1}, 2, 5)
    assert checks.check_cluster_counts({0: 3, 2: 2}, 2, 5)


def test_self_hits():
    rows = [(0, 42, 1.0, 1), (0, 7, 0.9, 2), (1, 5, 1.0, 1)]
    assert checks.check_self_hits(rows, {0: 42}) == []
    assert checks.check_self_hits(rows, {0: 7})
    assert checks.check_self_hits(rows, {2: 1})


@pytest.fixture(scope="module")
def batch():
    frame, manifest = gen.Corpus(3).batch(0, 400, 1000)
    texts = dict(zip(frame["doc_id"].tolist(), frame["text"].tolist()))
    return texts, manifest


def planted_pairs(texts, manifest):
    return [(min(a, b), max(a, b), checks.jaccard(texts[a], texts[b])) for a, b, _ in manifest["near"]]


def test_planted_jaccard_is_by_construction(batch):
    texts, manifest = batch
    for a, b, j in manifest["near"]:
        assert checks.jaccard(texts[a], texts[b]) == pytest.approx(j, abs=1e-15)


def test_pairs_accept_and_reject(batch):
    texts, manifest = batch
    pairs = planted_pairs(texts, manifest)
    assert checks.check_pairs(pairs, texts, 0.7) == []
    a, b, j = pairs[0]
    assert checks.check_pairs([(b, a, j)], texts, 0.7)  # not a < b
    assert checks.check_pairs([pairs[0], pairs[0]], texts, 0.7)  # twice
    assert checks.check_pairs([(a, b, j + 0.01)], texts, 0.7)  # wrong jaccard
    assert checks.check_pairs([(a, b, j)], texts, j + 0.01)  # under threshold
    others = sorted(set(texts) - {a, b})
    lo, hi = others[0], others[1]
    assert checks.check_pairs([(lo, hi, checks.jaccard(texts[lo], texts[hi]))], texts, 0.7)


def test_planted_recall_floor(batch):
    texts, manifest = batch
    pairs = planted_pairs(texts, manifest)
    errs, found = checks.check_planted_recall(pairs, manifest["near"], 4, 4)
    assert errs == [] and found == len(manifest["near"])
    errs, _ = checks.check_planted_recall(pairs[:2], manifest["near"], 4, 4)
    assert errs


def test_clean_output(batch):
    texts, manifest = batch
    pairs = planted_pairs(texts, manifest)
    drop = {b for _, b, _ in pairs} | {max(a, b) for a, b in manifest["exact"]}
    out = [(d, checks.token_count(t)) for d, t in texts.items() if d not in drop]
    assert checks.check_clean_output(out, texts, pairs, manifest["exact"]) == []
    a, b = manifest["exact"][0]
    dup = out + [(max(a, b), checks.token_count(texts[max(a, b)]))]
    assert checks.check_clean_output(dup, texts, pairs, manifest["exact"])
    loser = pairs[0][1]
    assert checks.check_clean_output(
        out + [(loser, checks.token_count(texts[loser]))], texts, pairs, manifest["exact"]
    )
    miscount = [(out[0][0], out[0][1] - 1)] + out[1:]
    assert checks.check_clean_output(miscount, texts, pairs, manifest["exact"])


def test_token_counts_flag_the_batch_edge_answer():
    texts = dict(enumerate(gen.EDGE_DOCS))
    right = {d: checks.token_count(t) for d, t in texts.items()}
    assert checks.check_token_counts(right, texts) == []
    # what the engine returns when a batch ends in an empty row: the
    # last byte of the last non-empty row ("a b") is lost
    assert checks.check_token_counts({**right, 2: 1}, texts)


def test_benchmark_json_lists_what_run_prints():
    import json
    import os

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
