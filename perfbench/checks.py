"""Independent checkers: NumPy / pure-Python recomputations of what each
engine operation must return. None of them reads stored engine output.

Every checker returns a list of error strings; an empty list means the
answer passed. Rows are the engine's collected rows as plain tuples.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

# Engine scores are float64 folds over float32 inputs; NumPy sums the
# same products in another order, so scores agree to ~1e-16. A gap
# below SCORE_TOL is treated as a tie.
SCORE_TOL = 1e-9


def exact_topk(
    base_ids: np.ndarray, base: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact dot-product top-k per query with the (score desc, id asc)
    tie-break. Returns (ids (Q, k), scores (Q, k))."""
    s = queries.astype(np.float64) @ base.astype(np.float64).T
    kk = min(k, s.shape[1])
    ids = np.empty((len(queries), kk), dtype=np.int64)
    scores = np.empty((len(queries), kk))
    part = np.argpartition(-s, kk - 1, axis=1)[:, :kk]
    for j in range(len(queries)):
        # everything tying the k-th score competes on the id tie-break
        kth = s[j, part[j]].min()
        cand = np.flatnonzero(s[j] >= kth)
        order = cand[np.lexsort((base_ids[cand], -s[j, cand]))][:kk]
        ids[j] = base_ids[order]
        scores[j] = s[j, order]
    return ids, scores


def _by_query(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = defaultdict(list)
    for qid, vid, score, rank in rows:
        out[int(qid)].append((int(rank), int(vid), float(score)))
    return {q: sorted(v) for q, v in out.items()}


def check_topk(
    rows,
    query_ids: np.ndarray,
    exp_ids: np.ndarray,
    exp_scores: np.ndarray,
    id_to_row: dict[int, int],
    base: np.ndarray,
    queries: np.ndarray,
) -> list[str]:
    """A ranked (query_id, vec_id, score, rank) answer equals the exact
    top-k: ranks 1..k, ids equal the expected ids except where their
    exact scores tie the expected ones, and each reported score equals
    the exact dot product."""
    errs: list[str] = []
    got = _by_query(rows)
    if set(got) != {int(q) for q in query_ids}:
        return [f"answered queries {sorted(got)[:5]}... != asked {list(query_ids)[:5]}..."]
    for j, qid in enumerate(query_ids):
        r = got[int(qid)]
        k = exp_ids.shape[1]
        if [x[0] for x in r] != list(range(1, k + 1)):
            errs.append(f"query {qid}: ranks {[x[0] for x in r]} != 1..{k}")
            continue
        ids = [x[1] for x in r]
        if any(v not in id_to_row for v in ids):
            errs.append(f"query {qid}: unknown vec_id in {ids}")
            continue
        exact = [
            float(base[id_to_row[v]].astype(np.float64) @ queries[j].astype(np.float64))
            for v in ids
        ]
        bad = [(v, s, e) for v, (_, _, s), e in zip(ids, r, exact) if abs(s - e) > SCORE_TOL]
        if bad:
            errs.append(f"query {qid}: score != exact dot for {bad[:3]}")
        if ids != list(exp_ids[j]) and any(
            abs(e - x) > SCORE_TOL for e, x in zip(exact, exp_scores[j])
        ):
            errs.append(f"query {qid}: ids {ids} != exact top-k {list(exp_ids[j])}")
    return errs


def check_ranked(rows, query_ids, k: int, vec_of, queries: np.ndarray) -> list[str]:
    """An approximate answer is well-formed: ``k`` rows per asked query
    with ranks 1..k in (score desc, vec_id asc) order, and every score
    equals the exact dot product of the query and ``vec_of[vec_id]``."""
    errs: list[str] = []
    got = _by_query(rows)
    if set(got) != {int(q) for q in query_ids}:
        return ["answered query set differs from the asked one"]
    for j, qid in enumerate(query_ids):
        r = got[int(qid)]
        if [x[0] for x in r] != list(range(1, k + 1)):
            errs.append(f"query {qid}: ranks {[x[0] for x in r]} != 1..{k}")
            continue
        keys = [(-s, v) for _, v, s in r]
        if keys != sorted(keys):
            errs.append(f"query {qid}: not in (score desc, vec_id asc) order")
        for _, v, s in r:
            if v not in vec_of:
                errs.append(f"query {qid}: unknown vec_id {v}")
                break
            exact = float(np.asarray(vec_of[v], np.float64) @ queries[j].astype(np.float64))
            if abs(s - exact) > SCORE_TOL:
                errs.append(f"query {qid}: vec {v} score {s} != exact dot {exact}")
                break
    return errs


def check_same_ids(rows_a, rows_b, label: str) -> list[str]:
    """Two ranked answers name the same ids in the same rank order."""
    a, b = _by_query(rows_a), _by_query(rows_b)
    if a.keys() != b.keys():
        return [f"{label}: answered query sets differ"]
    return [
        f"{label}: query {q} ids {[x[1] for x in a[q]]} != {[x[1] for x in b[q]]}"
        for q in sorted(a)
        if [x[1] for x in a[q]] != [x[1] for x in b[q]]
    ]


def recall(exp_ids: np.ndarray, got_ids: dict[int, list[int]], query_ids, k: int) -> float:
    """Mean over queries of |exact top-k ∩ answer top-k| / k."""
    hits = [
        len(set(exp_ids[j][:k]) & set(got_ids.get(int(q), [])[:k])) / k
        for j, q in enumerate(query_ids)
    ]
    return float(np.mean(hits))


def ranked_ids(rows) -> dict[int, list[int]]:
    return {q: [x[1] for x in v] for q, v in _by_query(rows).items()}


def check_recall_value(engine: float, expected: float) -> list[str]:
    if not math.isclose(engine, expected, rel_tol=0.0, abs_tol=1e-12):
        return [f"recall_at_k {engine} != recomputed {expected}"]
    return []


def i8_encode(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row max-abs int8 codes and scales (round half to even)."""
    x = mat.astype(np.float64)
    scale = np.abs(x).max(axis=1) / 127.0
    safe = np.where(scale == 0.0, 1.0, scale)
    codes = np.clip(np.rint(x / safe[:, None]), -127, 127)
    codes[scale == 0.0] = 0
    return codes, scale


def check_dequant(codes: np.ndarray, scales: np.ndarray, mat: np.ndarray) -> list[str]:
    """|code * scale - x| <= scale / 2 for every element, codes in ±127."""
    errs = []
    if np.abs(codes).max() > 127:
        errs.append("i8 code outside [-127, 127]")
    err = np.abs(codes * scales[:, None] - mat.astype(np.float64))
    # the half-step bound holds in exact arithmetic; allow float64 rounding
    limit = scales[:, None] / 2 * (1 + 1e-9) + 1e-15
    bad = np.argwhere(err > limit)
    if len(bad):
        r, c = bad[0]
        errs.append(
            f"{len(bad)} elements exceed scale/2, e.g. row {r} dim {c}: "
            f"{err[r, c]} > {scales[r] / 2}"
        )
    return errs


def i8_refine_expected(
    base_ids, base, queries, k: int, r: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """What the quantized pipeline must return: top-``r`` by the int8
    score q . code * scale, then exact re-rank of those to top-``k``.
    Returns (i8-only top-k ids, refined ids, refined exact scores)."""
    codes, scale = i8_encode(base)
    i8_ids, _ = exact_topk(base_ids, codes * scale[:, None], queries, r)
    pos = {int(v): i for i, v in enumerate(base_ids)}
    ref_ids = np.empty((len(queries), k), dtype=np.int64)
    ref_scores = np.empty((len(queries), k))
    for j, cands in enumerate(i8_ids):
        rows = np.array([pos[int(v)] for v in cands])
        ids, scores = exact_topk(base_ids[rows], base[rows], queries[j : j + 1], k)
        ref_ids[j], ref_scores[j] = ids[0], scores[0]
    return i8_ids[:, :k], ref_ids, ref_scores


def check_cluster_counts(counts: dict[int, int], nlist: int, expected_rows: int) -> list[str]:
    """Per-cluster row counts are over valid cluster ids and sum to the
    rows the index should hold."""
    errs = []
    if any(not 0 <= c < nlist for c in counts):
        errs.append(f"cluster ids outside [0, {nlist}): {sorted(counts)[:5]}...")
    total = sum(counts.values())
    if total != expected_rows:
        errs.append(f"cluster counts sum to {total}, expected {expected_rows}")
    return errs


def check_self_hits(rows, self_queries: dict[int, int]) -> list[str]:
    """Each query that is a copy of an appended vector finds it first."""
    got = ranked_ids(rows)
    return [
        f"query {q}: first hit {got.get(q, [None])[0]} != appended vector {vid}"
        for q, vid in sorted(self_queries.items())
        if not got.get(q) or got[q][0] != vid
    ]


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    common = len(sa & sb)
    return float(common) / float(len(sa) + len(sb) - common)


def check_pairs(pairs, texts: dict[int, str], threshold: float) -> list[str]:
    """Near-dup pairs (a_id, b_id, jaccard): a_id < b_id, each pair once,
    and the Jaccard equals a pure-Python recomputation and clears the
    threshold."""
    errs = []
    seen = set()
    for a, b, j in pairs:
        if not a < b:
            errs.append(f"pair ({a}, {b}) not ordered a_id < b_id")
        if (a, b) in seen:
            errs.append(f"pair ({a}, {b}) reported twice")
        seen.add((a, b))
        if a not in texts or b not in texts:
            errs.append(f"pair ({a}, {b}) names an unknown document")
            continue
        ref = jaccard(texts[a], texts[b])
        if j != ref:
            errs.append(f"pair ({a}, {b}) jaccard {j} != recomputed {ref}")
        if ref < threshold:
            errs.append(f"pair ({a}, {b}) jaccard {ref} < threshold {threshold}")
    return errs


def banding_probability(j: float, bands: int, rows: int) -> float:
    """Chance that MinHash LSH makes a pair of Jaccard ``j`` a candidate."""
    return 1.0 - (1.0 - j**rows) ** bands


def planted_recall_floor(planted_j: list[float], bands: int, rows: int, sigmas: float = 5.0) -> float:
    """Lowest count of found planted pairs the banding model allows:
    expected count minus ``sigmas`` binomial standard deviations."""
    p = np.array([banding_probability(j, bands, rows) for j in planted_j])
    return float(p.sum() - sigmas * math.sqrt(float((p * (1 - p)).sum())))


def check_planted_recall(pairs, planted, bands: int, rows: int) -> tuple[list[str], int]:
    """Planted near-dup pairs (a, b, jaccard) found among the reported
    pairs reach the banding-probability floor. Returns (errors, found)."""
    got = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    found = sum((min(a, b), max(a, b)) in got for a, b, _ in planted)
    floor = planted_recall_floor([j for _, _, j in planted], bands, rows)
    if found < floor:
        return [f"found {found} of {len(planted)} planted pairs, floor {floor:.1f}"], found
    return [], found


def token_count(text: str) -> int:
    return len(text.split())


def check_clean_output(out_rows, texts: dict[int, str], pairs, exact_planted) -> list[str]:
    """The cleaned batch: known ids only, no two kept documents with the
    same text, no kept document that lost a near-dup pair, every planted
    exact copy resolved to its lower id, and n_tokens equal to a Python
    whitespace count."""
    errs = []
    kept = {int(r[0]): int(r[1]) for r in out_rows}
    if len(kept) != len(out_rows):
        errs.append("a document is kept twice")
    unknown = [d for d in kept if d not in texts]
    if unknown:
        return errs + [f"kept unknown ids {unknown[:5]}"]
    by_text: dict[str, int] = {}
    for d in kept:
        if texts[d] in by_text:
            errs.append(f"documents {by_text[texts[d]]} and {d} kept with equal text")
        by_text[texts[d]] = d
    removed = {b for _, b, _ in pairs}
    if removed & kept.keys():
        errs.append(f"kept near-dup losers {sorted(removed & kept.keys())[:5]}")
    for a, b in exact_planted:
        if max(a, b) in kept:
            errs.append(f"exact copy {max(a, b)} of {min(a, b)} kept")
    errs += check_token_counts(kept, texts)
    return errs


def check_token_counts(n_tokens: dict[int, int], texts: dict[int, str]) -> list[str]:
    got = sum(n_tokens.values())
    ref = sum(token_count(texts[d]) for d in n_tokens)
    bad = [d for d, n in n_tokens.items() if n != token_count(texts[d])]
    if got != ref or bad:
        return [f"n_tokens total {got} != Python count {ref}; wrong for ids {bad[:5]}"]
    return []
