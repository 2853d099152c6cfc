"""Seeded input generator for the benchmark.

Every input the engine sees is written here as a parquet file, derived
only from the workload seed; the engine never sees the seed itself.

* vectors: a Gaussian mixture around ``n_clusters`` random centres,
  every row L2-normalised, stored as ``array<float>`` like the
  engine's ``embeddings`` table;
* queries: perturbed base rows, re-normalised;
* documents: non-empty texts with a language/quality mix, plus planted
  exact copies and planted near-duplicates whose 3-word-shingle
  Jaccard is fixed by construction (see ``Corpus.batch``).

Run ``python3 perfbench/gen.py --seed 1 --out <dir>`` to write one
sample of every input kind and print what was written.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# Per-stream salts keep the base, query and chunk streams of one seed
# independent of each other and of how many batches a run consumes.
_SALT = {"centres": 0, "base": 1, "queries": 2, "chunks": 3, "corpus": 4, "chunk_queries": 5}


def rng_for(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _SALT[stream], index])


def _normalise(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def write_vectors(
    path: str, ids: np.ndarray, mat: np.ndarray, id_col: str = "vec_id"
) -> None:
    """(``id_col`` long, embedding array<float>) parquet, one file."""
    mat32 = np.ascontiguousarray(mat, dtype=np.float32)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(mat32.ravel()), mat32.shape[1]
    ).cast(pa.list_(pa.float32()))
    table = pa.Table.from_arrays(
        [pa.array(ids, pa.int64()), emb], names=[id_col, "embedding"]
    )
    pq.write_table(table, path)


class VectorSpace:
    """The clustered space one seed draws its base, chunks and queries from."""

    def __init__(self, seed: int, dim: int, n_clusters: int, spread: float = 0.35):
        self.seed = seed
        self.dim = dim
        rng = rng_for(seed, "centres")
        self.centres = _normalise(rng.standard_normal((n_clusters, dim)))
        self.spread = spread

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        c = rng.integers(0, len(self.centres), size=n)
        noise = rng.standard_normal((n, self.dim)) * (self.spread / np.sqrt(self.dim))
        return _normalise(self.centres[c] + noise).astype(np.float32)

    def base(self, n: int) -> np.ndarray:
        return self.draw(rng_for(self.seed, "base"), n)

    def chunk(self, index: int, n: int) -> np.ndarray:
        return self.draw(rng_for(self.seed, "chunks", index), n)


def perturbed_queries(
    seed: int, batch: int, base: np.ndarray, n: int, noise: float = 0.05,
    stream: str = "queries",
) -> np.ndarray:
    """``n`` queries, each a random base row plus Gaussian noise,
    re-normalised. ``batch`` selects a fresh, independent batch."""
    rng = rng_for(seed, stream, batch)
    rows = base[rng.integers(0, len(base), size=n)].astype(np.float64)
    q = rows + rng.standard_normal(rows.shape) * (noise / np.sqrt(rows.shape[1]))
    return _normalise(q).astype(np.float32)


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

# Marker words the engine's language heuristic counts; a document of a
# language carries its markers, content words carry no marker.
LANG_WORDS = {
    "en": ("the", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "zu"),
    "es": ("el", "los", "las", "una", "y", "que", "por"),
    "fr": ("le", "les", "des", "et", "une", "dans", "est"),
}
DOC_TOKENS = 80          # tokens per regular document
NEAR_DUP_REPLACED = (4, 8, 12)  # tail tokens a planted near-dup rewrites
LANG_MIX = (("en", 0.7), ("de", 0.1), ("es", 0.1), ("fr", 0.1))


def planted_jaccard(n_tokens: int, replaced: int, ngram: int = 3) -> float:
    """Shingle Jaccard of a document and its copy with the last
    ``replaced`` tokens rewritten, when every ``ngram``-gram of each is
    distinct: they share the grams of the first ``n - replaced`` tokens."""
    grams = n_tokens - ngram + 1
    shared = n_tokens - replaced - ngram + 1
    return shared / (2 * grams - shared)


class Corpus:
    """Document batches of one seed. Content words are drawn from a
    vocabulary of 2**24 synthetic words and tagged with the batch, so
    distinct documents share no 3-word shingle except by planting."""

    def __init__(self, seed: int):
        self.seed = seed

    def _content(self, rng, tag: str, n: int) -> list[str]:
        return [f"w{v:x}{tag}" for v in rng.integers(0, 1 << 24, size=n)]

    def _doc(self, rng, tag: str, lang: str, n_tokens: int) -> list[str]:
        words = self._content(rng, tag, n_tokens)
        markers = LANG_WORDS[lang]
        # one marker every fourth slot keeps the language decidable,
        # and never two markers side by side, so no 3-gram repeats
        for pos in range(1, n_tokens, 4):
            words[pos] = markers[int(rng.integers(0, len(markers)))]
        return words

    def batch(self, index: int, n_docs: int, id_base: int) -> tuple[pd.DataFrame, dict]:
        """One batch of ``n_docs`` documents with ids from ``id_base``.

        Make-up (shares of ``n_docs``): 10 % low-quality documents
        (short or punctuation-heavy), 5 % planted exact copies of an
        English document of the batch, 5 % planted near-duplicates of an
        English document with 4, 8 or 12 tail tokens rewritten; the rest
        are regular documents in the ``LANG_MIX`` languages. Returns the
        frame and a manifest of what was planted."""
        rng = rng_for(self.seed, "corpus", index)
        tag = f"b{index:x}"
        n_low = n_docs // 10
        n_exact = n_docs // 20
        n_near = n_docs // 20
        n_regular = n_docs - n_low - n_exact - n_near
        langs = [l for l, _ in LANG_MIX]
        probs = [p for _, p in LANG_MIX]
        texts: list[str] = []
        lang_of: list[str] = []
        for lang in rng.choice(langs, size=n_regular, p=probs):
            texts.append(" ".join(self._doc(rng, tag, str(lang), DOC_TOKENS)))
            lang_of.append(str(lang))
        for i in range(n_low):
            if i % 2:
                texts.append(" ".join(self._doc(rng, tag, "en", 6)))
            else:
                words = self._doc(rng, tag, "en", 24)
                texts.append(" ".join(w + "!?;" for w in words))
            lang_of.append("low")
        en_rows = [i for i, l in enumerate(lang_of) if l == "en"]
        # disjoint sources: a near-dup never pairs with a copied document
        srcs = rng.choice(en_rows, size=n_exact + n_near, replace=False)
        exact = []
        for src in srcs[:n_exact]:
            texts.append(texts[src])
            exact.append((int(src), len(texts) - 1))
        near = []
        for j, src in enumerate(srcs[n_exact:]):
            words = texts[src].split(" ")
            m = NEAR_DUP_REPLACED[j % len(NEAR_DUP_REPLACED)]
            words[-m:] = self._content(rng, tag + "n", m)
            texts.append(" ".join(words))
            near.append((int(src), len(texts) - 1, m))
        order = rng.permutation(len(texts))
        pos = np.empty_like(order)
        pos[order] = np.arange(len(order))
        ids = id_base + pos.astype(np.int64)
        frame = pd.DataFrame({"doc_id": ids[order], "text": [texts[i] for i in order]})
        manifest = {
            "exact": [(int(ids[a]), int(ids[b])) for a, b in exact],
            "near": [
                (int(ids[a]), int(ids[b]), planted_jaccard(DOC_TOKENS, m))
                for a, b, m in near
            ],
        }
        return frame, manifest


def write_docs(path: str, frame: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(frame, schema=DOC_SCHEMA, preserve_index=False), path)


# Fixed input of the Arrow-batch-edge probe: the last row of the file,
# and so of its only Arrow batch, is empty, and the row before it ends
# in a one-letter token. Independent of the seed on purpose.
EDGE_DOCS = ("alpha beta gamma", "the cat sat on a mat", "a b", "")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    space = VectorSpace(args.seed, 64, 64)
    base = space.base(10_000)
    write_vectors(os.path.join(args.out, "base.parquet"), np.arange(len(base)), base)
    q = perturbed_queries(args.seed, 0, base, 64)
    write_vectors(
        os.path.join(args.out, "queries.parquet"), np.arange(len(q)), q, "query_id"
    )
    frame, manifest = Corpus(args.seed).batch(0, 1000, 0)
    write_docs(os.path.join(args.out, "docs.parquet"), frame)
    print(f"base {base.shape}, queries {q.shape}, docs {len(frame)}, "
          f"exact {len(manifest['exact'])}, near {len(manifest['near'])}")


if __name__ == "__main__":
    main()
