"""Seeded corpus generator for the corpus_dedup workload.

Writes a parquet file of documents (doc_id, text) for ``Corpus.select``
and, beside it, ``truth.parquet`` with the planted duplicates, which
graft never reads:

* the vocabulary is Zipf-like (rank r has weight 1 / r^1.1) with the
  stopwords the quality gate counts mixed in;
* every 500th document is an EXACT duplicate of an earlier one, with its
  case and whitespace changed (the exact stage normalizes both away);
* every other 100th document is a NEAR duplicate of an earlier one, with
  3% of its tokens replaced;
* every 97th document is too short for the quality gate.

    python3 gen/corpus.py --seed 7 --out corpus.parquet
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "that", "it", "on"]


def generate(seed, out, docs=2000, vocab=3000, min_len=40, max_len=160):
    """Write ``docs`` documents to ``out``; return the planted counts."""
    rng = np.random.default_rng(seed)
    words = np.array(STOPWORDS + [f"w{i}" for i in range(vocab)])
    weights = 1.0 / np.arange(1, words.size + 1) ** 1.1
    weights /= weights.sum()
    texts, kinds, sources = [], [], []
    for i in range(docs):
        if i % 500 == 499:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            text = "  ".join(t.upper() if j % 7 == 0 else t for j, t in enumerate(toks))
            kind = "exact"
        elif i % 100 == 99:
            src = int(rng.integers(0, i))
            toks = np.array(texts[src].split(" "))
            hit = rng.random(toks.size) < 0.03
            toks[hit] = rng.choice(words, size=int(hit.sum()), p=weights)
            text, kind = " ".join(toks), "near"
        elif i % 97 == 96:
            src, kind = -1, "short"
            text = " ".join(rng.choice(words, size=5, p=weights))
        else:
            src, kind = -1, "regular"
            n = int(rng.integers(min_len, max_len + 1))
            text = " ".join(rng.choice(words, size=n, p=weights))
        texts.append(text)
        kinds.append(kind)
        sources.append(src)
    ids = np.arange(docs, dtype=np.int64)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), out)
    pq.write_table(pa.table({"doc_id": ids, "kind": kinds, "source": sources}),
                   os.path.join(os.path.dirname(out) or ".", "truth.parquet"))
    return {"docs": docs, "exact": kinds.count("exact"), "near": kinds.count("near"),
            "short": kinds.count("short")}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--docs", type=int, default=2000)
    a = p.parse_args()
    print(generate(a.seed, a.out, a.docs))


if __name__ == "__main__":
    main()
