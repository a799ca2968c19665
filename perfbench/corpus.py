"""Seeded document corpus for the `curate` workload, and its 8-gram oracle.

The corpus is `copies` replicas of the documents fixture. Replica k keeps
every base document's tokens but reorders them with one permutation per
(seed, k, token count). So:

* token statistics per document, which the quality gate reads, equal the
  base document's;
* base documents with identical text stay exact duplicates inside each
  replica, so exact dedup has real work;
* different replicas share almost no word 5- or 8-grams, so near-dup
  candidates and contamination grow linearly with the corpus instead of
  every replica being a near-duplicate of the others.

The eval slice (the decontamination benchmark set) is a seeded 1/64
sample of the corpus itself.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVAL_MOD = 64
NGRAM = 8
FILES = 8  # corpus parquet files: a scan gets up to this many tasks


def _is_eval(seed: int, doc_id: int) -> bool:
    h = hashlib.md5(f"eval:{seed}:{doc_id}".encode()).hexdigest()
    return int(h[:8], 16) % EVAL_MOD == 0


def make_corpus(base_path: str, seed: int, copies: int) -> tuple[list[int], list[str]]:
    """(doc_ids, texts) of the permuted-replica corpus, in id order."""
    base = pq.read_table(base_path, columns=["doc_id", "text"]).sort_by("doc_id")
    toks = [t.split(" ") for t in base.column("text").to_pylist()]
    n = len(toks)
    ids: list[int] = []
    texts: list[str] = []
    for k in range(copies):
        rng = random.Random(f"corpus:{seed}:{k}")
        perms: dict[int, list[int]] = {}
        for j, tk in enumerate(toks):
            perm = perms.get(len(tk))
            if perm is None:
                perm = list(range(len(tk)))
                rng.shuffle(perm)
                perms[len(tk)] = perm
            ids.append(k * n + j)
            texts.append(" ".join(tk[i] for i in perm))
    return ids, texts


def write_corpus(base_path: str, seed: int, copies: int, corpus_dir: str, eval_path: str) -> int:
    """Write the corpus (FILES parquet files, so the scan is not one task)
    and its eval slice; returns the doc count."""
    ids, texts = make_corpus(base_path, seed, copies)
    os.makedirs(corpus_dir)
    step = -(-len(ids) // FILES)
    for f, lo in enumerate(range(0, len(ids), step)):
        pq.write_table(
            pa.table({"doc_id": ids[lo : lo + step], "text": texts[lo : lo + step]}),
            os.path.join(corpus_dir, f"part-{f:02d}.parquet"),
        )
    ev = [(i, t) for i, t in zip(ids, texts) if _is_eval(seed, i)]
    pq.write_table(
        pa.table({"doc_id": [i for i, _ in ev], "text": [t for _, t in ev]}), eval_path
    )
    return len(ids)


def ngrams(text: str, k: int = NGRAM) -> set[tuple[str, ...]]:
    """Lower-cased whitespace-token k-grams (the decontamination unit)."""
    tk = text.lower().split()
    return {tuple(tk[i : i + k]) for i in range(len(tk) - k + 1)}


def contaminated(texts: list[str], eval_texts: list[str], k: int = NGRAM) -> int:
    """How many of `texts` share a k-gram with any eval text (0 is clean)."""
    bad: set[tuple[str, ...]] = set()
    for t in eval_texts:
        bad |= ngrams(t, k)
    return sum(1 for t in texts if not ngrams(t, k).isdisjoint(bad))
