"""Seeded document corpus with planted duplicates, and its bookkeeping.

The corpus mixes four kinds of document:

- singletons: ordinary prose-like documents that pass the Gopher rules;
- exact copies: byte-identical re-posts of some singletons under new ids;
- near-duplicate families: a base document plus variants made by a few
  word-level edits (substitute, delete, insert);
- junk: documents too short to pass the Gopher word-count rule.

Ids are assigned after a seeded shuffle, so copies and family members are
spread over the id space. The true word 3-shingle Jaccard of every pair
inside a family is computed here in plain Python; pairs at or above
``PAIR_THRESHOLD`` are the planted pairs the recall check counts.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "it")
VOCAB_SIZE = 4000
SHINGLE_K = 3
# the Jaccard threshold minhash_lsh_pairs uses by default
PAIR_THRESHOLD = 0.8
SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class CorpusTruth:
    n_docs: int
    exact_groups: list[list[int]] = field(default_factory=list)  # ids sharing one text
    families: list[list[int]] = field(default_factory=list)  # near-dup family ids
    planted_pairs: list[tuple[int, int]] = field(default_factory=list)  # (lo, hi) ids
    junk: list[int] = field(default_factory=list)

    def family_of(self) -> dict[int, int]:
        return {d: f for f, members in enumerate(self.families) for d in members}


def shingles(text: str, k: int = SHINGLE_K) -> set[tuple[str, ...]]:
    words = text.split()
    return {tuple(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def generate_corpus(seed: int, n_singletons: int, out_dir: str) -> CorpusTruth:
    """Write ``out_dir/documents.parquet`` and return the bookkeeping.
    The corpus holds about ``1.7 * n_singletons`` documents."""
    rng = random.Random(f"corpus:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(VOCAB_SIZE)}
    )

    def words(n: int) -> list[str]:
        return [
            STOPWORDS[rng.randrange(len(STOPWORDS))]
            if rng.random() < 0.25
            else vocab[int(len(vocab) * rng.random() ** 1.5)]
            for _ in range(n)
        ]

    def edited(base: list[str]) -> list[str]:
        out = list(base)
        while out == base:  # a substitution can draw the word it replaces
            out = list(base)
            for _ in range(max(1, len(base) // 80)):
                i = rng.randrange(len(out))
                op = rng.randrange(3)
                if op == 0:
                    out[i] = vocab[rng.randrange(len(vocab))]
                elif op == 1:
                    del out[i]
                else:
                    out.insert(i, vocab[rng.randrange(len(vocab))])
        return out

    # (text, kind, group) before shuffling; group ties copies / families
    docs: list[tuple[str, str, int]] = []
    singles = [" ".join(words(rng.randint(80, 220))) for _ in range(n_singletons)]
    docs += [(t, "single", i) for i, t in enumerate(singles)]
    for i in rng.sample(range(n_singletons), n_singletons // 5):
        docs += [(singles[i], "copy", i)] * rng.randint(1, 2)
    for f in range(n_singletons // 6):
        base = words(rng.randint(100, 220))
        docs.append((" ".join(base), "family", f))
        docs += [(" ".join(edited(base)), "family", f) for _ in range(rng.randint(1, 4))]
    docs += [(" ".join(words(rng.randint(3, 30))), "junk", 0) for _ in range(n_singletons // 8)]
    rng.shuffle(docs)

    truth = CorpusTruth(n_docs=len(docs))
    exact: dict[int, list[int]] = {}
    fams: dict[int, list[tuple[int, str]]] = {}
    for doc_id, (text, kind, group) in enumerate(docs):
        if kind in ("single", "copy"):
            exact.setdefault(group, []).append(doc_id)
        elif kind == "family":
            fams.setdefault(group, []).append((doc_id, text))
        else:
            truth.junk.append(doc_id)
    truth.exact_groups = sorted(ids for ids in exact.values() if len(ids) > 1)
    for members in sorted(fams.values()):
        truth.families.append([d for d, _ in members])
        for (a, ta), (b, tb) in itertools.combinations(members, 2):
            if jaccard(ta, tb) >= PAIR_THRESHOLD:
                truth.planted_pairs.append((min(a, b), max(a, b)))

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {"doc_id": list(range(len(docs))), "text": [t for t, _, _ in docs]}, schema=SCHEMA
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return truth

