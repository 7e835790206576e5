"""Output checks. Each takes plain Python values (read back from the
sinks, or the generators' bookkeeping) and returns a list of problems;
an empty list means the output is correct. Keeping them free of Spark
lets the tests feed them deliberately corrupted outputs.
"""

from __future__ import annotations

from collections import defaultdict
from decimal import Decimal

from gen_chain import ChainTruth
from gen_corpus import CorpusTruth

RECALL_FLOOR = 0.9


def check_backfill(truth: ChainTruth, lo: int, hi: int, sink: dict, cursor: int | None) -> list[str]:
    """``sink``: decoded rows, amount sum and decode-fail rows read from
    the written ``transfers`` table; ``cursor``: the resume cursor."""
    want = truth.range_stats(lo, hi)
    problems = []
    for key, expected in (
        ("decoded", want["transfers"]),
        ("amount_sum", want["amount_sum"]),
        ("decode_fail", want["malformed"]),
    ):
        if sink.get(key) != expected:
            problems.append(f"{key}: sink has {sink.get(key)}, generator says {expected}")
    if cursor != hi:
        problems.append(f"resume cursor {cursor}, last block {hi}")
    return problems


def check_tail(
    truth: ChainTruth, lo: int, window: int, committed: int, per_window: dict[int, tuple]
) -> list[str]:
    """``per_window``: window index -> (block rows, transfer rows, decoded
    rows) counted in the database. Every committed window must be there
    exactly once and nothing else."""
    problems = []
    if sorted(per_window) != list(range(committed)):
        missing = sorted(set(range(committed)) - set(per_window))
        extra = sorted(set(per_window) - set(range(committed)))
        problems.append(f"windows missing {missing[:5]} extra {extra[:5]} of {committed}")
    for w, (blocks, transfers, decoded) in sorted(per_window.items()):
        a = lo + w * window
        want = truth.range_stats(a, a + window - 1)
        expected = (window, want["transfers"] + want["malformed"], want["transfers"])
        if (blocks, transfers, decoded) != expected:
            problems.append(f"window {w}: (blocks, transfers, decoded) {(blocks, transfers, decoded)} != {expected}")
    return problems


def _canon(v):
    if isinstance(v, Decimal):
        return int(v)
    if isinstance(v, bytearray | memoryview):
        return bytes(v)
    return v


def canonical_rows(rows) -> list[tuple]:
    """Order-insensitive, type-normalized form of a result set."""
    return sorted((tuple(_canon(v) for v in r) for r in rows), key=repr)


def check_rows_equal(name: str, got, want) -> list[str]:
    g, w = canonical_rows(got), canonical_rows(want)
    if g == w:
        return []
    diff = sorted(set(g) ^ set(w), key=repr) or ["duplicate rows"]
    return [f"{name}: {len(g)} rows vs {len(w)} expected; e.g. {diff[0]}"]


def check_curation(truth: CorpusTruth, kept: set[int], cluster_of: dict[int, int]) -> list[str]:
    """``kept``: ids in the written output; ``cluster_of``: id -> cluster id
    from the connected-components stage."""
    problems = []
    for group in truth.exact_groups:
        first, copies = min(group), [d for d in group if d != min(group)]
        if first not in kept or kept.intersection(copies):
            problems.append(f"exact group {group}: kept {sorted(kept.intersection(group))}, want [{first}]")
    recall = planted_recall(truth, cluster_of)
    if recall < RECALL_FLOOR:
        problems.append(f"planted pair recall {recall:.3f} < {RECALL_FLOOR}")
    family_of = truth.family_of()
    clusters: dict[int, list[int]] = defaultdict(list)
    for doc, c in cluster_of.items():
        clusters[c].append(doc)
    for c, members in clusters.items():
        fams = {family_of.get(d) for d in members}
        if len(fams) != 1 or None in fams:
            problems.append(f"cluster {c} spans families {sorted(map(str, fams))}")
        if len(kept.intersection(members)) != 1:
            problems.append(f"cluster {c}: {len(kept.intersection(members))} members kept, want 1")
    return problems


def planted_recall(truth: CorpusTruth, cluster_of: dict[int, int]) -> float:
    found = sum(
        1 for a, b in truth.planted_pairs if a in cluster_of and cluster_of.get(b) == cluster_of[a]
    )
    return found / len(truth.planted_pairs) if truth.planted_pairs else 1.0
