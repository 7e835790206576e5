"""Tests of the benchmark itself, at tiny input sizes and without Spark.

Run: python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import gen_chain  # noqa: E402
import gen_corpus  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def chain(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("chain"))
    return out, gen_chain.generate_chain(7, 120, out)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    return out, gen_corpus.generate_corpus(7, 60, out)


def test_chain_generator_is_deterministic(chain, tmp_path):
    out, truth = chain
    again = gen_chain.generate_chain(7, 120, str(tmp_path / "a"))
    assert gen_chain.digest(out) == gen_chain.digest(str(tmp_path / "a"))
    assert again == truth
    gen_chain.generate_chain(8, 120, str(tmp_path / "b"))
    assert gen_chain.digest(out) != gen_chain.digest(str(tmp_path / "b"))


def test_corpus_generator_is_deterministic(corpus, tmp_path):
    out, truth = corpus
    again = gen_corpus.generate_corpus(7, 60, str(tmp_path / "a"))
    assert gen_chain.digest(out) == gen_chain.digest(str(tmp_path / "a"))
    assert again == truth
    gen_corpus.generate_corpus(8, 60, str(tmp_path / "b"))
    assert gen_chain.digest(out) != gen_chain.digest(str(tmp_path / "b"))


def test_chain_bookkeeping_matches_written_rows(chain):
    out, truth = chain
    logs = pq.read_table(os.path.join(out, "logs.parquet")).to_pylist()
    blocks = pq.read_table(os.path.join(out, "blocks.parquet")).to_pylist()
    lo, hi = truth.first_block + 10, truth.first_block + 70
    in_range = [r for r in logs if lo <= r["block_number"] <= hi]
    transfers = [r for r in in_range if r["topic0"] == gen_chain.TRANSFER_TOPIC0]
    good = [r for r in transfers if len(r["data"]) == 32]
    assert truth.range_stats(lo, hi) == {
        "logs": len(in_range),
        "transfers": len(good),
        "amount_sum": sum(int.from_bytes(r["data"], "big") for r in good),
        "malformed": len(transfers) - len(good),
    }
    # hash chain: each block names its predecessor
    blocks.sort(key=lambda b: b["number"])
    assert all(b["parent_hash"] == a["hash"] for a, b in zip(blocks, blocks[1:]))
    assert [b["number"] for b in blocks] == list(range(truth.first_block, truth.last_block + 1))


def test_corpus_bookkeeping(corpus):
    out, truth = corpus
    rows = pq.read_table(os.path.join(out, "documents.parquet")).to_pylist()
    texts = {r["doc_id"]: r["text"] for r in rows}
    assert len(texts) == truth.n_docs
    for group in truth.exact_groups:
        assert len({texts[d] for d in group}) == 1
    assert truth.planted_pairs
    for a, b in truth.planted_pairs:
        assert gen_corpus.jaccard(texts[a], texts[b]) >= gen_corpus.PAIR_THRESHOLD
    assert all(len(texts[d].split()) < 50 for d in truth.junk)


def _backfill_ok(truth):
    s = truth.range_stats(truth.first_block, truth.last_block)
    return {"decoded": s["transfers"], "amount_sum": s["amount_sum"], "decode_fail": s["malformed"]}


def test_backfill_check_rejects_corruption(chain):
    _, truth = chain
    lo, hi = truth.first_block, truth.last_block
    good = _backfill_ok(truth)
    assert checks.check_backfill(truth, lo, hi, good, hi) == []
    assert checks.check_backfill(truth, lo, hi, dict(good, amount_sum=good["amount_sum"] + 1), hi)
    assert checks.check_backfill(truth, lo, hi, dict(good, decode_fail=good["decode_fail"] + 1), hi)
    assert checks.check_backfill(truth, lo, hi, dict(good, decoded=good["decoded"] - 1), hi)
    assert checks.check_backfill(truth, lo, hi, good, hi - 1)


def _tail_ok(truth, window, n):
    out = {}
    for w in range(n):
        s = truth.range_stats(truth.first_block + w * window, truth.first_block + (w + 1) * window - 1)
        out[w] = (window, s["transfers"] + s["malformed"], s["transfers"])
    return out


def test_tail_check_rejects_dropped_and_repeated_windows(chain):
    _, truth = chain
    good = _tail_ok(truth, 10, 6)
    assert checks.check_tail(truth, truth.first_block, 10, 6, good) == []
    dropped = {w: v for w, v in good.items() if w != 5}
    assert checks.check_tail(truth, truth.first_block, 10, 6, dropped)
    twice = {**good, 3: tuple(2 * x for x in good[3])}
    assert checks.check_tail(truth, truth.first_block, 10, 6, twice)
    assert checks.check_tail(truth, truth.first_block, 10, 5, good)  # uncommitted window landed


def test_rows_check_rejects_a_wrong_value():
    want = [(1, b"a", 10), (2, b"b", 20)]
    assert checks.check_rows_equal("q", [(2, bytearray(b"b"), 20), (1, b"a", 10)], want) == []
    assert checks.check_rows_equal("q", [(1, b"a", 10), (2, b"b", 21)], want)
    assert checks.check_rows_equal("q", [(1, b"a", 10)], want)
    assert checks.check_rows_equal("q", want + [want[0]], want)


def _curation_ok(truth):
    cluster_of = {d: min(f) for f in truth.families for d in f}
    kept = {min(f) for f in truth.families} | {min(g) for g in truth.exact_groups}
    return kept, cluster_of


def test_curation_check_rejects_corruption(corpus):
    _, truth = corpus
    kept, cluster_of = _curation_ok(truth)
    assert checks.check_curation(truth, kept, cluster_of) == []
    # an exact copy survives
    copy = max(truth.exact_groups[0])
    assert checks.check_curation(truth, kept | {copy}, cluster_of)
    # two families merged into one cluster
    f0, f1 = truth.families[0], truth.families[1]
    merged = {**cluster_of, **{d: min(f0) for d in f1}}
    assert checks.check_curation(truth, kept - {min(f1)}, merged)
    # pairs not found: every family member left unclustered
    assert checks.check_curation(truth, kept, {})
    # two members of one cluster kept
    assert checks.check_curation(truth, kept | {max(f0)}, cluster_of)


def test_percentiles_follow_the_sample_count():
    assert metrics.supported_tail(19) is None
    assert metrics.supported_tail(40) == 75
    assert metrics.supported_tail(100) == 90
    assert metrics.supported_tail(1000) == 99
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert set(metrics.describe(list(range(40)))) == {"n", "p50", "p75"}


def test_self_time_subtracts_child_spans():
    tr = spans.Tracer("t", True)
    outer = tr.open("streaming.run_continuous")
    for name in ("writers.push_data", "writers.push_data"):
        tr.close(tr.open(name))
    tr.close(outer)
    outer.start, outer.end = 0.0, 10.0
    tr.spans[1].start, tr.spans[1].end = 1.0, 4.0
    tr.spans[2].start, tr.spans[2].end = 5.0, 9.0
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert tr.self_times() == {"streaming.run_continuous": 3.0, "writers.push_data": 7.0}
    assert tr.layer_table()["writers"]["spans"] == 2
    assert spans.Tracer("t", False).open("x") is None


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
