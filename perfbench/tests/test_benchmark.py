"""Tests of the benchmark itself: seeded inputs, the percentile rule, the
metric catalogue and the numpy references. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pytest

import inputs
import oracles
from metrics import END_TO_END, NAME_RE, PER_LAYER, WORKLOAD_OPS
from stats import quartile_spread, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _write_all(d: str, seed: int) -> dict:
    os.makedirs(f"{d}/shards")
    rng = inputs.rng_for(seed, "base")
    cents = inputs.random_centroids(inputs.rng_for(seed, "centroids"), 4, 16)
    inputs.write_vectors(f"{d}/v.parquet", np.arange(50), inputs.clustered_vectors(rng, cents, 50, 0.5))
    inputs.write_documents(f"{d}/docs.parquet", inputs.documents(inputs.rng_for(seed, "docs"), 20, 12, 100, 5, 1))
    return inputs.write_shards(f"{d}/shards", seed, 10, 4, 32)


def test_same_seed_same_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    c = _write_all(str(tmp_path / "c"), 8)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_caption_round_trips_its_fields():
    fields = inputs.taxon_fields(inputs.rng_for(1, "captions"), 3)
    text = inputs.caption(fields)
    assert text.startswith("a photo of kingdom ") and text.endswith(".")
    for rank in ("kingdom", "phylum", "class", "order", "family", "genus", "species"):
        assert f" {rank} {fields[rank]}" in text
    assert f"with common name {fields['common_name']}." in text


def test_planted_copies_are_near_duplicates():
    docs = dict(inputs.documents(inputs.rng_for(3, "docs"), 30, 50, 5000, 10, 1))
    for j in range(30, 40):
        best = max(oracles.jaccard(docs[j], docs[i], 3) for i in range(30))
        assert best >= 0.8


def test_tail_percentile_rule():
    assert tail(range(10)) is None
    assert tail(range(11)) == {"value": 0, "percentile": 9.09, "n": 11}
    t = tail(range(100))
    assert t == {"value": 89, "percentile": 90.0, "n": 100}
    # exactly 10 samples lie beyond the reported value
    assert sum(x > t["value"] for x in range(100)) == 10


def test_quartile_spread():
    assert quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert quartile_spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def test_metric_names_and_benchmark_json_agree():
    names = [m[0] for m in END_TO_END] + [m[0] for m in PER_LAYER]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m[1]) for m in END_TO_END + PER_LAYER)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_OPS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert len(bench["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


# -- numpy references on hand-made examples -----------------------------------


def _index() -> oracles.Index:
    s = np.sqrt(0.5)
    emb = np.array(
        [[1, 0, 0], [s, s, 0], [0, 1, 0], [0, s, s], [0, 0, 1], [1, 0, 0]], dtype=float
    )
    return oracles.Index(
        ids=np.array([10, 11, 12, 13, 14, 15]),
        emb=emb,
        pids=np.array([0, 0, 1, 1, 2, 0]),
        faiss_ids=np.array([0, 1, 0, 1, 0, 2]),
        cent_ids=np.array([0, 1, 2]),
        cents=np.eye(3),
    )


def test_ivf_reference_routes_prunes_and_merges():
    idx, q = _index(), np.array([1.0, 0.0, 0.0])
    ref, cut = oracles.ivf_search_ref(idx, q, nprobe=1, top_n=2)
    # partition 0 only; 10 and 15 tie at distance 0 and break by id
    assert ref == [(10, 0.0), (15, 0.0)] and cut is None
    ref, _ = oracles.ivf_search_ref(idx, q, nprobe=2, top_n=1)
    # partitions 0 then 1 (tie at distance 1 broken by the smaller id)
    assert [i for i, _ in ref] == [10, 12]
    assert ref[1][1] == pytest.approx(1.0)
    ref, cut = oracles.ivf_search_ref(idx, q, nprobe=3, top_n=3, limit=2)
    assert [i for i, _ in ref] == [10, 15] and cut == pytest.approx(1 - np.sqrt(0.5))


def test_ranking_mismatch_tolerates_only_float_ties():
    ref = [(1, 0.1), (2, 0.2), (3, 0.2), (4, 0.3)]
    assert oracles.ranking_mismatch(ref, ref) is None
    swapped = [(1, 0.1), (3, 0.2 + 1e-9), (2, 0.2), (4, 0.3)]
    assert oracles.ranking_mismatch(swapped, ref) is None
    assert oracles.ranking_mismatch([(1, 0.1), (2, 0.2), (3, 0.2), (5, 0.3)], ref)
    assert oracles.ranking_mismatch(ref[:3], ref)
    assert oracles.ranking_mismatch([(1, 0.1), (2, 0.2), (3, 0.2), (4, 0.31)], ref)
    # a different id at the last rank passes only when the cut ties with it
    last = [(1, 0.1), (2, 0.2), (3, 0.2), (9, 0.3)]
    assert oracles.ranking_mismatch(last, ref, cut=0.4)
    assert oracles.ranking_mismatch(last, ref, cut=0.3) is None


def test_assignment_mismatches():
    idx = _index()
    assert oracles.assignment_mismatches(idx.emb, idx.pids, idx.cent_ids, idx.cents) == 0
    # id 11 sits exactly between centroids 0 and 1: either is nearest
    moved = idx.pids.copy()
    moved[1] = 1
    assert oracles.assignment_mismatches(idx.emb, moved, idx.cent_ids, idx.cents) == 0
    moved[0] = 2
    assert oracles.assignment_mismatches(idx.emb, moved, idx.cent_ids, idx.cents) == 1


def test_semantic_dedup_reference():
    cents = np.eye(2)
    a, b = np.array([0.9, np.sqrt(1 - 0.81)]), np.array([0.8, 0.6])
    c = np.array([np.sqrt(1 - 0.01), -0.1])
    x = np.vstack([a, b, c, [0.0, 1.0]])
    ids = np.array([5, 6, 7, 8])
    cluster = oracles.best_centroid(x, np.arange(2), cents)
    assert cluster.tolist() == [0, 0, 0, 1]
    out = oracles.semantic_decide_ref(ids, x, cluster, np.arange(2), cents, threshold=0.9)
    # rank by similarity to centroid 0: c (0.995), a (0.9), b (0.8)
    assert out[7] == (0, 1, True)
    # a.c = 0.852 is not above 0.9: kept
    assert out[5] == (0, 2, True)
    # b.a = 0.982 is above 0.9 and a ranks better: removed
    assert out[6] == (0, 3, False)
    assert out[8] == (1, 1, True)


def test_best_centroid_ties_go_to_the_smallest_id():
    x = np.array([[np.sqrt(0.5), np.sqrt(0.5)]])
    assert oracles.best_centroid(x, np.array([3, 4]), np.eye(2)).tolist() == [3]


def test_jaccard_over_word_trigrams():
    assert oracles.shingles("a b c d", 3) == {"a b c", "b c d"}
    assert oracles.jaccard("a b c d", "a b c e", 3) == pytest.approx(1 / 3)
    assert oracles.jaccard("a b", "a b", 3) == 0.0
