"""The benchmark's input generators are pure functions of the seed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402


def _bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _corpus(path: Path, seed: int) -> dict[str, bytes]:
    path.mkdir()
    planted = gen.corpus(path, seed, 300)
    (path / "planted").write_text(repr(planted))
    return _bytes(path)


def _payloads(path: Path, seed: int) -> dict[str, bytes]:
    gen.payloads(path, seed, 20)
    return _bytes(path)


@pytest.mark.parametrize("make", [_corpus, _payloads])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = make(tmp_path / "a", 7)
    b = make(tmp_path / "b", 7)
    c = make(tmp_path / "c", 8)
    assert a and a == b
    assert a.keys() == c.keys()
    assert a != c


def test_corpus_plants_clusters_and_a_hot_cluster(tmp_path):
    import pyarrow.parquet as pq

    n_docs = 1000
    planted = gen.corpus(tmp_path, 3, n_docs)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    assert sorted(docs["doc_id"]) == list(range(n_docs))
    clusters = int(n_docs * gen.CLUSTER_SHARE) // gen.CLUSTER_SIZE
    assert len(planted) == clusters * gen.CLUSTER_SIZE * (gen.CLUSTER_SIZE - 1) // 2
    text = dict(zip(docs["doc_id"], docs["text"]))
    for a, b in planted:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= len(ta) // 4
    # the hot cluster: HOT_SHARE of the corpus carries the HOT_TOKENS-long boilerplate
    lengths = [len(t.split()) for t in docs["text"]]
    assert lengths.count(gen.HOT_TOKENS) >= n_docs * gen.HOT_SHARE


def test_payload_windows_include_zero_price_windows(tmp_path):
    import json

    files = gen.payloads(tmp_path, 1, 60)
    zero_windows = 0
    for f in files:
        prices = [json.loads(x)["price_data"]["USD"] for x in f.read_text().splitlines() if "price_data" in x]
        assert len(prices) == gen.TICKS_PER_WINDOW
        zero_windows += all(p == 0 for p in prices)
    assert zero_windows > 0
    first = [json.loads(x) for x in files[0].read_text().splitlines()]
    assert all(p.get("price_data", {}).get("USD", 1) != 0 for p in first)
