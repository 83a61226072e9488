"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes its inputs under a
fresh directory; the same seed gives byte-identical files and a
different seed gives different ones. The engine only ever sees the
generated files.

- ``corpus``: ``documents`` + ``embeddings`` for the LLM-data operators,
  built as fresh shards with near-duplicate clusters planted at a known
  rate plus one hot boilerplate cluster. Returns the planted pairs.
- ``payloads``: price and hashrate HTTP payloads (the reference's
  mempool.space shapes) on a simulated 10-second clock, one JSON-lines
  file per 5-minute window, with some price windows planted at zero so
  the previous-window fallback fires.
- ``land`` (``python3 gen.py land ...``): the live-phase generator
  process. It lands already generated payload files into the watched
  directory on a fixed wall-clock schedule, whatever the engine does,
  and records when each file actually landed.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
EMBED_DIM = 64
N_LABELS = 10

# payload clock: the reference polls every 10 s and averages 5-minute windows
TICK_S = 10
WINDOW_S = 300
TICKS_PER_WINDOW = WINDOW_S // TICK_S
PAYLOAD_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
HOT_TOKENS = 64
# share of a near-duplicate's tokens replaced: base-variant 3-gram Jaccard
# about 0.9, well above the dedup operators' thresholds
EDIT_RATE = 0.01
# corpus layout: share of documents in near-duplicate clusters, documents
# per cluster, and share of the corpus in the hot boilerplate cluster
CLUSTER_SHARE = 0.2
CLUSTER_SIZE = 3
HOT_SHARE = 0.02
# share of payload windows whose every price is zero
ZERO_SHARE = 0.1


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(path: Path, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _documents_cols(rng, doc_ids, texts) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings_cols(rng, vec_ids, vecs) -> dict:
    n = len(vec_ids)
    return {
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    }


def _perturb(rng, tokens: list[str], rate: float) -> list[str]:
    """Replace each token with a random vocabulary word at ``rate``."""
    out = list(tokens)
    for i in np.flatnonzero(rng.random(len(out)) < rate):
        out[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return out


def corpus(out: Path, seed: int, n_docs: int) -> list[tuple[int, int]]:
    """Write an LLM corpus, ``documents`` and ``embeddings``, under ``out``.

    Fresh-shard model (as in the sf1 replica generator): each shard has
    its own vocabulary suffix, so n-gram and document-frequency
    statistics grow with the corpus instead of repeating. Near-duplicate
    clusters take ``CLUSTER_SHARE`` of the documents: a seed document
    and ``CLUSTER_SIZE - 1`` copies with ``EDIT_RATE`` of their tokens
    replaced. One hot cluster of ``HOT_SHARE`` of the corpus carries the
    same boilerplate with the same light edits. Embeddings of a cluster
    are its seed vector plus small noise.

    Returns the planted near-duplicate pairs ``(doc_a, doc_b)`` with
    ``doc_a < doc_b``, over the ordinary clusters only: the hot cluster's
    pairs are quadratic in its size and are the skew case, not the
    recall reference."""
    r = _rng(seed, 9)
    n_hot = max(2, int(n_docs * HOT_SHARE))
    n_clustered = int(n_docs * CLUSTER_SHARE) // CLUSTER_SIZE * CLUSTER_SIZE
    shard_size = 500
    texts: list[str] = []
    vecs = np.empty((n_docs, EMBED_DIM), np.float32)
    planted: list[tuple[int, int]] = []

    def shard_text(doc: int, k: int | None = None) -> list[str]:
        k = int(r.integers(30, 100)) if k is None else k
        sfx = f"_s{doc // shard_size}" if doc >= shard_size else ""
        return [VOCAB[i] + sfx for i in r.integers(0, len(VOCAB), k)]

    doc = 0
    while doc < n_clustered:
        base = shard_text(doc)
        v = _unit_vectors(r, 1)[0]
        members = list(range(doc, doc + CLUSTER_SIZE))
        for i, m in enumerate(members):
            texts.append(" ".join(base if i == 0 else _perturb(r, base, EDIT_RATE)))
            noisy = v + 0.02 * r.standard_normal(EMBED_DIM).astype(np.float32)
            vecs[m] = noisy / np.linalg.norm(noisy)
        planted += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
        doc += CLUSTER_SIZE
    # fixed length: the hot cluster's pair work grows with its text, and
    # it should not swing with the seed
    boiler = shard_text(0, HOT_TOKENS)
    hot_vec = _unit_vectors(r, 1)[0]
    for m in range(doc, doc + n_hot):
        texts.append(" ".join(_perturb(r, boiler, EDIT_RATE)))
        noisy = hot_vec + 0.02 * r.standard_normal(EMBED_DIM).astype(np.float32)
        vecs[m] = noisy / np.linalg.norm(noisy)
    doc += n_hot
    for m in range(doc, n_docs):
        texts.append(" ".join(shard_text(m)))
    vecs[doc:] = _unit_vectors(r, n_docs - doc)

    # shuffle ids so clusters are not contiguous in doc_id order
    perm = r.permutation(n_docs)
    _write(out / "documents.parquet", _documents_cols(r, perm, texts))
    _write(out / "embeddings.parquet", _embeddings_cols(r, perm, vecs))
    return sorted(tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in planted)


def payloads(out: Path, seed: int, n_windows: int) -> list[Path]:
    """Write one JSON-lines payload file per 5-minute window.

    Each window holds one price and one hashrate payload per 10-second
    tick, plus an occasional payload with neither (which routing drops).
    A ``ZERO_SHARE`` of windows carry USD=0 on every price payload, so
    the engine must emit the previous window's average instead."""
    out.mkdir(parents=True, exist_ok=True)
    r = _rng(seed, 10)
    zero = r.random(n_windows) < ZERO_SHARE
    zero[0] = False  # the fallback needs a previous non-zero window
    files = []
    usd = 42_000.0
    for w in range(n_windows):
        lines = []
        for t in range(TICKS_PER_WINDOW):
            ts = PAYLOAD_EPOCH + w * WINDOW_S + t * TICK_S
            usd = max(1_000.0, usd + r.normal(0, 50))
            price = 0 if zero[w] else int(usd)
            lines.append({"price_data": {"USD": price, "time": ts}, "spider_ts": ts})
            lines.append({
                "hash_rate_data": {
                    "currentHashrate": float(int(6e20 + r.normal(0, 1e19))),
                    "currentDifficulty": float(int(8e13 + r.normal(0, 1e11))),
                },
                "spider_ts": ts,
            })
            if r.random() < 0.02:
                lines.append({"spider_ts": ts})
        path = out / f"payloads-{w:06d}.json"
        path.write_text("".join(json.dumps(x, sort_keys=True) + "\n" for x in lines))
        files.append(path)
    return files


def land(src: Path, dst: Path, t0: float, interval_s: float, log: Path) -> None:
    """Move ``src``'s payload files into ``dst`` one at a time, file i at
    wall time ``t0 + i * interval_s``, independent of the consumer. Each
    file is written under a hidden name and renamed, so the file stream
    never sees a partial file. Writes ``[scheduled, landed]`` per file."""
    dst.mkdir(parents=True, exist_ok=True)
    record = []
    for i, f in enumerate(sorted(src.glob("payloads-*.json"))):
        due = t0 + i * interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = dst / f".{f.name}.tmp"
        tmp.write_bytes(f.read_bytes())
        os.rename(tmp, dst / f.name)
        record.append([f.name, due, time.time()])
    log.write_text(json.dumps(record))


if __name__ == "__main__":
    if len(sys.argv) != 7 or sys.argv[1] != "land":
        raise SystemExit("usage: gen.py land SRC DST T0 INTERVAL_S LOG")
    land(Path(sys.argv[2]), Path(sys.argv[3]), float(sys.argv[4]), float(sys.argv[5]), Path(sys.argv[6]))
