"""Seeded input generators.

Every input of every workload is made here from the ``--seed``
argument alone; nothing is read from outside the run's work directory.
The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZONES = np.array(["downtown", "harbor", "airport", "university", "industrial"])
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
PROPS = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)
# Monday 2024-03-04 00:00 UTC, in microseconds.
EPOCH_US = 1_709_510_400_000_000
DAY_US = 86_400 * 10**6
ROW_GROUP = 32_768


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input, so resizing one input leaves
    the others unchanged."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def sensor_events(
    n: int,
    seed: int,
    stream: str = "events",
    start_us: int = EPOCH_US,
    span_us: int = 7 * DAY_US,
    sensors: int = 1500,
    first_id: int = 0,
    tz: str | None = None,
) -> pa.Table:
    """``n`` sensor readings in ``[start_us, start_us + span_us)``, sorted
    by time: 5 zones (``event_type``), Zipf(1.1)-skewed sensor frequency
    over ``sensors`` ids (``user_id``), 2-decimal readings."""
    rng = _rng(seed, stream)
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    weights = 1.0 / np.arange(1, sensors + 1) ** 1.1
    sensor_of_rank = rng.permutation(sensors)
    uid = sensor_of_rank[rng.choice(sensors, n, p=weights / weights.sum())]
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
            "user_id": uid.astype(np.int64),
            "event_type": ZONES[rng.integers(0, len(ZONES), n)],
            "value": np.round(rng.gamma(2.0, 40.0, n), 2),
            "props": PROPS[rng.integers(0, len(PROPS), n)],
        }
    )


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return np.array(sorted(words), dtype=object)


def documents(
    n: int, seed: int, near_dup_share: float, exact_dup_share: float
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Corpus of ``n`` documents over a Zipf vocabulary; 70 % of the
    originals carry English stopwords. ``near_dup_share`` of the documents are copies of
    an earlier one with one or two words replaced, ``exact_dup_share``
    verbatim copies. Returns the table and the injected near-duplicate
    ``(original, copy)`` pairs."""
    rng = _rng(seed, "documents")
    vocab = _vocab(rng, 4000)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    stop = np.array(STOPWORDS, dtype=object)
    texts: list[str] = []
    langs: list[str] = []
    injected: list[tuple[int, int]] = []
    # Exact counts, at seeded positions, so every seed has the same
    # amount of duplicate work.
    n_near, n_exact = round(n * near_dup_share), round(n * exact_dup_share)
    copies = rng.choice(np.arange(10, n), n_near + n_exact, replace=False)
    kind = dict.fromkeys(copies[:n_near].tolist(), "near") | dict.fromkeys(copies[n_near:].tolist(), "exact")
    english = set(rng.choice(n, round(n * 0.7), replace=False).tolist())
    for i in range(n):
        if i in kind:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            if kind[i] == "near":
                for _ in range(int(rng.integers(1, 3))):
                    toks[int(rng.integers(0, len(toks)))] = vocab[rng.choice(len(vocab), p=p)]
                injected.append((j, i))
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        length = int(rng.integers(30, 120))
        words = vocab[rng.choice(len(vocab), length, p=p)]
        if i in english:
            mask = rng.random(length) < 0.2
            words[mask] = stop[rng.integers(0, len(stop), int(mask.sum()))]
        texts.append(" ".join(words))
        langs.append("en" if i in english else "xx")
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, injected


def embeddings(n: int, seed: int, dup_share: float, dim: int = 64) -> pa.Table:
    """Unit vectors around 16 cluster centres; ``dup_share`` of them are
    noisy copies of an earlier vector."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(16, dim))
    label = rng.integers(0, 16, n)
    x = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    for i in np.sort(rng.choice(np.arange(10, n), round(n * dup_share), replace=False)):
        j = int(rng.integers(0, i))
        x[i] = x[j] + rng.normal(scale=0.05, size=dim)
        label[i] = label[j]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def poisson_offsets(rate: float, seconds: float, seed: int, stream: str) -> np.ndarray:
    """Arrival offsets (s) of a Poisson process of ``rate``/s over
    ``[0, seconds)``."""
    rng = _rng(seed, stream)
    gaps = rng.exponential(1.0 / rate, int(rate * seconds * 2 + 50))
    t = np.cumsum(gaps)
    return t[t < seconds]


def write_dataset(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as a directory of ``parts`` parquet files in row
    order, the shape a collector's hourly drops leave behind."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(path, f"part-{k:05d}.parquet"),
            row_group_size=ROW_GROUP,
        )
