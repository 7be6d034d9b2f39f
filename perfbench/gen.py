"""Seeded generator for the benchmark's input tables.

Writes `events`, `documents` and `embeddings` with the schemas, value
ranges and planted structure of the engine's reference test data at the
given scale factor (sf 0.1: 100,000 events, 5,000 documents, 2,000
vectors):

* events are time-ordered over January 2024, about 66 per user;
* 5% of documents are an earlier document's text plus the token ``dup``
  (near-duplicate families the dedup operators must find; any other pair
  of documents shares almost no 3-gram, so the similarity gap the dedup
  checks rely on holds); ``meta.json`` records the families;
* embeddings are random unit vectors in 64 dimensions.

The same ``seed`` and ``sf`` always give the same values.
Run directly: ``python3 perfbench/gen.py OUT_DIR SEED [SF]``.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _texts(rng, n: int):
    """Texts plus the planted families: ``dup_of[i]`` is the document that
    i copies (or -1)."""
    texts, dup_of = [], np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            dup_of[i] = j
            texts.append(texts[j] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_choice(rng, WORDS, k)))
    return texts, dup_of


ALL_TABLES = ("events", "documents", "embeddings")


def generate(out: str, seed: int, sf: float = 0.1, only=ALL_TABLES) -> dict:
    """Writes the tables named in ``only``. Each table draws from its own
    stream, so a subset holds the same values as the full set."""
    os.makedirs(out, exist_ok=True)
    n = {"events": int(1_000_000 * sf), "documents": int(50_000 * sf),
         "embeddings": int(20_000 * sf)}
    meta = {"seed": seed, "sf": sf, "rows": {}}

    def events(rng):
        e = n["events"]
        return {"event_id": pa.array(np.arange(e, dtype=np.int64)),
                "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, e))),
                "user_id": pa.array(rng.integers(0, max(1, e // 66), e, dtype=np.int64)),
                "event_type": _choice(rng, ["click", "error", "purchase", "signup",
                                            "view"], e).tolist(),
                "value": pa.array(_cents(rng.exponential(50.0, e))),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}

    def documents(rng):
        d = n["documents"]
        texts, dup_of = _texts(rng, d)
        meta["dup_of"] = {int(i): int(j) for i, j in enumerate(dup_of) if j >= 0}
        return {"doc_id": pa.array(np.arange(d, dtype=np.int64)),
                "text": texts,
                "lang": _choice(rng, ["de", "en", "es", "fr", "zh"], d,
                                p=[0.14, 0.42, 0.15, 0.15, 0.14]).tolist(),
                "source": [f"src{k}" for k in rng.integers(0, 20, d)],
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}

    def embeddings(rng):
        m = n["embeddings"]
        vecs = rng.standard_normal((m, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": pa.array(np.arange(m, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, m, dtype=np.int32))}

    makers = dict(zip(ALL_TABLES, (events, documents, embeddings)))
    for i, name in enumerate(ALL_TABLES):
        if name in only:
            cols = makers[name](np.random.default_rng([seed, i]))
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
            meta["rows"][name] = len(next(iter(cols.values())))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
