#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the `documents`, `embeddings` and `events` tables with the schemas
and statistical shape of the sf0.x test data (word-salad texts over a
31-word vocabulary with exact and near duplicates, unit-norm 64-dim
embeddings in 10 clusters around fixed centres, 30 days of events), at
any size and from any seed. `size` is a multiple of the sf0.1 shape: 1 gives 5,000 documents / 2,000 embeddings
/ 100,000 events, 10 gives the sf1 shape, 0.1 the sf0.01 shape.

Every set gets a `manifest.json` with the row count and the sha256 of
each table file, so two runs can show they read identical inputs.

Usage: python3 gen.py <outdir> --seed N --size X [--rows table=n,...]
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(sorted(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value window write zip".split()))
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"] * 2  # ~40% en
TABLES = ("documents", "embeddings", "events")


def n_rows(size: float) -> dict:
    return {"documents": max(int(5_000 * size), 50),
            "embeddings": max(int(2_000 * size), 50),
            "events": max(int(100_000 * size), 100)}


def documents(rng, n: int) -> pa.Table:
    # duplicates start after a lead-in of originals: 100 docs as in the
    # test data, a tenth of the set when that is smaller, so small sets
    # hold duplicates too
    lead = min(100, n // 10)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > lead and r < 0.002:           # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > lead and r < 0.022:           # near duplicate: 1-2 token edits
            base = texts[rng.integers(0, i)].split()
            for _ in range(int(rng.integers(1, 3))):
                base[rng.integers(0, len(base))] = str(VOCAB[rng.integers(0, 31)])
            texts.append(" ".join(base))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[rng.integers(0, 31, k)]))
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]
    srcs = [f"src{int(x)}" for x in rng.integers(0, 20, n)]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# The cluster geometry is the same for every seed; a seed draws the points.
# Clustering work (linking, tree rotations, bisection steps) depends on how
# the centres lie, so a per-seed geometry would make one seed's pass cost
# differ from another's by more than the engine's own run-to-run noise.
CENTERS = np.random.default_rng(20210601).normal(size=(10, 64))
CENTERS /= np.linalg.norm(CENTERS, axis=1, keepdims=True)


def embedding_matrix(rng, n: int):
    centers = CENTERS
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + rng.normal(scale=0.25, size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def embeddings(rng, n: int) -> pa.Table:
    vecs, labels = embedding_matrix(rng, n)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n: int) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    users = max(int(n * 0.015), 1)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(100.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(out: str, seed: int, rows: dict) -> dict:
    """Write `rows[name]` rows of each named table to `out` (atomically,
    via a temp dir) and return the manifest. Each table has its own
    generator stream derived from the seed, so the tables left out or
    resized do not change the others."""
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    builders = {"documents": documents, "embeddings": embeddings, "events": events}
    manifest = {"seed": seed, "tables": {}}
    for i, name in enumerate(TABLES):
        if name not in rows:
            continue
        rng = np.random.default_rng([seed, i])
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(builders[name](rng, rows[name]), path)
        manifest["tables"][name] = {"rows": rows[name], "sha256": sha256(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, out)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=float, default=1.0)
    ap.add_argument("--rows", default="",
                    help="table=n overrides; naming any table limits the set to those named")
    a = ap.parse_args()
    rows = dict((k, int(v)) for k, v in (kv.split("=") for kv in a.rows.split(",") if kv))
    m = generate(a.out, a.seed, rows or n_rows(a.size))
    print(json.dumps(m, sort_keys=True))


if __name__ == "__main__":
    main()
