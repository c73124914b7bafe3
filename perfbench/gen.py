"""Seeded input generator for the graft benchmark.

Writes testdata-schema parquet tables into one directory:

  events      event_id, ts (timestamp[us]), user_id, event_type, value, props
  documents   doc_id, text, lang, source, n_chars
  embeddings  vec_id, embedding (list<float>), label

The shapes follow the repository's test data and the program's own corpus
generator (graft.sources.CorpusGen): 45-99 samples per series over 30
days, 5 event types, value ~ Exp(mean 50) with a sinusoid planted in a
stated share of series; token-salad documents over a 30-word
vocabulary with planted exact and near duplicates; 64-dim embeddings
clustered around axis-aligned centres. The same seed and sizes give
byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <json sizes>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "line", "column", "order", "small", "sort", "fast",
         "value", "scan", "hash", "slow", "group", "batch", "agg",
         "filter", "query", "a", "big", "key", "window", "row", "part",
         "table", "stream", "merge", "data", "vector", "join", "the",
         "customer"]
LANGS = ["en", "es", "fr", "de", "zh"]
DIM = 64
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000
DAY_S = 86400.0


def events(rng, n_series, min_samples, max_samples, signal_share):
    """One row per sample of `n_series` independent series; a planted
    share carries a multiplicative sinusoid of period 0.5-10 days."""
    counts = rng.integers(min_samples, max_samples + 1, size=n_series)
    user = np.repeat(np.arange(n_series, dtype=np.int64), counts)
    n = int(counts.sum())
    ts = T0_US + rng.integers(0, SPAN_US, size=n, dtype=np.int64)
    value = rng.exponential(50.0, size=n)
    planted = rng.random(n_series) < signal_share
    period_s = DAY_S * np.exp(rng.uniform(np.log(0.5), np.log(10.0),
                                          size=n_series))
    phase = rng.uniform(0.0, 2 * np.pi, size=n_series)
    t_s = (ts - T0_US) / 1e6
    wave = 1.0 + 0.8 * np.sin(2 * np.pi * t_s / period_s[user] + phase[user])
    value = np.where(planted[user], value * wave, value)
    value = np.maximum(np.round(value, 2), 0.01)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    k = rng.integers(0, 100, size=n)
    # event_id follows event time, so an event-time feed is also an
    # event_id feed (ties cannot occur: ids are a total order)
    order = np.lexsort((user, ts))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(user[order]),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype[order]]),
        "value": pa.array(value[order]),
        "props": pa.array(['{"k": %d}' % v for v in k[order]]),
    }), int(planted.sum())


def _salad(rng, n_tokens):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                    size=n_tokens))


def documents(rng, n_docs, exact_share, near_share):
    """Token-salad documents. Docs with id >= 100 become an exact copy
    (exact_share) or a one-token rewrite (near_share) of an earlier
    document, mirroring CorpusGen's planted duplicates."""
    lengths = rng.integers(15, 60, size=n_docs)
    texts = [_salad(rng, int(m)) for m in lengths]
    roll = rng.random(n_docs)
    n_exact = n_near = 0
    for i in range(100, n_docs):
        if roll[i] >= exact_share + near_share:
            continue
        src = int(rng.integers(0, i // 2 + 1))
        if roll[i] < exact_share:
            texts[i] = texts[src]
            n_exact += 1
        else:
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = \
                VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
            n_near += 1
    en = rng.random(n_docs) < 0.4
    other = rng.integers(1, len(LANGS), size=n_docs)
    lang = [LANGS[0] if e else LANGS[o] for e, o in zip(en, other)]
    source = ["src%d" % s for s in rng.integers(0, 20, size=n_docs)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    }), n_exact, n_near


def embeddings(rng, n_vecs, clusters):
    """Axis-aligned cluster centres (2.0 on every dim d with
    d % clusters == label) plus uniform noise in [-0.3, 0.3)."""
    label = rng.integers(0, clusters, size=n_vecs).astype(np.int32)
    dims = np.arange(DIM)
    centre = np.where(dims[None, :] % clusters == label[:, None], 2.0, 0.0)
    emb = (centre + rng.uniform(-0.3, 0.3, size=(n_vecs, DIM))) \
        .astype(np.float32)
    offsets = np.arange(0, (n_vecs + 1) * DIM, DIM, dtype=np.int32)
    vec = pa.ListArray.from_arrays(pa.array(offsets), pa.array(emb.ravel()))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": vec,
        "label": pa.array(label),
    })


def generate(out_dir, seed, sizes):
    """Write the tables `sizes` asks for; returns a summary dict with
    the planted counts and a sha256 digest over the written files."""
    os.makedirs(out_dir, exist_ok=True)
    summary = {"seed": seed}
    tables = {}
    if "series" in sizes:
        rng = np.random.default_rng([seed, 1])
        tables["events"], summary["planted_series"] = events(
            rng, sizes["series"], sizes["min_samples"], sizes["max_samples"],
            sizes["signal_share"])
        summary["events"] = tables["events"].num_rows
    if "docs" in sizes:
        rng = np.random.default_rng([seed, 2])
        tables["documents"], summary["exact_dups"], summary["near_dups"] = \
            documents(rng, sizes["docs"], sizes["exact_dup_share"],
                      sizes["near_dup_share"])
    if "vecs" in sizes:
        rng = np.random.default_rng([seed, 3])
        tables["embeddings"] = embeddings(rng, sizes["vecs"],
                                          sizes["clusters"])
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(tables[name], path, compression="snappy")
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    summary["digest"] = h.hexdigest()
    return summary


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]),
                              json.loads(sys.argv[3]))))
