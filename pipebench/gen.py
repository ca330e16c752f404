"""Seeded input generators for the three pipebench workloads.

Each generator writes the files the program reads (parquet) plus a
`truth.json` that only the benchmark's output checks read: planted
duplicate groups, expected filter drops, the CDC batch plan. The same
seed always gives byte-identical inputs.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of record. Chosen so one pass / cycle is a few seconds on a
# 4-core host (see README.md, "Input sizes").
PANEL = {"tickers": 200, "dates": 250}
CORPUS_ANN = {"docs": 5000, "words": (40, 60), "exact_groups": 200,
              "near_groups": 300, "short_docs": 100, "symbol_docs": 100,
              "dim": 64, "clusters": 48, "queries": 400,
              "append_rows": 200, "apply_upserts": 150,
              "apply_deletes": 50}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------- panel


def panel(seed, out, tickers, dates):
    """Date x ticker panel: a price random walk, four raw features, a
    signal correlated with the features (so neutralisation has exposure
    to remove) and a target driven by features plus noise."""
    rng = np.random.default_rng(seed)
    n = tickers * dates
    era = np.repeat(np.arange(dates, dtype=np.int32), tickers)
    ticker = np.tile(np.arange(tickers, dtype=np.int32), dates)
    steps = rng.normal(0.0, 0.02, size=(dates, tickers))
    price = 50.0 * np.exp(np.cumsum(steps, axis=0)).reshape(n)
    feats = rng.normal(size=(4, n))
    signal = 0.6 * feats[0] - 0.4 * feats[1] + 0.3 * feats[2] \
        + rng.normal(size=n)
    target = 0.5 * feats[0] + 0.3 * feats[3] - 0.2 * feats[1] \
        + rng.normal(scale=1.0, size=n)
    t = pa.table({
        "rid": pa.array(np.arange(n, dtype=np.int64)),
        "era": pa.array(era), "ticker": pa.array(ticker),
        "price": pa.array(price),
        **{f"f{i + 1}": pa.array(feats[i]) for i in range(4)},
        "signal": pa.array(signal), "target": pa.array(target)})
    _write(t, os.path.join(out, "panel.parquet"))
    return {"rows": n}


# -------------------------------------------------------------- corpus

_STOP = ["the", "and", "of", "to", "with", "that"]


def _vocab(rng, size):
    """Random lower-case words of 4-9 letters: unrelated documents share
    few character trigrams, so LSH candidates are planted pairs."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, size=size)
    return sorted({"".join(rng.choice(letters, size=k)) for k in lens})


def corpus(rng, out, docs, words, exact_groups, near_groups, short_docs,
           symbol_docs):
    """Documents with planted exact duplicates (verbatim, case and
    whitespace variants: equal after normalisation), near duplicates
    (one word replaced) and documents the Gopher battery must drop (too
    short, symbol-heavy). Returns the truth and the plain ids (in no
    planted group)."""
    vocab = np.array(_vocab(rng, 6000))
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.6
    weights /= weights.sum()

    def doc():
        n = int(rng.integers(*words))
        ws = list(rng.choice(vocab, size=n, p=weights))
        for pos in rng.choice(n, size=4, replace=False):
            ws[pos] = _STOP[int(rng.integers(len(_STOP)))]
        return ws

    n_base = docs - exact_groups * 2 - near_groups - short_docs \
        - symbol_docs
    texts = [" ".join(doc()) for _ in range(n_base)]
    exact, near = [], []
    # exact groups: a distinct base doc + 1 or 2 copies that are equal
    # to it after normalisation (verbatim, upper case, extra whitespace)
    sources = rng.choice(n_base, size=exact_groups, replace=False)
    for g, src in enumerate(int(x) for x in sources):
        copies = 1 + (g % 3 == 0)
        group = [src]
        for c in range(copies):
            t = texts[src]
            kind = (g + c) % 3
            if kind == 1:
                t = t.upper()
            elif kind == 2:
                t = "  " + t.replace(" ", "   ", 5) + " "
            group.append(len(texts))
            texts.append(t)
        exact.append(group)
    # keep the copy count exact: pad with plain base docs
    while len(texts) < n_base + exact_groups * 2:
        texts.append(" ".join(doc()))
    used = {i for g in exact for i in g}
    # near groups: a distinct base doc + one variant with a word replaced
    free = [i for i in range(n_base) if i not in used]
    for src in rng.choice(free, size=near_groups, replace=False):
        ws = texts[src].split(" ")
        word = str(vocab[rng.integers(len(vocab))])
        pos = int(rng.integers(len(ws)))
        while word == ws[pos]:  # an unchanged copy would be an exact dup
            word = str(vocab[rng.integers(len(vocab))])
        ws[pos] = word
        near.append([int(src), len(texts)])
        texts.append(" ".join(ws))
    dropped = []
    for _ in range(short_docs):
        dropped.append(len(texts))
        texts.append(" ".join(doc()[:8]))
    for _ in range(symbol_docs):
        ws = doc()
        dropped.append(len(texts))
        texts.append(" ".join(w + " #" if i % 3 == 0 else w
                              for i, w in enumerate(ws)))
    # shuffle row order and ids so planted groups are not adjacent
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(len(texts), dtype=np.int64)
    t = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in perm])})
    _write(t, os.path.join(out, "docs.parquet"))
    remap = lambda groups: [sorted(int(new_id[i]) for i in g)
                            for g in groups]
    truth = {"exact_groups": remap(exact), "near_groups": remap(near),
             "dropped": sorted(int(new_id[i]) for i in dropped)}
    planted = used | {i for g in near for i in g} | set(dropped)
    plain = sorted(int(new_id[i]) for i in range(len(texts))
                   if i not in planted)
    return truth, plain


# ----------------------------------------------------------------- ann


def embeddings(rng, out, docs, plain, dim, clusters, queries,
               append_rows, apply_upserts, apply_deletes):
    """One clustered embedding per document, probe queries near the
    clusters, and a CDC plan: an append batch of new documents' vectors,
    then a batch of re-embeds and deletes of plain documents."""
    centres = rng.normal(size=(clusters, dim))

    def draw(n):
        c = rng.integers(clusters, size=n)
        return (centres[c] + rng.normal(scale=0.35, size=(n, dim))) \
            .astype(np.float32)

    def table(ids, vecs, op=None):
        cols = {"vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
                "embedding": pa.array(list(vecs),
                                      type=pa.list_(pa.float32()))}
        if op is not None:
            cols["op"] = pa.array(op)
        return pa.table(cols)

    _write(table(np.arange(docs), draw(docs)),
           os.path.join(out, "embeddings.parquet"))
    qids = 1_000_000_000 + np.arange(queries)
    _write(table(qids, draw(queries)), os.path.join(out, "queries.parquet"))
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    ids = np.arange(docs, docs + append_rows)
    _write(table(ids, draw(append_rows)),
           os.path.join(out, "batches", "append.parquet"))
    pick = rng.choice(plain, size=apply_upserts + apply_deletes,
                      replace=False)
    vecs = np.concatenate([draw(apply_upserts),
                           np.zeros((apply_deletes, dim), dtype=np.float32)])
    _write(table(pick, vecs, ["U"] * apply_upserts + ["D"] * apply_deletes),
           os.path.join(out, "batches", "apply.parquet"))
    return [{"kind": "append", "file": "append.parquet"},
            {"kind": "apply", "file": "apply.parquet"}]


def corpus_ann(seed, out, docs, words, exact_groups, near_groups,
               short_docs, symbol_docs, dim, clusters, queries, append_rows,
               apply_upserts, apply_deletes):
    rng = np.random.default_rng(seed)
    truth, plain = corpus(rng, out, docs, words, exact_groups, near_groups,
                          short_docs, symbol_docs)
    truth["plan"] = embeddings(rng, out, docs, plain, dim, clusters,
                               queries, append_rows, apply_upserts,
                               apply_deletes)
    truth["dim"] = dim
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


GENERATORS = {"panel_pipeline": (panel, PANEL),
              "corpus_ann": (corpus_ann, CORPUS_ANN)}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` to `out`."""
    fn, params = GENERATORS[workload]
    fn(seed, out, **params)


def input_sizes(out):
    """{file: {rows, bytes}} for every record input file under `out`."""
    sizes = {}
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                sizes[os.path.relpath(p, out)] = {
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p)}
    return sizes


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(o, exist_ok=True)
    generate(w, s, o)
    print(json.dumps(input_sizes(o)))
