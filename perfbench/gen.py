"""Seeded input generator for the two benchmark workloads.

Every input is a pure function of (workload, seed, sizes): the same
arguments give byte-identical files (`digest_dir` checks that). The
program under test receives only the files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Final sizes (see perfbench/WORKLOADS.md for why each is what it is).
SIZES = {
    "ss_sweep": {"queries": 100, "shards": 32, "buckets": 4, "mean_depth": 35},
    "train_data": {"docs": 3000, "vectors": 4000, "dim": 64, "clusters": 48},
}

RESULTS_BASE = "run"
VERSION = 3  # bump when generation changes, so stale inputs are regenerated


def _write(table, path):
    # fixed writer settings: no statistics-dependent choices, one row
    # group, so the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   write_statistics=True, use_dictionary=True)


def _share(rng, n, frac, start=0):
    """Exactly round(frac * n) distinct indices in [start, n), sorted."""
    return np.sort(rng.permutation(np.arange(start, n))[:round(frac * n)])


def _zipf_weights(n, a, rng):
    w = 1.0 / np.arange(1, n + 1) ** a
    return w[rng.permutation(n)]


# ---------------------------------------------------------------- ss_sweep

def gen_ss_sweep(seed, out, queries, shards, buckets, mean_depth):
    """Per-shard result files in the reference contract, the headerless
    shard- and bucket-score CSVs, and the upstream merger table.

    Relevance is Zipf-concentrated: per query a random permutation of
    shards carries weight 1/r^1.5, and both a doc's relevance and its
    shard's selection score follow that weight (plus noise), so the top
    few selected shards hold most relevant docs."""
    rng = np.random.default_rng([seed, 1])
    Q, S, B = queries, shards, buckets
    hot = np.stack([_zipf_weights(S, 1.5, rng) for _ in range(Q)])  # (Q, S)
    # result depth varies per (query, shard): lognormal around mean_depth,
    # deeper in hot shards, scaled below to an exact total
    depth = rng.lognormal(np.log(mean_depth), 0.35, size=(Q, S))
    depth = depth * (0.5 + hot / hot.max(axis=1, keepdims=True))
    # scale so every seed yields the same total, queries x shards x mean_depth
    depth = np.clip(np.round(depth * (Q * S * mean_depth / depth.sum())),
                    1, 40 * mean_depth).astype(np.int64)
    n = int(depth.sum())
    q = np.repeat(np.repeat(np.arange(Q), S), depth.ravel())
    s = np.repeat(np.tile(np.arange(S), Q), depth.ravel())
    starts = np.repeat(np.cumsum(depth.ravel()) - depth.ravel(), depth.ravel())
    r = np.arange(n) - starts  # rank within (query, shard)
    offset = rng.integers(0, 1_000_003, size=Q * S)
    ldocid = (np.repeat(offset, depth.ravel()) + r * 104_729) % 1_000_003
    gdocid = s.astype(np.int64) * 10_000_000 + ldocid
    # scores descend with r inside a (query, shard) list; hot shards
    # score higher overall
    base = np.log(hot[q, s]) + rng.normal(0, 0.5, size=Q * S).repeat(depth.ravel())
    score = np.round(base + 10.0 - np.log1p(r) + rng.normal(0, 0.05, size=n), 6)
    # keep score descending within each list, as the rank column says
    score = score[np.lexsort((-score, s, q))]
    bucket = rng.choice(B, size=n, p=np.arange(B, 0, -1) / (B * (B + 1) / 2))
    p_rel = np.clip(0.6 * (hot[q, s] / hot.max(axis=1)[q]) / (1.0 + 0.05 * r), 0, 1)
    rel = (rng.random(n) < p_rel).astype(np.int32)

    res_dir = os.path.join(out, "results")
    os.makedirs(res_dir, exist_ok=True)
    cols = {
        "query": q.astype(np.int32), "rank": r.astype(np.int32),
        "ldocid": ldocid.astype(np.int64), "gdocid": gdocid.astype(np.int64),
        "score": score.astype(np.float64), "shard": s.astype(np.int32),
        "bucket": bucket.astype(np.int32),
    }
    for sh in range(S):
        m = cols["shard"] == sh
        _write(pa.table({k: v[m] for k, v in cols.items()}),
               os.path.join(res_dir, f"{RESULTS_BASE}#{sh}.results-{B}"))

    # upstream merger: global rank per query over all shards (score
    # desc, gdocid asc), relevance, title
    g = np.lexsort((gdocid, -score, q))
    grank = np.empty(n, dtype=np.int32)
    qs = q[g]
    first = np.r_[0, np.flatnonzero(np.diff(qs)) + 1]
    pos = np.arange(n) - np.repeat(first, np.diff(np.r_[first, n]))
    grank[g] = pos + 1
    _write(pa.table({
        "query": cols["query"], "shard": cols["shard"], "bucket": cols["bucket"],
        "gdocid": cols["gdocid"], "score": cols["score"],
        "global_rank": grank, "rel": rel,
        "title": pa.array([f"doc{x}" for x in gdocid.tolist()]),
    }), os.path.join(out, "merger.parquet"))

    shard_score = np.log(hot) + rng.normal(0, 0.7, size=(Q, S))
    with open(os.path.join(out, "shard_scores.csv"), "w") as f:
        f.writelines(f"{v:.12g}\n" for v in shard_score.ravel())
    bucket_score = (shard_score[:, :, None] - 0.3 * np.arange(B)[None, None, :]
                    + rng.normal(0, 0.4, size=(Q, S, B)))
    with open(os.path.join(out, "bucket_scores.csv"), "w") as f:
        f.writelines(f"{v:.12g}\n" for v in bucket_score.ravel())
    return n


# ---------------------------------------------------------------- train_data: documents

_EN = ("the a of and to in is that for it on with as was at by be this from "
       "or an are not but have").split()
_OTHER = {
    "es": "el la de que y en los se del las por un para con una su".split(),
    "fr": "le la de et les des en un une du est que pour dans qui sur".split(),
    "de": "der die und den das von zu mit sich des auf ist im nicht ein".split(),
}
_CONTENT = [f"w{i:03d}{c}" for i, c in zip(range(400), "abcdefghijklmnopqrstuvwxyz" * 16)]


def gen_documents(seed, out, docs):
    """`documents` (doc_id, text, lang, source, n_chars) with controlled
    exact-duplicate share (8%), benchmark contamination (3% of docs carry
    a 12-token passage of a doc_id % 97 == 1 doc), language skew
    (en 55%), one hot source (40% of docs in src0), a long length tail
    (2% of docs 1000-1500 tokens) and 5% repetitive docs the Gopher gate
    drops. Duplicates copy the text of an earlier doc, never replicate
    the corpus."""
    rng = np.random.default_rng([seed, 2])
    n = docs
    langs = np.array(["en", "es", "fr", "de"])
    lang = langs[rng.choice(4, size=n, p=[0.55, 0.15, 0.15, 0.15])]
    n_src = 16
    src_p = np.r_[0.40, np.full(n_src - 1, 0.60 / (n_src - 1))]
    source = np.array([f"src{i}" for i in range(n_src)])[rng.choice(n_src, size=n, p=src_p)]
    ntok = np.clip(rng.lognormal(np.log(110), 0.55, size=n), 12, 900).astype(int)
    giant = _share(rng, n, 0.02)
    ntok[giant] = rng.integers(1000, 1500, size=len(giant))
    cw = 1.0 / np.arange(1, len(_CONTENT) + 1) ** 0.7
    cw /= cw.sum()
    texts = []
    for i in range(n):
        stop = _EN if lang[i] == "en" else _OTHER[lang[i]] + _EN[:3]
        k = int(ntok[i])
        is_stop = rng.random(k) < 0.35
        words = np.where(is_stop, np.array(stop)[rng.integers(0, len(stop), k)],
                         np.array(_CONTENT)[rng.choice(len(_CONTENT), size=k, p=cw)])
        lines = np.split(words, np.arange(18, k, 18))
        texts.append("\n".join(" ".join(l) for l in lines))
    bench_ids = np.flatnonzero(np.arange(n) % 97 == 1)
    # repetitive docs: one line repeated, dropped by the gate
    rep = _share(rng, n, 0.05)
    for i in rep:
        line = texts[i].split("\n")[0]
        texts[i] = "\n".join([line] * 8)
    # contamination: splice a 12-token passage of a benchmark doc
    cont = _share(rng, n, 0.03)
    for i in cont:
        b = int(bench_ids[rng.integers(0, len(bench_ids))])
        if b == i:
            continue
        bw = texts[b].split()
        st = int(rng.integers(0, max(1, len(bw) - 12)))
        texts[i] = texts[i] + "\n" + " ".join(bw[st:st + 12])
    # exact duplicates: copy an earlier doc's text (and keep own metadata)
    dup = _share(rng, n, 0.08, start=1)
    for i in dup:
        texts[i] = texts[int(rng.integers(0, i))]
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(source.tolist()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))
    return n


# ---------------------------------------------------------------- train_data: embeddings

def gen_embeddings(seed, out, vectors, dim, clusters):
    """`embeddings` (vec_id, embedding list<float>, label): clustered
    vectors with Zipf-unequal cluster sizes (the largest cluster holds
    ~15% of the corpus)."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0, 1, size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    w = 1.0 / np.arange(1, clusters + 1) ** 0.9
    label = rng.choice(clusters, size=vectors, p=w / w.sum())
    spread = rng.uniform(0.25, 0.6, size=clusters)
    v = centers[label] + rng.normal(0, 1, size=(vectors, dim)) * spread[label, None] / np.sqrt(dim)
    v *= rng.uniform(0.6, 1.4, size=(vectors, 1)) * 0.9
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.astype(np.float32).ravel()), dim)
    _write(pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), os.path.join(out, "embeddings.parquet"))
    return vectors


def gen_train_data(seed, out, docs, vectors, dim, clusters):
    """`documents` and `embeddings`; returns their rows together."""
    return (gen_documents(seed, out, docs)
            + gen_embeddings(seed, out, vectors, dim, clusters))


GENERATORS = {"ss_sweep": gen_ss_sweep, "train_data": gen_train_data}


def generate(workload, seed, out, sizes=None):
    """Write the workload's inputs into `out` and return the number of
    primary-input rows."""
    sizes = dict(SIZES[workload], **(sizes or {}))
    os.makedirs(out, exist_ok=True)
    rows = GENERATORS[workload](seed, out, **sizes)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "sizes": sizes, "rows": rows,
                   "version": VERSION},
                  f, sort_keys=True)
    return rows


def digest_dir(path):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


if __name__ == "__main__":
    wl, sd, od = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(generate(wl, sd, od), digest_dir(od))
