"""Seeded input generator for the graft benchmark.

Every input is a pure function of (workload, seed): the same pair always
writes the same parquet files and the same ground truth. Each table is
written as FILES parquet files so that every scan spreads over all task
slots, and `truth.json` records what was planted, for the checks.
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 8  # parquet files per table; at least the number of task slots

# Sizes. Chosen so one warm round takes one to two seconds at local[4],
# which gives ten or more timed rounds inside one run.
DENSE_ROWS = 50_000
SPARSE_DOCS = 2_000
SPARSE_DIM = 1024
SPARSE_VOCAB = 20_000
CORPUS_DOCS = 1_000
EMB_DIM = 64
EMB_CLUSTERS = 24
QUERIES = 100

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
STOPS = np.array(STOPWORDS, dtype=object)


def _rng(workload, seed):
    return np.random.default_rng([zlib.crc32(workload.encode()), seed])


def _write(table, path):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, FILES + 1).astype(int)
    for i in range(FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, "part-%05d.parquet" % i))


# --------------------------------------------------------------- glm_dense

DENSE_FEATURES = ["l_quantity", "p_retailprice", "l_discount", "l_tax",
                  "ship_lag", "receipt_lag", "p_size", "o_priority"]
# planted coefficients on the standardized scale (feature -> coefficient)
GAUSS_SIGNAL = {"l_quantity": 1.0, "l_discount": -0.8, "ship_lag": 0.5}
BINOM_SIGNAL = {"l_quantity": 0.9, "l_tax": -0.7, "o_priority": 0.6}
# multinomial: classes 0 and 1 against the baseline class 2
MULTI_SIGNAL = {0: {"l_discount": 1.0}, 1: {"ship_lag": -0.9, "p_size": 0.8}}


def gen_glm_dense(rng, out):
    n = DENSE_ROWS
    x = {
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "p_retailprice": rng.uniform(900.0, 2100.0, n).round(2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "ship_lag": rng.integers(1, 122, n).astype(float),
        "receipt_lag": rng.integers(1, 31, n).astype(float),
        "p_size": rng.integers(1, 51, n).astype(float),
        "o_priority": rng.integers(1, 6, n).astype(float),
    }
    z = {f: (v - v.mean()) / v.std() for f, v in x.items()}

    def lin(signal):
        return sum(c * z[f] for f, c in signal.items())

    y_gauss = 5.0 + lin(GAUSS_SIGNAL) + rng.normal(0.0, 1.0, n)
    p = 1.0 / (1.0 + np.exp(-(-0.3 + lin(BINOM_SIGNAL))))
    y_bin = (rng.random(n) < p).astype(float)
    eta = np.stack([lin(MULTI_SIGNAL[0]), lin(MULTI_SIGNAL[1]), np.zeros(n)], 1)
    pm = np.exp(eta)
    pm /= pm.sum(1, keepdims=True)
    u = rng.random(n)[:, None]
    y_multi = (u > pm.cumsum(1)).sum(1).astype(np.int64)
    cols = {"id": np.arange(n, dtype=np.int64)}
    cols.update(x)
    cols.update({"y_gauss": y_gauss, "y_bin": y_bin, "y_multi": y_multi})
    _write(pa.table(cols), os.path.join(out, "design"))
    return {
        "rows": n,
        "features": DENSE_FEATURES,
        "gaussian_signs": {f: int(np.sign(c)) for f, c in GAUSS_SIGNAL.items()},
        "binomial_signs": {f: int(np.sign(c)) for f, c in BINOM_SIGNAL.items()},
        "multinomial_signs": {str(k): {f: int(np.sign(c)) for f, c in s.items()}
                              for k, s in MULTI_SIGNAL.items()},
    }


# -------------------------------------------------------------- glm_sparse

def gen_glm_sparse(rng, out):
    n, p = SPARSE_DOCS, SPARSE_DIM
    ranks = np.arange(1, SPARSE_VOCAB + 1, dtype=float)
    wp = ranks ** -1.05
    wp /= wp.sum()
    # feature hashing: word id -> bucket in [0, p)
    bucket = ((np.arange(SPARSE_VOCAB, dtype=np.uint64) * np.uint64(2654435761))
              % np.uint64(2 ** 32) % np.uint64(p)).astype(np.int64)
    lens = rng.integers(40, 140, n)
    words = rng.choice(SPARSE_VOCAB, size=int(lens.sum()), p=wp)
    doc = np.repeat(np.arange(n), lens)
    key = doc * p + bucket[words]
    uk, cnt = np.unique(key, return_counts=True)
    row = uk // p
    idx = (uk % p).astype(np.int32)
    val = np.log1p(cnt.astype(float))
    offs = np.searchsorted(row, np.arange(n + 1))
    # planted signal on buckets present in 10-40% of documents, with
    # effects of 0.5-0.8 per standard deviation of the bucket, so every
    # planted bucket enters the lasso path well above 0.1 lambda max
    dfreq = np.bincount(idx, minlength=p) / n
    sd = np.sqrt(np.maximum(np.bincount(idx, weights=val ** 2, minlength=p) / n
                            - (np.bincount(idx, weights=val, minlength=p) / n) ** 2, 1e-12))
    cand = np.flatnonzero((dfreq > 0.10) & (dfreq < 0.40))
    support = np.sort(rng.choice(cand, size=8, replace=False))
    coef = rng.choice([-1.0, 1.0], 8) * rng.uniform(0.5, 0.8, 8) / sd[support]
    beta = np.zeros(p)
    beta[support] = coef
    dense_eta = np.bincount(row, weights=val * beta[idx], minlength=n)
    eta = dense_eta - np.mean(dense_eta)
    y_bin = (rng.random(n) < 1.0 / (1.0 + np.exp(-eta))).astype(float)
    y_lin = 2.0 + eta + rng.normal(0.0, 0.5, n)
    idx_list = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), pa.array(idx))
    val_list = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), pa.array(val))
    t = pa.table({"id": np.arange(n, dtype=np.int64), "idx": idx_list,
                  "val": val_list, "y_bin": y_bin, "y_lin": y_lin})
    _write(t, os.path.join(out, "docs"))
    return {"rows": n, "dim": p, "nnz": int(len(idx)),
            "support": [int(j) for j in support],
            "signs": [int(np.sign(c)) for c in coef]}


# --------------------------------------------------------- corpus_curation

def _vocabulary(rng, size):
    syl = np.array(["ka", "lo", "mi", "ren", "tas", "por", "vel", "un", "sio",
                    "dar", "bel", "min", "tor", "esh", "qua", "ni", "zo", "gal",
                    "fer", "ost"], dtype=object)
    out, seen = [], set(STOPWORDS)
    while len(out) < size:
        picks = syl[rng.integers(0, len(syl), (4 * size, 3))]
        for w in (picks[:, 0] + picks[:, 1] + np.where(
                rng.random(4 * size) < 0.5, picks[:, 2], "")):
            if 4 <= len(w) <= 9 and w not in seen and len(out) < size:
                seen.add(w)
                out.append(w)
    return out


def _clean_doc(rng, vocab, cdf):
    """A document that passes every gopher rule by construction: 60-220
    alphabetic words of 4-9 letters, about a fifth of them stopwords
    (all eight appear), no symbols, bullets or ellipses."""
    n = int(rng.integers(60, 220))
    ws = vocab[np.searchsorted(cdf, rng.random(n))]
    stops = np.concatenate([STOPS, STOPS[rng.integers(0, 8, n // 5 - 8)]])
    ws[rng.integers(0, n, len(stops))] = stops
    ws = ws.tolist()
    ws[0], ws[1] = "the", "of"  # at least two distinct stopword hits
    cuts = [0] + np.cumsum(rng.integers(8, 16, n // 8 + 1)).tolist()
    return "\n".join(" ".join(ws[a:b]) for a, b in zip(cuts, cuts[1:]) if a < n)


def _break_rule(rng, text, rule, vocab):
    ws = text.split()
    if rule == "short":
        return " ".join(ws[:30])
    if rule == "symbols":
        return " ".join(w + (" #" if i % 3 == 0 else "") for i, w in enumerate(ws))
    if rule == "bullets":
        return "\n".join("- " + " ".join(ws[i:i + 6]) for i in range(0, len(ws), 6))
    if rule == "ellipsis":
        return "\n".join(" ".join(ws[i:i + 6]) + " ..." for i in range(0, len(ws), 6))
    if rule == "no_stopwords":
        return " ".join(w if w not in STOPWORDS else vocab[0] for w in ws)
    if rule == "numeric":
        return " ".join(str(int(rng.integers(10, 99999))) if i % 3 else w
                        for i, w in enumerate(ws))
    if rule == "long_words":
        return " ".join(w * 3 for w in ws)
    raise ValueError(rule)


RULES = ["short", "symbols", "bullets", "ellipsis", "no_stopwords", "numeric",
         "long_words"]


def gen_corpus_curation(rng, out):
    n = CORPUS_DOCS
    vocab = np.array(_vocabulary(rng, 6000), dtype=object)
    cdf = np.cumsum(np.arange(1, len(vocab) + 1, dtype=float) ** -0.9)
    cdf /= cdf[-1]
    n_exact, n_near, n_bad = n * 3 // 100, n * 3 // 100, n * 5 // 100
    n_base = n - n_exact - n_near
    texts = [_clean_doc(rng, vocab, cdf) for _ in range(n_base)]
    # rule breakers: distinct base documents, each broken in one rule
    bad_ids = rng.choice(n_base, n_bad, replace=False)
    bad_set = set(int(i) for i in bad_ids)
    for j, i in enumerate(bad_ids):
        texts[i] = _break_rule(rng, texts[i], RULES[j % len(RULES)], vocab)
    clean_base = np.array([i for i in range(n_base) if i not in bad_set])
    # exact duplicates: copies of clean base documents
    exact_src = rng.choice(clean_base, n_exact, replace=True)  # some groups of 3
    exact_groups = {}
    for s in exact_src:
        exact_groups.setdefault(int(s), [int(s)])
        exact_groups[int(s)].append(len(texts))
        texts.append(texts[s])
    # near duplicates: a clean base document with ~1% of its words changed
    remaining = np.setdiff1d(clean_base, exact_src)
    near_src = rng.choice(remaining, n_near, replace=False)
    near_pairs = []
    for s in near_src:
        lines = [ln.split(" ") for ln in texts[s].split("\n")]
        flat = [(a, b) for a, ln in enumerate(lines) for b in range(len(ln))]
        k = max(1, len(flat) // 100)
        for f in rng.choice(len(flat), k, replace=False):
            a, b = flat[f]
            if lines[a][b] not in STOPWORDS:
                lines[a][b] = vocab[int(rng.integers(0, len(vocab)))]
        lines[-1].append(vocab[int(rng.integers(0, len(vocab)))])
        near_pairs.append([int(s), len(texts)])
        texts.append("\n".join(" ".join(ln) for ln in lines))
    # a random permutation of ids so planted rows are spread over files
    perm = rng.permutation(n)  # position -> id
    ids = perm.astype(np.int64)
    n_tokens = np.array([len(t.split()) for t in texts], dtype=np.int64)
    quality = rng.random(n).round(6)
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, EMB_CLUSTERS, n)
    emb = centers[assign] + rng.normal(0, 0.6 / np.sqrt(EMB_DIM), (n, EMB_DIM))
    emb_list = pa.FixedSizeListArray.from_arrays(
        pa.array(emb.ravel()), EMB_DIM).cast(pa.list_(pa.float64()))
    order = np.argsort(ids)
    t = pa.table({"id": ids[order], "text": [texts[i] for i in order],
                  "n_tokens": n_tokens[order], "quality": quality[order],
                  "emb": emb_list.take(pa.array(order))})
    _write(t, os.path.join(out, "docs"))
    qsrc = rng.choice(n, QUERIES, replace=False)
    qv = emb[qsrc] + rng.normal(0, 0.3 / np.sqrt(EMB_DIM), (QUERIES, EMB_DIM))
    q = pa.table({"id": np.arange(QUERIES, dtype=np.int64) + 1_000_000_000,
                  "emb": pa.FixedSizeListArray.from_arrays(
                      pa.array(qv.ravel()), EMB_DIM).cast(pa.list_(pa.float64()))})
    _write(q, os.path.join(out, "queries"))

    def pid(i):
        return int(ids[i])

    bad_ids_out = sorted(pid(i) for i in bad_ids)
    return {
        "rows": n,
        "exact_groups": sorted(sorted(pid(i) for i in g)
                               for g in exact_groups.values()),
        "near_pairs": sorted(sorted([pid(a), pid(b)]) for a, b in near_pairs),
        "rule_breakers": bad_ids_out,
        "rule_of_breaker": {str(pid(i)): RULES[j % len(RULES)]
                            for j, i in enumerate(bad_ids)},
        "total_tokens": int(n_tokens.sum()),
    }


def gen_glm(rng, out):
    """The dense design and the sparse documents, each with its own truth."""
    for part, fn in (("dense", gen_glm_dense), ("sparse", gen_glm_sparse)):
        truth = fn(rng, os.path.join(out, part))
        with open(os.path.join(out, part, "truth.json"), "w") as f:
            json.dump(truth, f)
    return {}


GENERATORS = {"glm": gen_glm, "corpus_curation": gen_corpus_curation}


def generate(workload, seed, out):
    """Writes the inputs of (workload, seed) under `out` unless a complete
    copy is already there; returns `out`."""
    done = os.path.join(out, "truth.json")
    if os.path.exists(done):
        return out
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    truth = GENERATORS[workload](_rng(workload, seed), tmp)
    truth.update({"workload": workload, "seed": seed, "files_per_table": FILES})
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.rename(tmp, out)
    return out
