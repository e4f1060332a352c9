"""Seeded inputs and numpy ground truth for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed gives
byte-identical parquet and the same truth.  Tables are written as
``<dir>/<name>.parquet`` directories of part files, the layout that
``sources.tables.load_table``, ``table_rows`` and ``table_dim`` read.
Nothing here imports Spark; the program under test only sees the files.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 100
K = 10
QUERIES_PER_OP = 100
LABELS = 10

# Random streams, one per kind of input, so that adding a draw to one kind
# never shifts another.
_CENTERS, _BASE, _QUERY, _IUD, _DOCS = range(5)


def rng(seed: int, stream: int, *index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *index])


def centers(seed: int) -> np.ndarray:
    return rng(seed, _CENTERS).normal(0.0, 3.0, (CLUSTERS, DIM)).astype(np.float32)


def base_vectors(seed: int, n: int) -> np.ndarray:
    """n rows drawn from 100 Gaussian clusters (unit spread around centres
    with spread 3), float32."""
    r = rng(seed, _BASE, n)
    cid = r.integers(0, CLUSTERS, n)
    X = r.standard_normal((n, DIM), dtype=np.float32)
    X += centers(seed)[cid]
    return X


def base_labels(seed: int, n: int) -> np.ndarray:
    return rng(seed, _BASE, n, 1).integers(0, LABELS, n).astype(np.int32)


def _vec_array(X: np.ndarray) -> pa.ListArray:
    offsets = np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(X.reshape(-1), pa.float32()))


def write_table(path: str, cols: dict[str, np.ndarray], files: int = 1) -> None:
    """Write ``cols`` (``vec`` is a 2-d float32 matrix) as ``files`` part
    files under the directory ``path``, atomically."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = len(next(iter(cols.values())))

    def write_part(f, sl):
        lo, hi = (int(sl[0]), int(sl[-1]) + 1) if len(sl) else (0, 0)
        arrays = {c: (_vec_array(v[lo:hi]) if c == "vec" else pa.array(v[lo:hi]))
                  for c, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(tmp, f"part-{f:05d}.parquet"))

    with ThreadPoolExecutor(files) as pool:  # pyarrow releases the GIL
        list(pool.map(write_part, range(files), np.array_split(np.arange(n), files)))
    os.replace(tmp, path)


def ensure_base(data_dir: str, seed: int, n: int, files: int,
                labels: bool = False) -> None:
    """The searchable table ``base.parquet`` (id, vec[, label]), and its
    vectors as ``base.npy`` for the truth."""
    path = os.path.join(data_dir, "base.parquet")
    if os.path.isdir(path):
        return
    X = base_vectors(seed, n)
    np.save(os.path.join(data_dir, "base.npy"), X)
    cols = {"id": np.arange(n, dtype=np.int64), "vec": X}
    if labels:
        cols["label"] = base_labels(seed, n)
    write_table(path, cols, files)


def load_base(data_dir: str) -> np.ndarray:
    return np.load(os.path.join(data_dir, "base.npy"))


def query_batch(data_dir: str, seed: int, i: int, labels: bool = False):
    """Batch ``i`` of 100 fresh queries near random cluster centres, written
    as ``q<i>.parquet``; qids are unique across batches.  Returns
    (table name, qids, Q, labels or None)."""
    r = rng(seed, _QUERY, i)
    Q = r.standard_normal((QUERIES_PER_OP, DIM), dtype=np.float32)
    Q += centers(seed)[r.integers(0, CLUSTERS, QUERIES_PER_OP)]
    qids = np.arange(i * QUERIES_PER_OP, (i + 1) * QUERIES_PER_OP, dtype=np.int64)
    lab = r.integers(0, LABELS, QUERIES_PER_OP).astype(np.int32) if labels else None
    name = f"q{i}"
    path = os.path.join(data_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        cols = {"qid": qids, "vec": Q}
        if labels:
            cols["label"] = lab
        write_table(path, cols)
    return name, qids, Q, lab


def knn_truth(X: np.ndarray, Q: np.ndarray, k: int = K,
              mask: np.ndarray | None = None, chunk: int = 100_000) -> np.ndarray:
    """Exact top-k ids (rows of X) per query, ties by id.  ``mask`` (n, q)
    bool restricts the rows each query may return.

    The k-th smallest distance within the first chunk bounds the global
    k-th smallest from above, so a float32 GEMM pass keeps only rows under
    that bound (plus a rounding margin); the survivors are ranked by their
    float64 distances."""
    Qf = Q.astype(np.float32)
    qi, rows, tau = [], [], None
    for lo in range(0, len(X), chunk):
        Xc = X[lo:lo + chunk]
        D = (Xc * Xc).sum(1)[None, :] - 2.0 * (Qf @ Xc.T)
        if mask is not None:
            D = np.where(mask[lo:lo + chunk].T, D, np.inf)
        if tau is None:
            scale = np.abs(D[np.isfinite(D)]).max()
            tau = np.partition(D, k - 1, axis=1)[:, k - 1:k] + 1e-4 * (1 + scale)
        q, r = np.nonzero(D <= tau)
        qi.append(q)
        rows.append(r + lo)
    qi, rows = np.concatenate(qi), np.concatenate(rows)
    diff = X[rows].astype(np.float64) - Q[qi].astype(np.float64)
    d = np.sqrt((diff * diff).sum(1))
    order = np.lexsort((rows, d, qi))
    qi, rows = qi[order], rows[order]
    starts = np.searchsorted(qi, np.arange(len(Q)))
    return np.stack([rows[s:s + k] for s in starts])


def cached_truth(data_dir: str, key: str, compute) -> np.ndarray:
    path = os.path.join(data_dir, "truth", f"{key}.npy")
    if os.path.exists(path):
        return np.load(path)
    t = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.save(path + ".tmp.npy", t)
    os.replace(path + ".tmp.npy", path)
    return t


class IUDStream:
    """The insert/update/delete stream of the IUD part of ``ivf_iud_dedup``,
    with a numpy mirror of the table it produces.  Round r draws 10 inserts
    of fresh ids, 10 updates of live ids (new vector and label) and 10
    deletes of other live ids, so the mutated state after any round is
    known exactly."""

    PER_KIND = 10

    def __init__(self, seed: int, n: int, max_rounds: int):
        self.seed = seed
        cap = n + max_rounds * self.PER_KIND
        self.X = np.zeros((cap, DIM), dtype=np.float32)
        self.X[:n] = base_vectors(seed, n)
        self.label = np.zeros(cap, dtype=np.int32)
        self.label[:n] = base_labels(seed, n)
        self.alive = np.zeros(cap, dtype=bool)
        self.alive[:n] = True
        self.deleted = np.zeros(cap, dtype=bool)
        self.next_id = n
        self.rounds = 0

    def next_round(self):
        """Advance the mirror one round; returns (inserts, updates, deletes)
        as lists of (id, vec, label), (id, vec, label) and ids."""
        r = rng(self.seed, _IUD, self.rounds)
        self.rounds += 1
        c = centers(self.seed)
        m = self.PER_KIND

        def fresh(count):
            V = r.standard_normal((count, DIM), dtype=np.float32)
            V += c[r.integers(0, CLUSTERS, count)]
            return V, r.integers(0, LABELS, count).astype(np.int32)

        live = np.flatnonzero(self.alive)
        picked = r.choice(live, 2 * m, replace=False)
        upd_ids, del_ids = picked[:m], picked[m:]
        ins_ids = np.arange(self.next_id, self.next_id + m)
        self.next_id += m
        iv, il = fresh(m)
        uv, ul = fresh(m)
        self.X[ins_ids], self.label[ins_ids], self.alive[ins_ids] = iv, il, True
        self.X[upd_ids], self.label[upd_ids] = uv, ul
        self.alive[del_ids] = False
        self.deleted[del_ids] = True
        return (list(zip(ins_ids.tolist(), iv, il.tolist())),
                list(zip(upd_ids.tolist(), uv, ul.tolist())),
                del_ids.tolist())

    def truth(self, Q: np.ndarray, qlabels: np.ndarray) -> np.ndarray:
        n = self.next_id
        mask = self.alive[:n, None] & (self.label[:n, None] == qlabels[None, :])
        return knn_truth(self.X[:n], Q, mask=mask)


# ---------------------------------------------------------------- documents

VOCAB = 20_000
ZIPF_S = 1.1
DOCS_PER_OP = 5_000
NEAR_SHARE, EXACT_SHARE = 0.10, 0.05


def _word(j: int) -> str:
    return "w" + np.base_repr(j, 36).lower()


_WORDS = np.array([_word(j) for j in range(VOCAB)], dtype=object)
_ZIPF_P = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()


def doc_batch(data_dir: str, seed: int, i: int):
    """Batch ``i`` of 5,000 docs over a Zipf vocabulary: 10% are near
    duplicates (2 words replaced) and 5% exact duplicates of distinct
    originals.  Writes ``d<i>.parquet``; returns (table name, texts by
    doc_id, planted pairs as a set of (id_a, id_b) with id_a < id_b)."""
    r = rng(seed, _DOCS, i)
    n = DOCS_PER_OP
    n_near, n_exact = int(n * NEAR_SHARE), int(n * EXACT_SHARE)
    n_orig = n - n_near - n_exact
    lens = r.integers(60, 141, n_orig)
    words = r.choice(VOCAB, int(lens.sum()), p=_ZIPF_P)
    docs = [list(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    sources = r.choice(n_orig, n_near + n_exact, replace=False)
    for s in sources[:n_near]:
        d = list(docs[s])
        for pos in r.choice(len(d), 2, replace=False):
            d[pos] = (d[pos] + 1 + int(r.integers(0, VOCAB - 1))) % VOCAB
        docs.append(d)
    docs.extend(list(docs[s]) for s in sources[n_near:])
    doc_id = r.permutation(n).astype(np.int64)  # position -> doc_id
    texts = {int(doc_id[p]): " ".join(_WORDS[d]) for p, d in enumerate(docs)}
    planted = {tuple(sorted((int(doc_id[s]), int(doc_id[n_orig + j]))))
               for j, s in enumerate(sources)}
    name = f"d{i}"
    path = os.path.join(data_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        ids = np.array(sorted(texts), dtype=np.int64)
        write_table(path, {"doc_id": ids,
                           "text": np.array([texts[j] for j in ids], dtype=object)})
    return name, texts, planted


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact word n-gram Jaccard with the program's tokenisation
    (lowercased whitespace tokens)."""
    def sh(t):
        tk = t.lower().split()
        return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)
