"""The two benchmark workloads and the parts they are made of.

``knn_exact`` is exact kNN over 1M rows.  ``ivf_iud_dedup`` runs three
parts in each op: an IVF search, a round of inserts, updates and deletes
with a label-filtered read, and a MinHash-LSH dedup batch.  The three parts
share one process so that the benchmark fits two workloads with long runs
into its time budget, and each part's layers are still timed apart in the
traced run.

Each workload generates its inputs from the seed (``generate``, untimed),
builds what its ops need (``setup``, part of ``setup_s``), and then runs a
closed loop of ops: ``prepare`` makes the op's fresh inputs off the clock,
``run`` is the timed op, and ``verify`` checks its output against numpy
truth off the clock.  ``run`` only reads parquet through
``sources.tables.load_table`` and calls the program's public functions.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import gen


class CheckFailed(Exception):
    pass


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum and marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def check_ranked(rows, qids, k, true_dist):
    """Shared checks of a (qid, id, dist, rank) result: q*k rows, ranks 1..k
    per query, distinct ids, and every dist equal to the distance the
    harness computes for that (query, id) pair.  Returns {qid: [ids]}."""
    if len(rows) != len(qids) * k:
        raise CheckFailed(f"{len(rows)} rows, expected {len(qids) * k}")
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    if set(by_q) != {int(q) for q in qids}:
        raise CheckFailed("result qids differ from the query batch")
    out = {}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, k + 1)):
            raise CheckFailed(f"qid {q}: ranks are not 1..{k}")
        ids = [r["id"] for r in rs]
        if len(set(ids)) != k:
            raise CheckFailed(f"qid {q}: duplicate ids")
        want = true_dist(q, np.array(ids))
        got = np.array([r["dist"] for r in rs])
        if not np.allclose(got, want, rtol=1e-5, atol=1e-4):
            raise CheckFailed(f"qid {q}: returned distances differ from the vectors")
        out[q] = ids
    return out


def recall(found: dict, qids, truth: np.ndarray) -> float:
    return float(np.mean([len(set(found[int(q)]) & set(t.tolist())) / len(t)
                          for q, t in zip(qids, truth)]))


class Workload:
    name = ""
    items_per_op = gen.QUERIES_PER_OP
    warmup_ops = 1  # untimed ops at the end of set-up
    defer_verify = False  # verify after the loop, when the harness may hold big arrays

    def __init__(self, seed: int, data_dir: str, run_dir: str, cpus: int):
        self.seed, self.data, self.run_dir, self.cpus = seed, data_dir, run_dir, cpus

    def generate(self) -> None:
        pass

    def setup(self, spark, tr) -> None:
        pass

    def space_amp(self) -> float:
        raise NotImplementedError

    def op_counters(self, prep) -> dict:
        """Per-op counts for the traced record, beyond the Spark ones."""
        return {}

    def layer_extras(self, spark, tr, last) -> dict:
        """Per-layer metrics measured once per traced run, off the clock."""
        return {}


class _VectorSearch(Workload):
    """Shared parts of the two unfiltered search workloads."""
    rows = 0
    min_recall = 0.0
    _X = None

    def generate(self):
        gen.ensure_base(self.data, self.seed, self.rows, files=1)

    def load_base(self, spark, tr):
        from bigvectorbench_spark.sources.tables import load_table, table_rows
        with tr.span("sources.load"):
            self.train = load_table(spark, self.data, "base")
            table_rows(self.data, "base")

    def prepare(self, i):
        return gen.query_batch(self.data, self.seed, i)

    def verify(self, i, prep, rows):
        if self._X is None:
            self._X = gen.load_base(self.data)
        X = self._X
        _, qids, Q, _ = prep
        qpos = {int(q): j for j, q in enumerate(qids)}
        found = check_ranked(rows, qids, gen.K, lambda q, ids: np.linalg.norm(
            X[ids].astype(np.float64) - Q[qpos[q]].astype(np.float64), axis=1))
        truth = gen.cached_truth(self.data, f"q{i}", lambda: gen.knn_truth(X, Q))
        r = recall(found, qids, truth)
        if r < self.min_recall:
            raise CheckFailed(f"recall {r:.4f} < {self.min_recall}")
        return r


class KnnExact(_VectorSearch):
    """Exact GEMM kNN over 1M x 64 split into one file per core."""
    name = "knn_exact"
    rows = 1_000_000
    min_recall = 0.999
    # after one warm-up op the next op still ran 10-55% slower than the
    # later ones, and tail_s, the slowest op of a run, reported that chance
    warmup_ops = 2

    defer_verify = True

    def generate(self):
        gen.ensure_base(self.data, self.seed, self.rows, self.cpus)

    def setup(self, spark, tr):
        self.load_base(spark, tr)

    def run(self, spark, tr, prep):
        from bigvectorbench_spark import knn
        from bigvectorbench_spark.sources.tables import load_table
        with tr.span("sources.load"):
            q = load_table(spark, self.data, prep[0])
        with tr.span("knn.call", group=True):
            res = knn(self.train, q, k=gen.K)
        with tr.span("knn.action", group=True):
            return [r.asDict() for r in res.collect()]

    def space_amp(self):
        return dir_bytes(os.path.join(self.data, "base.parquet"))[0] / (self.rows * gen.DIM * 4)


class AnnIvf(_VectorSearch):
    """Part: IVF_FLAT over 25k x 64 (nlist = sqrt(n)): index build in
    set-up, probe search per op."""
    name = "ann_ivf"
    rows = 25_000
    nlist = 158

    def generate(self):
        super().generate()
        self._X = gen.load_base(self.data)

    def setup(self, spark, tr):
        from bigvectorbench_spark import IVFIndex
        from bigvectorbench_spark.sources.tables import load_table
        self.load_base(spark, tr)
        with tr.span("similarity.fit", group=True):
            self.index = IVFIndex.fit(self.train, nlist=self.nlist, max_iter=8, sort_col="id")
        with tr.span("similarity.write", group=True):
            self.index.write_indexed(self.train, os.path.join(self.run_dir, "ivf.parquet"))
        with tr.span("sources.load"):
            self.indexed = load_table(spark, self.run_dir, "ivf")

    def run(self, spark, tr, prep):
        from bigvectorbench_spark.sources.tables import load_table
        with tr.span("sources.load"):
            q = load_table(spark, self.data, prep[0])
        with tr.span("similarity.call", group=True):
            res = self.index.search(self.indexed, q, k=gen.K, nprobe="auto")
        with tr.span("similarity.action", group=True):
            return [r.asDict() for r in res.collect()]

    def index_stats(self):
        return dir_bytes(os.path.join(self.run_dir, "ivf.parquet"))

    def space_amp(self):
        return self.index_stats()[0] / (self.rows * gen.DIM * 4)

    def layer_extras(self, spark, tr, last):
        size, files = self.index_stats()
        return {"similarity.index_mb": size / 2**20, "similarity.index_files": files}


class IudFilter(Workload):
    """Part: inserts, updates and deletes beside label-filtered exact kNN
    reads on a log-structured VectorTable over 25k x 64, compacted after
    every round's read, so that every op does the same work."""
    name = "iud_filter"
    rows = 25_000
    MAX_ROUNDS = 1000

    def generate(self):
        gen.ensure_base(self.data, self.seed, self.rows, self.cpus, labels=True)
        self.stream = gen.IUDStream(self.seed, self.rows, self.MAX_ROUNDS)

    def setup(self, spark, tr):
        from bigvectorbench_spark import VectorTable
        from bigvectorbench_spark.sources.tables import load_table, table_rows
        with tr.span("sources.load"):
            base = load_table(spark, self.data, "base")
            table_rows(self.data, "base")
        self.base_path = os.path.join(self.run_dir, "vt0")
        with tr.span("mutation.bulk_load", group=True):
            self.vt, _ = VectorTable.bulk_load(spark, base, self.base_path)
        self.log_rows = 0

    def prepare(self, i):
        ins, upd, dels = self.stream.next_round()
        name, qids, Q, qlab = gen.query_batch(self.data, self.seed, i, labels=True)
        return {"ins": [{"id": j, "vec": v.tolist(), "label": lab} for j, v, lab in ins],
                "upd": [(j, {"vec": v.tolist(), "label": lab}) for j, v, lab in upd],
                "del": dels, "q": (name, qids, Q, qlab),
                "truth": gen.cached_truth(self.data, f"r{i}", lambda: self.stream.truth(Q, qlab)),
                "path": os.path.join(self.run_dir, f"vt{i + 1}")}

    def run(self, spark, tr, prep):
        from bigvectorbench_spark import filtered_knn
        from bigvectorbench_spark.sources.tables import load_table
        vt = self.vt
        for values in prep["ins"]:
            with tr.span("mutation.append"):
                vt.insert(values)
        for j, values in prep["upd"]:
            with tr.span("mutation.append"):
                vt.update(j, values)
        for j in prep["del"]:
            with tr.span("mutation.append"):
                vt.delete(j)
        self.log_rows += 30
        prep["log_rows"] = self.log_rows  # log length at read time
        with tr.span("mutation.snapshot", group=True):
            snap = vt.snapshot()
        with tr.span("sources.load"):
            q = load_table(spark, self.data, prep["q"][0])
        with tr.span("filter_knn.call", group=True):
            res = filtered_knn(snap, q, k=gen.K, filter_template="label = {label}",
                               query_param_cols=["label"])
        with tr.span("filter_knn.action", group=True):
            rows = [r.asDict() for r in res.collect()]
        with tr.span("mutation.checkpoint", group=True):
            vt.checkpoint(prep["path"])
        self.base_path, self.log_rows = prep["path"], 0
        return rows

    def op_counters(self, prep):
        return {"log_rows": prep["log_rows"]}

    def verify(self, i, prep, rows):
        s = self.stream
        _, qids, Q, qlab = prep["q"]
        qpos = {int(q): j for j, q in enumerate(qids)}
        for r in rows:
            if s.deleted[r["id"]]:
                raise CheckFailed(f"deleted id {r['id']} returned")
            if s.label[r["id"]] != qlab[qpos[r["qid"]]]:
                raise CheckFailed(f"id {r['id']} does not match its query's label")
        # distances are checked against the vectors as updated
        found = check_ranked(rows, qids, gen.K, lambda q, ids: np.linalg.norm(
            s.X[ids].astype(np.float64) - Q[qpos[q]].astype(np.float64), axis=1))
        r = recall(found, qids, prep["truth"])
        if r < 0.999:
            raise CheckFailed(f"recall {r:.4f} < 0.999")
        return r

    def space_amp(self):
        import pyarrow.parquet as pq
        rows = sum(pq.read_metadata(os.path.join(self.base_path, f)).num_rows
                   for f in os.listdir(self.base_path) if f.endswith(".parquet"))
        return dir_bytes(self.base_path)[0] / (rows * gen.DIM * 4)

    def layer_extras(self, spark, tr, last):
        return {"mutation.base_mb": dir_bytes(self.base_path)[0] / 2**20}


class Dedup(Workload):
    """Part: MinHash-LSH near-duplicate pairs over a fresh 5,000-doc batch
    per op."""
    name = "dedup"

    def prepare(self, i):
        name, texts, planted = gen.doc_batch(self.data, self.seed, i)
        self.last_name = name
        return name, texts, planted

    def run(self, spark, tr, prep):
        from bigvectorbench_spark import minhash_lsh_pairs
        from bigvectorbench_spark.sources.tables import load_table
        with tr.span("sources.load"):
            docs = load_table(spark, self.data, prep[0])
        with tr.span("dedup.call", group=True):
            res = minhash_lsh_pairs(docs)
        with tr.span("dedup.action", group=True):
            return [r.asDict() for r in res.collect()]

    def verify(self, i, prep, rows):
        _, texts, planted = prep
        got = set()
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            if not a < b or (a, b) in got:
                raise CheckFailed(f"pair ({a}, {b}) is unordered or repeated")
            j = gen.shingle_jaccard(texts[a], texts[b])
            if j < 0.7 or abs(j - r["jaccard"]) > 1e-9:
                raise CheckFailed(f"pair ({a}, {b}): jaccard {r['jaccard']} but exact {j}")
            got.add((a, b))
        return len(got & planted) / len(planted)

    def layer_extras(self, spark, tr, last):
        """Banding candidates per verified pair, from a ``verify=False`` twin
        of the last op, run off the clock."""
        from bigvectorbench_spark import minhash_lsh_pairs
        from bigvectorbench_spark.sources.tables import load_table
        if not last:
            return {"dedup.candidates_per_pair": 0.0}
        docs = load_table(spark, self.data, self.last_name)
        cand = minhash_lsh_pairs(docs, verify=False).count()
        return {"dedup.candidates_per_pair": cand / max(1, len(last))}


class IvfIudDedup(Workload):
    """One op runs the three parts in turn, each on its fresh inputs: an
    IVF search of 100 queries, an IUD round with a label-filtered read of
    100 queries and a compaction, and a 5,000-doc dedup batch.  Each part
    keeps its own data and run directory.  An op answers 200 queries."""
    name = "ivf_iud_dedup"
    items_per_op = 2 * gen.QUERIES_PER_OP

    def __init__(self, seed, data_dir, run_dir, cpus):
        super().__init__(seed, data_dir, run_dir, cpus)
        self.parts = [P(seed, os.path.join(data_dir, P.name), os.path.join(run_dir, P.name), cpus)
                      for P in (AnnIvf, IudFilter, Dedup)]
        for p in self.parts:
            os.makedirs(p.data, exist_ok=True)
            os.makedirs(p.run_dir, exist_ok=True)

    def generate(self):
        for p in self.parts:
            p.generate()

    def setup(self, spark, tr):
        for p in self.parts:
            p.setup(spark, tr)

    def prepare(self, i):
        return [p.prepare(i) for p in self.parts]

    def run(self, spark, tr, prep):
        return [p.run(spark, tr, pp) for p, pp in zip(self.parts, prep)]

    def verify(self, i, prep, out):
        """Every part's checks; the op's recall is the lowest of the parts'."""
        return min(p.verify(i, pp, o) for p, pp, o in zip(self.parts, prep, out))

    def op_counters(self, prep):
        return {k: v for p, pp in zip(self.parts, prep) for k, v in p.op_counters(pp).items()}

    def space_amp(self):
        """Index and table bytes on disk over raw vector bytes.  Both
        vector parts hold 25k rows (an IUD round inserts as many rows as it
        deletes), so this is the mean of their ratios."""
        ivf, iud, _ = self.parts
        return statistics.fmean([ivf.space_amp(), iud.space_amp()])

    def layer_extras(self, spark, tr, last):
        m = {}
        for i, p in enumerate(self.parts):
            m.update(p.layer_extras(spark, tr, last[i] if last else None))
        return m


WORKLOADS = {w.name: w for w in (KnnExact, IvfIudDedup)}
