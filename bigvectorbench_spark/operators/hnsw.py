"""HNSW graph index, re-expressed for Spark's execution model.

The reference benchmarks HNSW through client libraries (milvus
module.py:662-686, redis module.py:315-352, weaviate module.py:331-395,
elasticsearch module.py:386-412, pgvector module.py:171-208) — a
single-process, pointer-chasing, low-latency *serving* structure.  A
literal port is anti-idiomatic for batch Spark (BASELINE.json), but the
capability — graph-ANN recall/QPS trade-offs — maps cleanly onto the
architecture every distributed ANN system actually ships: **shard-local
graphs + global merge** (one HNSW per data shard; queries fan out to all
shards; per-shard top-k unions into the global top-k).

- **Build** is embarrassingly parallel: each partition constructs an HNSW
  over its own rows (pure-numpy insert loop, no external libs) and emits
  one serialized artifact row ``(shard_id, n, payload binary)`` — the M2
  "index build" product, storable as parquet and reloadable.
- **Search** broadcasts the query block, deserializes each shard's graph
  once per task, beam-searches every query (ef), and emits per-shard
  top-k; a single ``topk_window`` merge yields the global result.
  Shuffle: O(shards · q · k) candidate rows — queries never join the
  corpus.
- **Exactness escape hatch**: with ``ef >= shard size`` the beam visits
  every reachable node, and construction guarantees connectivity from the
  entry point, so search is EXACT per shard and the merged result equals
  brute-force kNN — the property the tests pin (an approximate index you
  can drive to exactness is testable without recall hand-waving).

Algorithm per shard is the published HNSW (Malkov & Yashunin 2016,
arXiv:1603.09320): geometric level assignment (mL = 1/ln(M)), greedy
descent through upper layers with ef=1, beam search with efConstruction
at layers ≤ node level, M nearest as neighbors, degree capped at M_max
(2M at layer 0) by distance-order pruning.
"""

from __future__ import annotations

import heapq
import io
import pickle

import numpy as np
from pyspark.sql import DataFrame, functions as F

from bigvectorbench_spark.operators.knn import topk_window


# Adaptive beam width.  Calibrated on the measured
# recall/ef ladder of SCALING.md's serving-mode experiments over the iid
# Gaussian worst-case corpus (no cluster structure — the published hardest
# case for graph ANN):  shard 2,500 rows → ef 48 gives recall 0.90;
# shard 25,000 → ef 384 gives 0.88.  The constant-recall(≈0.9) contour
# through those points is ef = 0.042 · n_shard^0.9 — near-linear per shard
# on THIS corpus (real embedding manifolds sit far above it; the exponent
# is the worst-case bound, and the touched-corpus FRACTION still falls as
# n^-0.1 per decade).  Floors: never below 2k (top-k needs a beam at least
# that wide) nor the classic 24; a shard smaller than the floor degrades
# to exact search (ef ≥ n — the oracle-corpus regime, where the gate pin
# stays 1.0).
_AUTO_EF_COEF = 0.0423
_AUTO_EF_EXP = 0.9


def auto_ef(n_shard: int, k: int = 10) -> int:
    """Beam width for a shard of ``n_shard`` rows at target recall ≈0.9."""
    return int(max(2 * k, 24, round(_AUTO_EF_COEF * n_shard ** _AUTO_EF_EXP)))


def _resolve_ef(ef, n_shard: int, k: int) -> int:
    return auto_ef(n_shard, k) if ef == "auto" else int(ef)


# ------------------------------------------------------------- shard engine


class _ShardHNSW:
    """In-memory HNSW over one shard's vectors (numpy, no deps)."""

    def __init__(self, m: int = 8, ef_construction: int = 64, seed: int = 1):
        self.m = m
        self.m0 = 2 * m
        self.efc = ef_construction
        self.ml = 1.0 / np.log(m)
        self.rng = np.random.RandomState(seed)
        self.X = None          # (n, d) float64
        self.ids = None        # (n,) int64
        self.levels: list[int] = []
        self.links: list[list[list[int]]] = []  # node -> level -> neighbors
        self.entry = -1
        self.max_level = -1

    # -- distances ---------------------------------------------------------

    def _d(self, q, idxs):
        diff = self.X[idxs] - q
        return np.einsum("ij,ij->i", diff, diff)

    # -- search ------------------------------------------------------------

    def _greedy(self, q, start, level):
        cur = start
        cur_d = float(self._d(q, [cur])[0])
        improved = True
        while improved:
            improved = False
            nbrs = self.links[cur][level]
            if nbrs:
                ds = self._d(q, nbrs)
                j = int(np.argmin(ds))
                if ds[j] < cur_d:
                    cur, cur_d = nbrs[j], float(ds[j])
                    improved = True
        return cur, cur_d

    def _beam(self, q, starts, level, ef):
        """Best-first beam search; returns [(dist, node)] sorted ascending."""
        starts_l = list(starts)
        visited = set(starts_l)
        ds = self._d(q, starts_l)
        cand = [(float(d), n) for d, n in zip(ds, starts_l)]   # min-heap
        heapq.heapify(cand)
        best = [(-float(d), n) for d, n in zip(ds, starts_l)]  # max-heap of ef
        heapq.heapify(best)
        while len(best) > ef:
            heapq.heappop(best)
        while cand:
            d, n = heapq.heappop(cand)
            if d > -best[0][0] and len(best) >= ef:
                break
            nbrs = [x for x in self.links[n][level] if x not in visited]
            if not nbrs:
                continue
            visited.update(nbrs)
            nds = self._d(q, nbrs)
            for nd, nn in zip(nds, nbrs):
                nd = float(nd)
                if len(best) < ef or nd < -best[0][0]:
                    heapq.heappush(cand, (nd, nn))
                    heapq.heappush(best, (-nd, nn))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted((-b, n) for b, n in best)

    def search(self, q, k: int, ef: int):
        if self.entry < 0:
            return []
        cur = self.entry
        for level in range(self.max_level, 0, -1):
            cur, _ = self._greedy(q, cur, level)
        out = self._beam(q, {cur}, 0, max(ef, k))
        return out[:k]

    # -- build -------------------------------------------------------------

    def _select(self, q, cands, m):
        """m nearest by distance (simple neighbor selection)."""
        ds = self._d(q, cands)
        order = np.argsort(ds, kind="stable")[:m]
        return [cands[i] for i in order]

    def fit(self, ids: np.ndarray, X: np.ndarray):
        n = len(ids)
        self.ids = ids.astype(np.int64)
        self.X = X.astype(np.float64)
        lvls = (-np.log(self.rng.uniform(1e-12, 1.0, n)) * self.ml).astype(int)
        self.levels = lvls.tolist()
        self.links = [[[] for _ in range(lv + 1)] for lv in lvls]
        for i in range(n):
            self._insert(i)
        self._repair_connectivity()
        return self

    def _repair_connectivity(self):
        """Degree pruning can drop every in-link of a node, making it
        unreachable (the known HNSW orphaning hazard).  Re-attach each
        orphan to its nearest reachable node at layer 0 — the host's
        degree may exceed the cap by the attachments, which only widens
        its beam fan-out.  Guarantees: every node reachable from the
        entry, so beam search with ef >= n is EXACT (the test pin)."""
        n = len(self.ids)
        if n == 0 or self.entry < 0:
            return
        seen = np.zeros(n, dtype=bool)
        stack = [self.entry]
        seen[self.entry] = True
        while stack:
            u = stack.pop()
            for v in self.links[u][0]:
                if not seen[v]:
                    seen[v] = True
                    stack.append(v)
        missing = np.flatnonzero(~seen)
        if len(missing) == 0:
            return
        reach = np.flatnonzero(seen)
        for u in missing:
            ds = self._d(self.X[u], reach)
            host = int(reach[int(np.argmin(ds))])
            self.links[host][0].append(int(u))
        # orphans' own out-links may chain to other orphans; one marking
        # pass from the attached set covers them
        stack = [int(u) for u in missing]
        seen[missing] = True
        while stack:
            u = stack.pop()
            for v in self.links[u][0]:
                if not seen[v]:
                    seen[v] = True
                    stack.append(v)
        assert bool(seen.all()), "connectivity repair incomplete"

    def _insert(self, i):
        lv = self.levels[i]
        if self.entry < 0:
            self.entry, self.max_level = i, lv
            return
        q = self.X[i]
        cur = self.entry
        for level in range(self.max_level, lv, -1):
            cur, _ = self._greedy(q, cur, level)
        for level in range(min(lv, self.max_level), -1, -1):
            found = self._beam(q, {cur}, level, self.efc)
            cands = [n for _, n in found]
            mmax = self.m0 if level == 0 else self.m
            nbrs = self._select(q, cands, self.m)
            self.links[i][level] = list(nbrs)
            for nb in nbrs:
                lk = self.links[nb][level]
                lk.append(i)
                if len(lk) > mmax:
                    self.links[nb][level] = self._select(self.X[nb], lk, mmax)
            cur = cands[0]
        if lv > self.max_level:
            self.entry, self.max_level = i, lv

    # -- (de)serialization -------------------------------------------------

    def dumps(self) -> bytes:
        buf = io.BytesIO()
        pickle.dump(
            {"m": self.m, "efc": self.efc, "ids": self.ids,
             "X": self.X.astype(np.float32), "levels": self.levels,
             "links": self.links, "entry": self.entry,
             "max_level": self.max_level},
            buf, protocol=4)
        return buf.getvalue()

    @classmethod
    def loads(cls, payload: bytes) -> "_ShardHNSW":
        d = pickle.loads(payload)
        g = cls(m=d["m"], ef_construction=d["efc"])
        g.ids, g.X = d["ids"], d["X"].astype(np.float64)
        g.levels, g.links = d["levels"], d["links"]
        g.entry, g.max_level = d["entry"], d["max_level"]
        return g


# ---------------------------------------------------------- worker residency

# Deserialized graphs cached per Python WORKER PROCESS, keyed by payload
# digest — the batch analog of a resident serving tier.  Spark reuses
# Python workers across tasks and jobs within a session, so repeated
# searches against the same stored index skip the O(shard bytes) unpickle
# that otherwise dominates wall at large shard sizes (SCALING.md measured
# it: 20k→200k rows grew search WORK 1.38× but WALL 1.9× — the gap is
# this deserialize).  Bounded FIFO so executor memory stays capped however
# many distinct indexes a session touches.

_GRAPH_CACHE: dict[bytes, "_ShardHNSW"] = {}
_GRAPH_CACHE_MAX = 8


def _resident_graph(payload: bytes) -> "_ShardHNSW":
    import hashlib

    key = hashlib.md5(payload).digest()
    g = _GRAPH_CACHE.get(key)
    if g is None:
        g = _ShardHNSW.loads(payload)
        if len(_GRAPH_CACHE) >= _GRAPH_CACHE_MAX:
            _GRAPH_CACHE.pop(next(iter(_GRAPH_CACHE)))
        _GRAPH_CACHE[key] = g
    return g


# ------------------------------------------------------------ Spark surface


def build_hnsw_shards(
    train: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    m: int = 8,
    ef_construction: int = 64,
    num_shards: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """One HNSW graph per shard → artifact DataFrame
    ``(shard_id int, n bigint, payload binary)``.

    Shards by ``pmod(hash(id))`` so rebuilds are deterministic.  Each
    build task is independent — on a cluster, shard count tracks
    executor count and build time is corpus/shards, the same contract as
    every sharded ANN serving system.  Persist with
    ``df.write.parquet(...)`` — this IS the M2 index artifact.

    Non-empty-bucket note: an empty hash bucket emits NO
    artifact row, so the frame can carry fewer than ``num_shards`` rows
    when rows ≪ num_shards·ln(num_shards) (coupon-collector regime) or
    under unlucky hashing.  Serving is unaffected (search unions
    whatever shards exist), but consumers that REPLAY the sizing
    arithmetic from row counts (the hnsw_delta_report value oracle)
    assume density — they must guard it (q_hnsw_delta_report does)."""
    sess = train.sparkSession
    if num_shards is None:
        num_shards = max(2, sess.sparkContext.defaultParallelism // 4)

    src = train.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(num_shards)).alias("shard_id"),
    ).repartition(num_shards, "shard_id")

    def _build(pdf_iter):
        import pandas as pd

        # Concatenate the partition's Arrow batches first: a shard larger
        # than the Arrow batch size must still produce ONE graph.  Memory
        # is bounded by the shard's rows — the same envelope the graph
        # build itself needs.
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        for sid, grp in pdf.groupby("shard_id"):
            ids = grp["id"].to_numpy(dtype=np.int64)
            X = np.stack(grp["vec"].to_numpy())
            g = _ShardHNSW(m=m, ef_construction=ef_construction,
                           seed=seed + int(sid)).fit(ids, X)
            yield pd.DataFrame({"shard_id": [int(sid)], "n": [len(ids)],
                                "payload": [g.dumps()]})

    return src.mapInPandas(_build, "shard_id int, n bigint, payload binary")


def hnsw_delta_shards(
    delta: DataFrame,
    base_shards: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    m: int = 8,
    ef_construction: int = 64,
    num_shards: int | None = None,
    seed: int = 1,
    n_delta: int | None = None,
) -> DataFrame:
    """Incremental HNSW maintenance — the M2×M3 composition the IVF and
    sparse families already have (`similarity.ivf_delta`,
    `sparse.stale_weight_postings`), in the shape the shard-and-merge
    architecture makes natural: ARRIVING rows build their own graph
    shard(s); NO existing shard is read, rewritten, or re-linked (graph
    inserts into a stored HNSW would rewrite neighbor lists across the
    artifact — the reference's serving systems do this in-memory; a
    stored-artifact engine appends instead).  Returns delta shard rows
    with ids offset past the base's — ``base.unionByName(delta)`` serves
    through :func:`hnsw_search` unchanged, and with ef ≥ shard size both
    sides stay provably exact, so absorb-then-search ≡ full rebuild
    (value-oracled by the declared ``hnsw_delta_knn``).

    Cost: O(delta) build, zero base I/O — at 100 TB an arrival batch
    absorbs at delta-sized cost while a rebuild pays the full corpus.
    The trade is search-side: each absorb adds shards, and search cost
    is Σ per-shard beams — metered by :func:`hnsw_delta_report`
    (work_growth = shards vs a same-sizing rebuild); the measured
    policy (coarse and fine ladders) is compact at
    work_growth ≥ 2.5, the edge of the measured regime where absorb
    still strictly dominates rebuild at serving (recall flat
    0.80–0.83, wall ≤ 0.92× the rebuilt layout's through 28 shards).
    ``num_shards`` defaults to matching the BASE's rows/shard
    (keeping the ef-vs-shard-size contract the exactness rests on);
    ``n_delta`` (metadata-only count) skips the sizing job."""
    stats = base_shards.agg(
        F.max("shard_id").alias("mx"), F.sum("n").alias("rows"),
        F.count("*").alias("shards")).collect()[0]
    if stats["mx"] is None:
        raise ValueError(
            "base_shards is empty — build the base with build_hnsw_shards "
            "first, or pass the arrivals there directly")
    offset = int(stats["mx"]) + 1
    if num_shards is None:
        per = max(1, int(stats["rows"]) // max(1, int(stats["shards"])))
        if n_delta is None:
            n_delta = delta.count()
        num_shards = max(1, -(-n_delta // per))
    ds = build_hnsw_shards(
        delta, id_col=id_col, vec_col=vec_col, m=m,
        ef_construction=ef_construction, num_shards=num_shards,
        seed=seed + offset)
    return ds.withColumn(
        "shard_id", (F.col("shard_id") + F.lit(offset)).cast("int"))


def hnsw_delta_report(
    base_shards: DataFrame,
    delta_shards: DataFrame,
) -> DataFrame:
    """The rebuild-on-evidence meter for incremental HNSW — the family
    convention `ivf_delta_report` (per-cell occupancy + centroid drift)
    and `sparse_delta_report` (idf drift) already set, in the quantity
    that actually degrades under graph-shard absorbs: SEARCH WORK.
    Every query beams into every shard (cost ≈ Σ per-shard beams), so
    absorbing N arrival batches as append-only shards grows per-query
    work with the shard count while a rebuild would re-pack the same
    rows at the base's rows/shard.  One row:

      (n_base_shards, n_delta_shards, rows_base, rows_delta,
       shards_total, shards_rebuilt, work_growth)

    ``shards_rebuilt`` = ceil(total rows / base rows-per-shard) — the
    shard count a same-sizing rebuild would produce; ``work_growth`` =
    shards_total / shards_rebuilt is the per-query beam-invocation
    multiplier the append-only layout pays vs that rebuild — the
    compaction trigger (SCALING.md policy: compact when it crosses the
    measured threshold).  Pass the UNION of all absorbed delta frames
    as ``delta_shards`` to meter N accumulated absorbs.

    Pure shard-metadata arithmetic (counts and sums over the ≤dozens-row
    artifact table — no graph bytes read), so the report value-oracles
    exactly in ANSI SQL from the same row counts.  Reference analog:
    index build/rebuild cost accounting, runner.py:446-489."""
    b = base_shards.agg(
        F.count("*").alias("n_base_shards"),
        F.sum("n").alias("rows_base"))
    d = delta_shards.agg(
        F.count("*").alias("n_delta_shards"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("rows_delta"))
    j = b.crossJoin(F.broadcast(d)).select(
        F.col("n_base_shards").cast("bigint").alias("n_base_shards"),
        F.col("n_delta_shards").cast("bigint").alias("n_delta_shards"),
        F.col("rows_base").cast("bigint").alias("rows_base"),
        F.col("rows_delta").cast("bigint").alias("rows_delta"))
    per = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("rows_base div n_base_shards"))
    j = j.withColumn("_per", per)
    return j.select(
        "n_base_shards", "n_delta_shards", "rows_base", "rows_delta",
        (F.col("n_base_shards") + F.col("n_delta_shards"))
        .alias("shards_total"),
        F.expr("(rows_base + rows_delta + _per - 1) div _per")
        .alias("shards_rebuilt"),
    ).withColumn(
        "work_growth",
        F.round(F.col("shards_total").cast("double")
                / F.col("shards_rebuilt").cast("double"), 6))


def load_or_build_hnsw(
    train: DataFrame,
    *,
    cache_key: str,
    id_col: str = "id",
    vec_col: str = "vec",
    m: int = 8,
    ef_construction: int = 64,
    num_shards: int = 8,
    seed: int = 1,
    cache_root: str | None = None,
) -> DataFrame:
    """The M2 serving contract: build the shard artifacts ONCE, persist as
    parquet, and serve every subsequent search from the stored index — the
    build/search cost split every ANN deployment has (reference
    milvus/module.py:662-686 builds an index then times queries against
    it).  ``cache_key`` must encode the corpus identity (dir + row count)
    so a regenerated corpus can never serve a stale graph; the config
    params are appended automatically.  Cache root defaults to
    ``$SPARK_GRAFT_INDEX_CACHE`` or ``<repo>/.index_cache``."""
    import os

    if cache_root is None:
        cache_root = os.environ.get(
            "SPARK_GRAFT_INDEX_CACHE",
            os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))), ".index_cache"))
    safe = "".join(c if c.isalnum() or c in "._-" else "_" for c in cache_key)
    path = os.path.join(
        cache_root,
        f"hnsw_{safe}_m{m}_efc{ef_construction}_s{num_shards}_seed{seed}")
    spark = train.sparkSession
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shards = build_hnsw_shards(
            train, id_col=id_col, vec_col=vec_col, m=m,
            ef_construction=ef_construction, num_shards=num_shards, seed=seed)
        shards.write.mode("overwrite").parquet(path)
    # One row group per shard row; Spark schedules one task per shard.
    return spark.read.parquet(path)


def hnsw_search(
    shards: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    ef: int | str = 64,
    qid_col: str = "qid",
    vec_col: str = "vec",
) -> DataFrame:
    """Global top-k over all shards: broadcast the query block, beam-search
    every query in every shard task, merge with one window top-k.

    ``ef="auto"`` resolves the beam width PER SHARD from its row count
    (:func:`auto_ef`) — the serving default: recall stays ≈0.9 as shards
    grow instead of decaying with the fixed-ef floor (SCALING.md's 0.44 at
    200k rows), and small shards degrade to exact search.

    Output: (qid, id, dist, rank) — dist is the L2 distance (not squared),
    matching ``knn(metric='euclidean')``."""
    q_rows = queries.select(
        F.col(qid_col).cast("bigint"), F.col(vec_col).cast("array<double>")
    ).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = (np.stack([r[1] for r in q_rows])
         if q_rows else np.zeros((0, 1)))
    bc = shards.sparkSession.sparkContext.broadcast((qids, Q))

    def _search(pdf_iter):
        import pandas as pd

        qids_, Q_ = bc.value
        for pdf in pdf_iter:
            for payload in pdf["payload"]:
                g = _resident_graph(bytes(payload))
                ef_eff = _resolve_ef(ef, len(g.ids), k)
                out_q, out_i, out_d = [], [], []
                for qi in range(len(qids_)):
                    for d2, node in g.search(Q_[qi], k, ef_eff):
                        out_q.append(qids_[qi])
                        out_i.append(g.ids[node])
                        out_d.append(np.sqrt(d2))
                if out_q:
                    yield pd.DataFrame(
                        {"qid": out_q, "id": out_i, "dist": out_d})

    cand = shards.mapInPandas(_search, "qid bigint, id bigint, dist double")
    return topk_window(cand, k).select("qid", "id", "dist", "rank")
