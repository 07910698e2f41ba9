"""The two workloads. Each drives the engine only through its public calls
and times every call from outside; one client, one request at a time
(a closed loop), no extra threads.

- ``ann_serve``: set-up builds, saves and loads IVF-Flat, IVF-PQ, LSH forest
  and HNSW over a seeded 300-d corpus (the write path, part of
  ``setup_s``), then serves 16-query requests round-robin over
  exact KNN, IVF, LSH and HNSW from the loaded stores. One operation is a
  round of one request of each kind; its ``recall`` is the worst index
  kind's mean recall@10 (IVF, LSH, HNSW and IVF-PQ).
- ``curation``: one operation is one LLM-data pass over seeded documents:
  quality filter, MinHash near-dup pairs, connected components and
  survivors, an anti-join and a per-source rollup. No index code runs.

Which per-layer numbers should move which end-to-end ones:

- ``*.search.{jobs,driver_gap_ms}`` move ``op_ms_p50`` and
  ``items_per_s`` on ann_serve; ``*.search.executor_cpu_ms`` should move
  them little at this corpus size (serving is per-request driver work).
- ``*.{build,save,load}.*`` and ``indexes.pq.{train,encode_persist}.*`` move
  ``setup_s`` and the ``build_vectors_per_s`` detail on ann_serve;
  ``*.save.store_bytes`` moves the ``index_bytes_per_vector_byte`` detail.
- ``operators.text_dedup.neardup_pairs.*`` (about three quarters of a pass)
  moves ``op_ms_p50`` and ``items_per_s`` on curation;
  ``operators.graph.components.*`` moves them a little.
- ``session.start.wall_ms`` moves ``setup_s`` on both.
- Nothing in ``indexes.*`` should move curation, and nothing in
  ``operators.text_dedup`` or ``operators.graph`` should move ann_serve.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import gen
import stats

K = 10
BATCH = 16

# ANN corpus: 2,000 x 300 f32 keeps one run (set-up with four cold index
# builds, then the serving loop) inside the per-run time budget on a 4-core
# host; serving at this size is dominated by per-request driver work, which
# is what the workload is there to show.
ANN_N = 2000
ANN_POOL = 256  # held-out queries; request r serves pool batch r mod 16
DOC_BASE = 1500  # curation: base docs before the planted copies (2,000 docs)
QUALITY_MIN = 0.5
NEARDUP = 0.8

# ---------------------------------------------------------------- catalogue

# (name, unit, better) of every end-to-end metric; each workload reports all.
# A run has 3-6 operations, too few for any percentile above the median to
# have ten samples beyond it, so the p90 goes to the detail line only. The
# cold throughputs (index write path; first curation pass) are one sample
# each per run, part of setup_s, and the noisiest numbers across runs, so
# they too are detail only.
E2E = [
    ("setup_s", "s", "lower"),
    ("op_ms_p50", "ms", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("recall", "ratio", "higher"),
    ("ops_ok_frac", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_FULL = ["wall_ms", "self_ms", "jobs", "tasks", "executor_cpu_ms", "shuffle_bytes",
         "spill_bytes", "driver_gap_ms"]
_WRITE = ["wall_ms", "jobs", "shuffle_bytes", "driver_gap_ms"]
_SESSION = ("session.start", ["wall_ms"])
_ANN_SPANS: list[tuple[str, list[str]]] = []
for _ix in ("ivfflat", "lsh", "hnsw"):
    _ANN_SPANS += [
        (f"indexes.{_ix}.build", _WRITE),
        (f"indexes.{_ix}.save", _WRITE + ["store_bytes"]),
        (f"indexes.{_ix}.load", _WRITE),
        (f"indexes.{_ix}.search", _FULL + ["rows_out"]),
    ]
_ANN_SPANS += [
    ("indexes.pq.train", _WRITE),
    ("indexes.pq.encode_persist", _WRITE + ["store_bytes"]),
    ("indexes.pq.search", _FULL + ["rows_out"]),
    ("operators.knn.search", _FULL + ["rows_out"]),
    ("ann_serve.request", ["wall_ms", "self_ms"]),
]
# the spans each workload records; a traced run fails a check for any of
# its own spans (or counters) that recorded nothing
WORKLOAD_SPANS: dict[str, list[tuple[str, list[str]]]] = {
    "ann_serve": [_SESSION] + _ANN_SPANS,
    "curation": [
        _SESSION,
        ("operators.text_dedup.neardup_pairs", _FULL + ["rows_out"]),
        ("operators.graph.components", _FULL),
        ("curation.rollup", _FULL),
        ("curation.pass", ["wall_ms", "self_ms"]),
    ],
}
SPANS: list[tuple[str, list[str]]] = []
for _spans in WORKLOAD_SPANS.values():
    SPANS += [sp for sp in _spans if sp not in SPANS]
_UNITS = {"jobs": "count", "tasks": "count", "rows_out": "count",
          "shuffle_bytes": "bytes", "spill_bytes": "bytes", "store_bytes": "bytes"}
# the traced run also reports its own cost: op latency with tracing on (to
# set against the untraced op_ms_p50) and the time its hooks spend per span
TRACE_EXTRA = [("trace.op_ms_p50", "ms", "lower"), ("trace.hook_ms_per_span", "ms", "lower")]


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    out = []
    for span, counters in SPANS:
        for c in counters:
            better = "higher" if c == "rows_out" else "lower"
            out.append((f"{span}.{c}", _UNITS.get(c, "ms"), better))
    return out + TRACE_EXTRA


# -------------------------------------------------------------------- run


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    t_start: float  # perf_counter at process start of the benchmark
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def guarded(self, what: str, fn: Callable[[], object]) -> object | None:
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            self.check(False, f"{what}: {type(e).__name__}: {e}")
            return None


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# --------------------------------------------------------------- ann_serve


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Result rows -> {query_id: [(neighbour_id, distance), ...] by rank}."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["neighbour_id"]), float(r["distance"]))
        )
    return {q: [(n, d) for _, n, d in sorted(v)] for q, v in out.items()}


class AnnTruth:
    def __init__(self, vecs: gen.Vectors):
        self.vecs = vecs
        self.ids, self.dists = gen.exact_topk(vecs.corpus, vecs.queries, K)
        self.n = len(vecs.corpus)

    def batch_ids(self, b: int) -> np.ndarray:
        lo = (b * BATCH) % len(self.vecs.queries)
        return np.arange(lo, lo + BATCH)

    def exact_ok(self, res: dict, b: int) -> bool:
        """Ids equal the numpy top-10 in order; a swap is allowed only
        between ids whose true distances tie."""
        for qi in self.batch_ids(b):
            got = [n for n, _ in res.get(self.n + int(qi), [])]
            want = list(self.ids[qi])
            if got == want:
                continue
            if len(got) != K:
                return False
            d = gen.sq_dists(self.vecs.corpus[got], self.vecs.queries[qi])
            if not np.allclose(d, self.dists[qi], rtol=1e-9, atol=0.0):
                return False
        return True

    def recalls(self, res: dict, qis) -> list[float]:
        """recall@10 of each query (pool index) in ``qis``."""
        out = []
        for qi in qis:
            got = [n for n, _ in res.get(self.n + int(qi), [])][:K]
            d = gen.sq_dists(self.vecs.corpus[got], self.vecs.queries[qi]) if got else np.array([])
            out.append(stats.recall_at_k(got, d, float(self.dists[qi][K - 1]), K))
        return out


def _same_result(a: dict, b: dict) -> bool:
    """Two result sets agree: same ids in the same order per query, and
    distances equal to 1e-9 relative."""
    if a.keys() != b.keys():
        return False
    for q in a:
        if [n for n, _ in a[q]] != [n for n, _ in b[q]]:
            return False
        if not np.allclose([d for _, d in a[q]], [d for _, d in b[q]], rtol=1e-9, atol=0.0):
            return False
    return True


def ann_serve(run: Run) -> dict:
    from pyspark.sql import functions as F

    from vers_spark.indexes.hnsw import HNSWIndex
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.lsh import LSHForestIndex
    from vers_spark.indexes.pq import (
        PQCodec,
        ivfpq_search_blocked,
        persist_codes_partitioned,
        residuals,
    )
    from vers_spark.operators.knn import exact_knn_blocked

    spark, tr, seed = run.spark, run.tracer, run.seed
    vecs = gen.vector_corpus(seed, ANN_N, ANN_POOL)
    cpath, qpath = f"{run.work}/corpus.parquet", f"{run.work}/queries.parquet"
    gen.write_vectors(vecs, cpath, qpath)
    truth = AnnTruth(vecs)
    corpus = spark.read.parquet(cpath)
    pool = spark.read.parquet(qpath)

    def batch(b: int):
        lo = ANN_N + (b * BATCH) % ANN_POOL
        return pool.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + BATCH))

    # recall@10 of every result each index kind returned, persist checks
    # included; the gated recall is the worst kind's mean
    kind_recall: dict[str, list[float]] = {"ivf": [], "lsh": [], "hnsw": [], "pq": []}
    write_ms = 0.0
    store_bytes = 0

    def timed(name: str, fn: Callable[[], object]):
        nonlocal write_ms
        with tr.span(name) as s:
            out = fn()
        write_ms += s.wall_ms
        return out, s

    def persist(name, kind, index, kind_cls, path, search):
        """build (done by caller) -> in-session check -> save -> load ->
        loaded check; returns the loaded index."""
        nonlocal store_bytes
        mem = _by_query(search(index, batch(0)).collect())
        _, s = timed(f"indexes.{name}.save", lambda: index.save(path))
        s.counters["store_bytes"] = dir_bytes(path)
        store_bytes += s.counters["store_bytes"]
        loaded, _ = timed(f"indexes.{name}.load", lambda: kind_cls.load(spark, path))
        got = _by_query(search(loaded, batch(0)).collect())
        run.check(_same_result(mem, got), f"{name}: loaded index disagrees with in-session index")
        kind_recall[kind].extend(truth.recalls(got, truth.batch_ids(0)))
        return loaded

    def built(name, fn, materialize):
        def build():
            index = fn()
            materialize(index)
            return index

        return timed(f"indexes.{name}.build", build)[0]

    ivf_search = lambda ix, q: ix.search_blocked(q, k=K, n_probes=4)  # noqa: E731
    lsh_search = lambda ix, q: ix.search_multiprobe(q, k=K, n_probes=2, probe_mode="margin")  # noqa: E731
    hnsw_search = lambda ix, q: ix.search(q, k=K, n_probe_shards=8)  # noqa: E731

    ivf = built(
        "ivfflat",
        lambda: IVFFlatIndex.build(
            corpus, num_clusters=20, num_attempts=3, max_iterations=10, seed=seed
        ),
        lambda ix: ix.assignments.count(),
    )
    ivf = persist("ivfflat", "ivf", ivf, IVFFlatIndex, f"{run.work}/ivf", ivf_search)

    codec, _ = timed(
        "indexes.pq.train",
        lambda: PQCodec.train(residuals(ivf), m=30, k_codebook=256, max_iter=10, seed=seed),
    )
    pq_path = f"{run.work}/pq"
    codes, s = timed(
        "indexes.pq.encode_persist",
        lambda: persist_codes_partitioned(codec.encode(residuals(ivf)), ivf.assignments, pq_path),
    )
    s.counters["store_bytes"] = dir_bytes(pq_path)
    store_bytes += s.counters["store_bytes"]
    pq_search = lambda store, q: ivfpq_search_blocked(  # noqa: E731
        ivf, codec, store, q, k=K, n_probes=4, oversample=5, corpus=corpus, residual=True
    )
    # the in-session twin of the persisted store: the same codes and coarse
    # clusters, never written out
    mem_codes = codec.encode(residuals(ivf)).join(
        ivf.assignments.select(F.col("id").alias("vec_id"), "cluster_id"), "vec_id"
    )
    mem = run.guarded("pq in-session search", lambda: pq_search(mem_codes, batch(0)).collect())
    with tr.span("indexes.pq.search") as s:
        rows = run.guarded("pq search", lambda: pq_search(codes, batch(0)).collect()) or []
    s.counters["rows_out"] = len(rows)
    res = _by_query(rows)
    run.check(len(res) == BATCH, f"pq: {len(res)} of {BATCH} queries answered")
    run.check(
        mem is not None and _same_result(_by_query(mem), res),
        "pq: persisted code store disagrees with the in-session codes",
    )
    kind_recall["pq"].extend(truth.recalls(res, truth.batch_ids(0)))

    lsh = built(
        "lsh",
        lambda: LSHForestIndex.build(corpus, num_trees=8, max_node_size=100, seed=seed),
        lambda ix: ix.leaves.count(),
    )
    lsh = persist("lsh", "lsh", lsh, LSHForestIndex, f"{run.work}/lsh", lsh_search)
    hnsw = built(
        "hnsw",
        lambda: HNSWIndex.build(
            corpus, num_layers=12, ef_construction=100, ef_search=32, m=24,
            num_shards=8, shard_by="random", seed=seed,
        ),
        lambda ix: ix.graph.count(),
    )
    hnsw = persist("hnsw", "hnsw", hnsw, HNSWIndex, f"{run.work}/hnsw", hnsw_search)
    n_indexes = 4  # ivfflat, pq, lsh, hnsw

    kinds = [
        ("exact", "operators.knn.search", lambda q: exact_knn_blocked(q, corpus, k=K)),
        ("ivf", "indexes.ivfflat.search", lambda q: ivf_search(ivf, q)),
        ("lsh", "indexes.lsh.search", lambda q: lsh_search(lsh, q)),
        ("hnsw", "indexes.hnsw.search", lambda q: hnsw_search(hnsw, q)),
    ]
    per_kind: dict[str, list[float]] = {k: [] for k, _, _ in kinds}

    def serve_round(r0: int) -> None:
        """One request of each kind: one operation, timed as its mean
        request latency, so a change confined to any one
        kind moves it (the median of single requests of four kinds would sit
        between the 2nd and 3rd fastest kind and miss it)."""
        round_ms = []
        for i, (kind, span, fn) in enumerate(kinds):
            r = r0 + i
            with tr.span("ann_serve.request") as req:
                with tr.span(span) as s:
                    rows = run.guarded(f"{kind} request {r}", lambda: fn(batch(r)).collect())
                res = _by_query(rows or [])
            s.counters["rows_out"] = len(rows or [])
            if rows is None:
                continue
            if kind == "exact":
                run.check(truth.exact_ok(res, r), f"exact request {r}: ids differ from numpy top-10")
            else:
                run.check(len(res) == BATCH, f"{kind} request {r}: {len(res)} of {BATCH} queries answered")
                kind_recall[kind].extend(truth.recalls(res, truth.batch_ids(r)))
            round_ms.append(req.wall_ms)
            per_kind[kind].append(req.wall_ms)
        if len(round_ms) == len(kinds):
            run.op_ms.append(sum(round_ms) / len(kinds))

    # the persist checks searched each loaded index once; the exact operator
    # gets its first, unmeasured search here
    rows = run.guarded("exact check", lambda: exact_knn_blocked(batch(0), corpus, k=K).collect())
    run.check(
        rows is not None and truth.exact_ok(_by_query(rows), 0),
        "exact check: ids differ from numpy top-10",
    )
    setup_s = time.perf_counter() - run.t_start

    t_loop = time.perf_counter()
    r0 = 0
    while True:
        serve_round(r0)
        r0 += len(kinds)
        if time.perf_counter() - t_loop >= run.seconds:
            break

    requests = sum(len(v) for v in per_kind.values())
    served = sum(sum(v) for v in per_kind.values()) / 1000.0
    kind_mean = {k: float(np.mean(v)) if v else 0.0 for k, v in kind_recall.items()}
    run.detail.update(
        requests=requests,
        queries_per_s=BATCH * requests / served if served else 0.0,
        search_ms_p50_by_kind={k: stats.median(v) for k, v in per_kind.items() if v},
        **{f"recall_at_10.{k}": v for k, v in kind_mean.items()},
        build_vectors_per_s=n_indexes * ANN_N / (write_ms / 1000.0),
        index_bytes_per_vector_byte=store_bytes / (ANN_N * vecs.corpus.shape[1] * 4),
    )
    return {
        "setup_s": setup_s,
        "items_per_s": run.detail["queries_per_s"],
        "recall": min(kind_mean.values()),
    }


# ---------------------------------------------------------------- curation


class DocTruth:
    def __init__(self, docs: gen.Docs):
        self.docs = docs
        self.keep = ~docs.junk
        self.planted_hits = {
            (a, b)
            for a, b in docs.planted
            if self.keep[a] and self.keep[b] and gen.jaccard(docs.text[a], docs.text[b]) >= NEARDUP
        }

    def pairs_ok(self, pairs: set[tuple[int, int]]) -> bool:
        t = self.docs.text
        return all(
            self.keep[a] and self.keep[b] and gen.jaccard(t[a], t[b]) >= NEARDUP for a, b in pairs
        )

    @staticmethod
    def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
        """Union-find over the pairs: node -> smallest id of its component."""
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def rollup(self, comp: dict[int, int]) -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        for i, (text, src) in enumerate(zip(self.docs.text, self.docs.source)):
            if not self.keep[i] or comp.get(i, i) != i:
                continue
            n, c = out.get(src, (0, 0))
            out[src] = (n + 1, c + len(text))
        return out


def curation(run: Run) -> dict:
    from pyspark.sql import functions as F

    from vers_spark.operators.graph import connected_components, dedup_survivors
    from vers_spark.operators.text_analysis import quality_score
    from vers_spark.operators.text_dedup import minhash_neardup_pairs

    spark, tr = run.spark, run.tracer
    docs_in = gen.doc_corpus(run.seed, DOC_BASE)
    path = f"{run.work}/docs.parquet"
    gen.write_docs(docs_in, path)
    truth = DocTruth(docs_in)
    docs = spark.read.parquet(path)
    n_docs = len(docs_in.text)
    recalls: list[float] = []

    def one_pass(i: int) -> float | None:
        with tr.span("curation.pass") as p:
            with tr.span("operators.text_dedup.neardup_pairs") as s:
                good = docs.filter(quality_score(F.col("text")) >= QUALITY_MIN)
                pairs = minhash_neardup_pairs(good, threshold=NEARDUP).localCheckpoint(eager=True)
                prows = pairs.collect()
            s.counters["rows_out"] = len(prows)
            with tr.span("operators.graph.components"):
                surv = dedup_survivors(
                    connected_components(pairs, src="doc_a", dst="doc_b")
                ).localCheckpoint(eager=True)
                srows = surv.collect()
            with tr.span("curation.rollup"):
                dropped = surv.filter(F.col("is_survivor") == 0).select("doc_id")
                roll = (
                    good.join(dropped, "doc_id", "left_anti")
                    .groupBy("source")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"))
                    .collect()
                )
        found = {(min(int(r["doc_a"]), int(r["doc_b"])), max(int(r["doc_a"]), int(r["doc_b"]))) for r in prows}
        comp = truth.components(found)
        run.check(truth.pairs_ok(found), f"pass {i}: a pair below Jaccard {NEARDUP} or with a filtered doc")
        run.check(
            {int(r["doc_id"]): int(r["component"]) for r in srows} == comp
            and all(bool(r["is_survivor"]) == (int(r["doc_id"]) == int(r["component"])) for r in srows),
            f"pass {i}: components differ from union-find over the returned pairs",
        )
        run.check(
            {r["source"]: (int(r["n"]), int(r["chars"])) for r in roll} == truth.rollup(comp),
            f"pass {i}: per-source rollup differs",
        )
        recalls.append(len(truth.planted_hits & found) / max(1, len(truth.planted_hits)))
        return p.wall_ms

    # the first pass is the cold one users of a fresh session pay; a second
    # unmeasured pass lets the JIT settle before the measured ones
    tr.prefix = "warmup."
    cold_ms = run.guarded("cold pass", lambda: one_pass(0))
    run.guarded("warm-up pass", lambda: one_pass(0))
    tr.prefix = ""
    setup_s = time.perf_counter() - run.t_start
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < run.seconds:
        i += 1
        ms = run.guarded(f"pass {i}", lambda: one_pass(i))
        if ms is not None:
            run.op_ms.append(ms)
    served = sum(run.op_ms) / 1000.0
    run.detail.update(
        passes=len(run.op_ms),
        docs=n_docs,
        planted_pairs_at_threshold=len(truth.planted_hits),
        docs_per_s=n_docs * len(run.op_ms) / served if served else 0.0,
        cold_docs_per_s=n_docs / (cold_ms / 1000.0) if cold_ms else 0.0,
        dup_pair_recall=float(np.mean(recalls)) if recalls else 0.0,
    )
    return {
        "setup_s": setup_s,
        "items_per_s": run.detail["docs_per_s"],
        "recall": run.detail["dup_pair_recall"],
    }


WORKLOADS = {"ann_serve": ann_serve, "curation": curation}
