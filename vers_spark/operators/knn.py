"""Exact K-nearest-neighbour search — the oracle every ANN index is judged
against (reference `search_exhaustive`, vers/src/utils.rs:68-82).

Two physical strategies, one logical semantics (top-k per query, distance
ascending, ties broken by ascending corpus id):

- ``exact_knn`` — declarative: crossJoin + distance expression + ranking
  window. Catalyst handles it; bit-deterministic (left-fold f64 kernels), so
  it IS the DuckDB-oracle path. Fine for query batches × corpora that fit a
  shuffle; the window's per-query group limit (Spark ≥3.5 WindowGroupLimit)
  keeps the sort bounded.

- ``exact_knn_blocked`` — block nested loop for scale: broadcast the query
  block (small side), stream the corpus through ``mapInPandas`` computing a
  BLAS distance matrix per Arrow batch and keeping only the per-batch top-k
  (partial), then a global per-query top-k (final). The classic partial/final
  aggregate shape: corpus is scanned once, never shuffled; only
  O(batches × Q × k) candidate rows move. This is the 100 TB path — at 1000
  executors each scans its split, and the shuffle is candidates only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.functions import vector_np as VN


def _ranked(joined: DataFrame, dist_col: str, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.asc(dist_col), F.asc("neighbour_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbour_id", F.col(dist_col).alias("distance"), F.col("rn").alias("rank"))
    )


def exact_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "sq_euclidean",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Declarative exact KNN: returns (query_id, neighbour_id, distance, rank).

    Join shape (r15): broadcast the QUERY block and stream the cpu_spread
    corpus — the blocked path's orientation. Left to itself the planner
    built the nested-loop broadcast on the (bigger) corpus side, which
    streams the few-row query side through ONE task running every
    query×corpus fold single-threaded (profiled 1.30 s single-task stage
    at sf0.1); the fold work lives on the corpus side's partitions, so
    that side must be the streamed one. Results are identical — the cross
    product is the same row set and the rank window's
    (distance, neighbour_id) order is total per query.

    Bound: the query frame is broadcast whatever its size (the hint
    overrides ``autoBroadcastJoinThreshold``), so callers keep it within
    the bounded-batch contract of :mod:`vers_spark.functions.validate`
    (at most ``MAX_QUERY_BATCH_ROWS`` rows, ≤ ~10⁵ × dim floats in
    practice), as for :func:`exact_knn_blocked`. The bound is documented,
    not checked: checking it would cost a driver job per call. A larger
    batch fails in the broadcast (driver memory, ``maxResultSize``) rather
    than falling back to a shuffled cartesian; split it into blocks."""
    if metric not in V.DISTANCE_FNS:
        raise ValueError(f"unknown metric {metric!r}; expected {sorted(V.DISTANCE_FNS)}")
    from vers_spark.functions.spread import cpu_spread

    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("q_vec"))
    c = cpu_spread(
        corpus.select(F.col(corpus_id).alias("neighbour_id"), F.col(corpus_vec).alias("c_vec"))
    )
    dist = V.DISTANCE_FNS[metric](F.col("q_vec"), F.col("c_vec"))
    joined = c.crossJoin(F.broadcast(q)).withColumn("_dist", dist)
    return _ranked(joined, "_dist", k)


def exact_knn_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "sq_euclidean",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    rescore: bool = True,
    margin: int = 2,
) -> DataFrame:
    """Block-nested-loop exact KNN (the scale path; see module docstring).

    The query block is collected and broadcast — callers keep it small
    (≤ ~10⁵ × dim floats); the corpus side is never materialized on the
    driver.

    ``rescore=True`` (default) widens each batch's BLAS partial top-k to
    ``margin·k`` candidates, recomputes their distances with the declarative
    left-fold f64 kernel, and takes the final top-k on the FOLD values — so
    a last-ulp disagreement between BLAS pairwise summation and the fold at
    the k/k+1 boundary cannot change the reported id-set (the fold decides
    the boundary; BLAS would have to misrank a true top-k candidate past
    rank margin·k within one batch to lose it, ~margin·k ulp-ties deep).
    The OUTPUT therefore matches :func:`exact_knn` under the assumption
    that no true top-k neighbour sits more than (margin−1)·k ulp-level
    BLAS ties beyond the boundary — in practice always, and what lets the
    blocked path share the exact path's DuckDB oracle. Cost: one broadcast
    join of the margin·k·Q candidate rows back against corpus + queries —
    negligible next to the scan.
    """
    import numpy as np

    spark = corpus.sparkSession
    from vers_spark.functions.validate import bounded_collect

    q_rows = bounded_collect(queries.select(query_id, query_vec), "exact_knn_blocked")
    if not q_rows:
        return spark.createDataFrame([], "query_id long, neighbour_id long, distance double, rank int")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    eff_k = k * max(1, margin) if rescore else k
    bc = spark.sparkContext.broadcast((q_ids, q_mat, metric, eff_k))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, m, kk = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["neighbour_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            d = VN.pairwise_distances(mat, c_mat, m)  # (Q, B)
            take = min(kk, d.shape[1])
            # per-query partial top-k inside the batch: argpartition, then
            # re-admit candidates tying the boundary distance (duplicate
            # vectors tie exactly; argpartition alone would keep an
            # arbitrary one and could drop the smaller-id neighbour) and
            # truncate on the (distance, id) composite key
            part = np.argpartition(d, take - 1, axis=1)[:, :take]
            out_q, out_c, out_d = [], [], []
            for qi in range(d.shape[0]):
                cols = part[qi]
                thr = d[qi, cols].max()
                cand = np.nonzero(d[qi] <= thr)[0]
                if len(cand) < take:  # NaN distances → keep the fixed width
                    cand = cols
                order = np.lexsort((c_ids[cand], d[qi, cand]))
                sel = cand[order][:take]
                out_q.append(np.full(take, ids[qi]))
                out_c.append(c_ids[sel])
                out_d.append(d[qi, sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbour_id": np.concatenate(out_c),
                    "_dist": np.concatenate(out_d),
                }
            )

    c = corpus.select(
        F.col(corpus_id).cast("long").alias("neighbour_id"), F.col(corpus_vec).alias("c_vec")
    )
    candidates = c.mapInPandas(partial_topk, "query_id long, neighbour_id long, _dist double")
    if not rescore:
        return _ranked(candidates, "_dist", k)
    # Exact rescoring join: the WIDENED pool (Q×margin·k rows, still tiny) is
    # broadcast against the corpus — the corpus is probed, not shuffled —
    # then against the already-collected query block. The fold distance
    # replaces the BLAS one BEFORE the final top-k, so the k/k+1 boundary is
    # decided by the fold kernel, not BLAS.
    pool = _ranked(candidates, "_dist", eff_k)
    q_df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(q_ids, q_mat)],
        "query_id long, q_vec array<double>",
    )
    dist = V.DISTANCE_FNS[metric](F.col("q_vec"), F.col("c_vec"))
    rejoined = (
        c.join(F.broadcast(pool.select("query_id", "neighbour_id")), "neighbour_id")
        .join(F.broadcast(q_df), "query_id")
        .withColumn("_dist", dist)
    )
    return _ranked(rejoined, "_dist", k)
