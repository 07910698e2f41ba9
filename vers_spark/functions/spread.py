"""Scale-gated parallelism spreader for small-in-bytes, CPU-heavy inputs.

File splits and AQE coalescing are sized by BYTES (guide §2.5/§6): a corpus
whose parquet file is a few MB arrives as ONE scan partition, so every
codegen- or interpreter-heavy chain downstream (tokenize+shingle, fold
distance kernels, higher-order array lambdas) runs on one core of a 32-core
box. One tiny round-robin shuffle buys full parallelism — measured 9.2× on
the sf0.1 bigram tokenize pass (r15 A/B, /tmp/ab_spread.py).

Unlike the unconditional ``text_dedup._cpu_spread`` (whose call sites are
document pipelines that always want the spread), this helper is GATED on
the input's actual plan parallelism: at real scale a corpus scan already
carries ≥ cores splits and the repartition would be a pure extra shuffle of
the whole input — the gate makes the operators scale-adaptive instead of
tuned for local mode (optimization-guide rule: no constants tuned for
either regime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cpu_spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` iff the frame's
    current RDD parallelism is below it; identity otherwise. Result-neutral
    for any deterministic DataFrame program (round-robin repartition is
    sort-guarded by ``spark.sql.execution.sortBeforeRepartition``, on by
    default, so retried tasks reproduce the same placement).

    The gate reads ``df.rdd``, which under AQE can finalize the input's
    upstream shuffle stages eagerly; nothing caches them, so the real action
    runs them again. The gate is free only on scans and other exchange-free
    inputs. If the partition count cannot be read, the frame is returned
    unchanged: a gate failure must never become a full shuffle of the input."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    return df.repartition(target)
