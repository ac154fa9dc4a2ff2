"""The materialization scale-seam: one helper behind every "compute this
relation once, N consumers read it" site in the engine.

Catalyst gives no cross-consumer CSE, so shared subtrees (a scan+distinct
feeding five curation signals, MinHash signatures feeding four join sides)
must be materialized explicitly. At fixture scale the right mechanism is
``localCheckpoint`` — in-memory/disk blocks on the executors, zero extra
I/O. At 100 TB it is the WRONG mechanism: a local checkpoint pins
corpus-sized blocks in executor-local, NON-REPLICATED storage with no
lineage left to recompute from — one lost executor aborts the query — and
it competes with execution memory (guide §5).

:func:`materialize` switches mechanism on the relation's estimated size:

* estimate ≤ ``spark.data_etl.materialize.maxLocalBytes`` (default 4 GiB)
  → ``df.localCheckpoint(eager=...)`` — bit-for-bit today's behavior;
* estimate above the threshold AND ``spark.data_etl.materialize.tableDir``
  is configured → one atomic :func:`sources.versioned.commit` of the
  relation into a scratch table under that dir, read back as a snapshot —
  fault-tolerant (files, not executor blocks), columnar, and re-readable
  by every consumer without holding memory. Production points ``tableDir``
  at durable storage and vacuums it on its own schedule (each call makes a
  fresh single-version table under a uuid subdir; nothing in the engine
  re-reads it after the query ends);
* threshold exceeded but no ``tableDir`` configured → localCheckpoint with
  the documented caveat (local mode / tests — there is nowhere better to
  spill to).

The size estimate is Catalyst's ``optimizedPlan().stats().sizeInBytes``
— scan-anchored (file bytes at the leaves), so it discriminates
fixture-vs-warehouse by orders of magnitude, which is all the seam needs.
Planning cost is not added: localCheckpoint plans the query eagerly
anyway, and the estimate reuses that QueryExecution.

:func:`_estimated_bytes` is the engine's ONE size estimator: every
size-dependent decision (this seam, :func:`spread_small`, the robots
fetch-plan screen, ``plans.stats.cost_of``, versioned compaction) reads
it. It returns ``None`` for UNKNOWN — the stats call failed, or the plan
reports ``spark.sql.defaultSizeInBytes`` (Catalyst's "no idea" sentinel,
e.g. a ``createDataFrame`` relation). Each caller picks the safe
direction for unknown: :func:`materialize` treats it as large (durable
branch when ``tableDir`` is set), :func:`spread_small` does nothing.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

#: conf keys (documented in OPTIMIZATION_r12.md)
TABLE_DIR_KEY = "spark.data_etl.materialize.tableDir"
MAX_LOCAL_KEY = "spark.data_etl.materialize.maxLocalBytes"
_DEFAULT_MAX_LOCAL = str(4 * 1024**3)


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan, or ``None`` when
    it is unknown (see module doc). Classic-mode JVM access.
    ``sizeInBytes`` is a Scala BigInt (py4j does not auto-convert it, and
    it can exceed Long after join estimates) — go through its decimal
    string."""
    try:
        size = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = conf.defaultSizeInBytes()
    except Exception:
        return None
    return None if size == unknown else size


def _conf_bytes(
    spark: SparkSession, key: str, default: str | None = None
) -> int:
    """A size conf in bytes ('128MB', '134217728b', '1g'), parsed by
    Spark's own parser — the one its size confs go through — so this
    accepts exactly what Spark accepts for ``maxPartitionBytes``."""
    # an explicit None default would shadow Spark's own default for key
    value = spark.conf.get(key) if default is None else spark.conf.get(key, default)
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                value
            )
        )
    except Exception as e:
        raise ValueError(f"{key}={value!r} is not a byte size") from e


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for multiple consumers (see module doc).

    ``eager`` mirrors ``localCheckpoint(eager=...)`` on the local branch;
    the versioned-table branch is inherently eager (the commit writes)."""
    spark = df.sparkSession
    max_local = _conf_bytes(spark, MAX_LOCAL_KEY, _DEFAULT_MAX_LOCAL)
    est = _estimated_bytes(df)
    if est is not None and est <= max_local:
        return df.localCheckpoint(eager=eager)
    table_dir = spark.conf.get(TABLE_DIR_KEY, None)
    if not table_dir:
        return df.localCheckpoint(eager=eager)
    from data_etl_with_dbt_spark.sources import versioned as V

    path = os.path.join(table_dir, f"mat-{uuid.uuid4().hex}")
    V.commit(df, path, mode="overwrite")
    return V.read_version(spark, path)


def spread_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's parallelism ONLY when the
    relation is estimated small; an unknown estimate is a no-op.

    Use cases: a single-row-group fixture scan, where one task decodes
    every row and runs all pre-exchange per-row work; and a post-shuffle
    relation (scan+distinct) that AQE coalesces to ~1 partition at
    fixture scale, serializing expensive per-row work downstream — worth
    one tiny shuffle to unlock the cores. At warehouse
    scale the same repartition would be a full extra shuffle of the
    corpus for nothing (the shuffle's own partitioning already spreads
    it), so it must not fire: the condition is
    ``estimated bytes < defaultParallelism × spark.sql.files.maxPartitionBytes``
    — the size below which a scan could not have filled the cores anyway.
    Keyless round-robin deliberately (hash repartitions of tiny data get
    re-coalesced by AQE; round-robin survives it)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    est = _estimated_bytes(df)
    if est is not None and est < par * max_split:
        return df.repartition(par)
    return df
