"""Query registry + cross-engine determinism helpers.

The driver runs each Spark query and its DuckDB oracle side-by-side and
compares row counts, schemas, and an order-insensitive value hash — so every
pair here must agree *bit-for-bit* after Arrow conversion. The helpers encode
the rules that make that true (see also FIXTURES.md "determinism rules"):

* **Sums of doubles** are never emitted raw: fp addition isn't associative
  and the two engines aggregate in different orders. Instead the inputs are
  cast to ``DECIMAL(18,6)`` per row (nearest-value rounding of identical
  double bits — deterministic in both engines) and summed exactly.
* **Averages** are computed in doubles and cast to ``DECIMAL(38,6)``; the
  1e-6 grid absorbs the ~1e-12 cross-engine summation noise.
* **Per-row arithmetic** (a*b, a/b on the same input bits) is IEEE-defined
  and bit-identical across engines — safe to emit raw as long as the
  expression trees are parenthesized identically in both dialects.
* **Counts and sizes** are normalized to BIGINT on both sides (Spark
  ``size``/``length`` return INT, DuckDB ``len`` returns BIGINT).
* **Every ORDER BY under a LIMIT is total** (unique tie-break column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, description: str = "", bench: bool = False):
    """Register a suite query. ``oracle`` is ANSI SQL DuckDB runs on the same
    parquet tables; None → the driver records a rows-only check."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, description=description, bench=bench)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from data_etl_with_dbt_spark.sources.io import read_parquet

    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


# -- determinism helpers ------------------------------------------------------

def dsum(c: Column) -> Column:
    """Deterministic cross-engine SUM of a double expression: per-row cast to
    DECIMAL(18,6) (nearest-value rounding of identical double bits), exact
    decimal sum, then DOUBLE for a uniform float64 output on every fetch path
    (Spark toPandas keeps decimals as objects while DuckDB's pandas path
    floats them — emitting DOUBLE sidesteps the asymmetry; the decimal→double
    conversion of the same exact value is bit-identical in both engines).
    Oracle spelling: CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)."""
    return F.sum(c.cast("decimal(18,6)")).cast("double")


def davg(c: Column) -> Column:
    """Cross-engine AVG: double math, quantized on the DECIMAL(38,6) grid to
    absorb cross-engine summation-order noise (~1e-12), emitted as DOUBLE.
    Oracle spelling: CAST(CAST(AVG(x) AS DECIMAL(38,6)) AS DOUBLE)."""
    return F.avg(c).cast("decimal(38,6)").cast("double")


def dec6(c: Column) -> Column:
    """DECIMAL(38,6)-quantized view of a scalar double, emitted as DOUBLE.
    Oracle spelling: CAST(CAST(x AS DECIMAL(38,6)) AS DOUBLE)."""
    return c.cast("decimal(38,6)").cast("double")


def big(c: Column) -> Column:
    """Normalize an integer-ish expression to BIGINT to match DuckDB widths."""
    return c.cast("bigint")


_US_PER_DAY = 86_400 * 1_000_000


def epoch_diff_seconds(end: Column, start: Column) -> Column:
    """``extract(epoch FROM end - start)`` with DuckDB's exact fp shape.

    DuckDB's timestamp subtraction produces an interval of (days, micros)
    and epoch() computes ``days*86400 + micros/1e6`` — bit-for-bit that is
    NOT the same double as ``Δµs/1e6`` or ``Δµs*1e-6``. Mirroring the
    decomposition makes the raw doubles hash-identical across engines
    (verified on the events fixture in tests/test_oracle_parity.py)."""
    dus = F.unix_micros(end) - F.unix_micros(start)
    days = dus - (dus % _US_PER_DAY)  # whole-day micros (dus >= 0 here)
    rem = dus % _US_PER_DAY
    return (days / F.lit(_US_PER_DAY) * F.lit(86400)).cast("double") + rem.cast(
        "double"
    ) / F.lit(1e6)
