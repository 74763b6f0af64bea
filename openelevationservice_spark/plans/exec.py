"""Physical-layout helpers: skew salting, range partitioning, plan checks.

The reference has no skew story — a polygon over dense terrain simply
ships more rows (SURVEY.md §4.1).  At 10^12 images the replay workload
is Zipf-ish over tiles (cities, popular regions), so the north rule
demands explicit handling: AQE skew-join is enabled in the session
factory; these helpers add *salted repartitioning* for the cases AQE
can't rewrite (skewed ``groupBy`` keys, skewed gather groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "salt") -> DataFrame:
    """Uniform random-ish salt derived from a stable hash of the full row id.

    Deterministic (no rand()) so retries/resumes produce identical
    partitioning: salt = pmod(xxhash64(all columns), n_salts).
    """
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int"))


def repartition_salted(df: DataFrame, key: str, n_salts: int,
                       num_partitions: int | None = None) -> DataFrame:
    """Repartition by (key, salt) to split hot keys across tasks."""
    salted = with_salt(df, n_salts)
    if num_partitions:
        return salted.repartition(num_partitions, F.col(key), F.col("salt"))
    return salted.repartition(F.col(key), F.col("salt"))


def two_phase_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Skew-safe count per key: partial agg on (key, salt), final on key."""
    return (
        with_salt(df, n_salts)
        .groupBy(key, "salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("count"))
    )


def key_histogram(df: DataFrame, key: str, top: int = 20) -> list[tuple]:
    """Driver-side skew diagnostic: the hottest keys and their counts."""
    rows = df.groupBy(key).count().orderBy(F.desc("count")).limit(top).collect()
    return [(r[key], r["count"]) for r in rows]


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (for assertions in tests/bench)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def plan_node_count(df: DataFrame, node: str) -> int:
    """Number of ``node`` operators (e.g. ``"Project"``) in the analyzed
    logical plan — one per DataFrame step that adds that operator."""
    tree = df._jdf.queryExecution().analyzed().treeString()  # noqa: SLF001
    return sum(1 for line in tree.splitlines()
               if line.lstrip(" :+-").split(" ", 1)[0] == node)


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan, f"expected broadcast join, got:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"plan contains a cross join:\n{plan}"
    )
