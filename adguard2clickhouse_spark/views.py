"""The reference's SQL read API, registered as Spark SQL views.

A user of the reference queries ClickHouse tables named
``log2, blocked_domains, visited_domains, clients_stats, qt_stats,
rcode_stats, stats2, tld_stats, upstream_stats``
(/root/reference/README.md:4-189). This module registers the same
names as temp views over either engine state, so every analyst query
they run today runs verbatim through ``spark.sql``:

    register_views_from_pipeline(spark, out_dir)   # streaming state
    register_views_from_log2(log2_df)              # ad-hoc over a batch

    spark.sql("SELECT * FROM blocked_domains ORDER BY count DESC LIMIT 10")

SummingMergeTree reads in ClickHouse must re-aggregate to be exact
before merges settle (SURVEY.md §2.8 C2); our summing sink folds on
read — its ``read`` re-aggregates the committed parts — so the views
are exact as-is, one subtlety the Spark user no longer needs to know
about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from adguard2clickhouse_spark.operators.aggregates import ALL_AGGREGATES
from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

AGGREGATE_VIEWS = list(ALL_AGGREGATES)


def register_views_from_log2(log2: DataFrame, fact_view: str = "log2") -> list[str]:
    """Register ``log2`` plus all eight aggregates computed over it.

    Aggregate views are lazy Spark views — each query re-derives from
    the fact table, so they are always consistent with it.
    """
    log2.createOrReplaceTempView(fact_view)
    for name, fn in ALL_AGGREGATES.items():
        fn(log2).createOrReplaceTempView(name)
    return [fact_view, *AGGREGATE_VIEWS]


def register_views_from_pipeline(
    spark: SparkSession, out_dir: str, fact_view: str = "log2"
) -> list[str]:
    """Register the streaming engine's materialized state: the
    date-partitioned fact table and the summing sink tables (exact:
    each sink's read folds its parts)."""
    pipe = QuerylogPipeline(spark, source_dir="", out_dir=out_dir)
    pipe.read_log2().createOrReplaceTempView(fact_view)
    registered = [fact_view]
    for name in AGGREGATE_VIEWS:
        df = pipe.read_aggregate(name)
        if df is not None:
            df.createOrReplaceTempView(name)
            registered.append(name)
    return registered
