"""Metric declarations and the pure arithmetic behind them.

Nothing here touches Spark, so the tests can import it directly. The
declarations are the single list the runner emits from and that
``BENCHMARK.json`` must match name for name.
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

SINKS = ("blocked_domains", "visited_domains", "clients_stats", "qt_stats",
         "rcode_stats", "stats2", "tld_stats", "upstream_stats")
QUERY_NAMES = ("top_blocked", "stats2_range", "log2_hourly")

# name -> unit. Printed with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "first_epoch_s": "s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "stored_bytes_per_input_byte": "B/B",
    "query_pass_s": "s",
}

# name -> unit. Printed with --trace 1.
PER_LAYER = {
    "sources.files": "count",
    "sources.pending_files_max": "count",
    "sources.generator_late_s_max": "s",
    "pipeline.epochs": "count",
    "pipeline.epoch_s_p50": "s",
    "pipeline.epoch_s_max": "s",
    "pipeline.trigger_overhead_s": "s",
    "pipeline.self_s": "s",
    "parse.busy_s": "s",
    "parse.rows_per_busy_s": "rows/s",
    "parse.dead_ratio": "ratio",
    "aggregates.fused_s": "s",
    "aggregates.fused_epochs": "count",
    "aggregates.persink_epochs": "count",
    "summing.fan_s": "s",
    **{f"summing.fold_s.{s}": "s" for s in SINKS},
    "summing.dense_folds": "count",
    "summing.sparse_folds": "count",
    "summing.installs": "count",
    "summing.state_bytes": "B",
    "facts.append_s": "s",
    "facts.dead_append_s": "s",
    "facts.compact_s": "s",
    "facts.compactions": "count",
    "facts.slots_end": "count",
    "facts.bytes_written_per_committed_byte": "B/B",
    "clickhouse.insert_s": "s",
    "clickhouse.posts": "count",
    "clickhouse.bytes_per_row": "B",
    "clickhouse.failed_posts": "count",
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.codegen_compiles": "count",
    "spark.codegen_compiles_ingest": "count",
    "query.build_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.self_s": "s",
    "chsql.transpile_s": "s",
    "sinks.read_s": "s",
    **{f"query.wall_s.{q}": "s" for q in QUERY_NAMES},
    "memory.peak_rss_mb": "MB",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.epoch_coverage_min": "ratio",
    "trace.query_coverage_min": "ratio",
}

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10


def supported_percentile(n: int) -> float | None:
    """The highest of ``PERCENTILES`` with at least ``TAIL_MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the median is not."""
    best = None
    for p in PERCENTILES:
        if n - math.ceil(round(p * n / 100, 9)) >= TAIL_MIN_BEYOND:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(math.ceil(round(p * len(xs) / 100, 9)), 1) - 1]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def undeclared(names, declared) -> list[str]:
    """Emitted metric names that are malformed or not declared."""
    return sorted(n for n in names if n not in declared or not NAME_RE.fullmatch(n))
