"""Fact-ledger fragmentation under INCREMENTAL auto-compaction (r12,
VERDICT r11 #2).

History of this protocol:
- BENCH_factledger_r10.json: no maintenance — 200 worst-case-fragmented
  epoch slots (500 rows x 28 date partitions each) degraded reads to
  ~17 s; one manual 94 s compaction restored ~6.6 s.
- BENCH_factledger_r11.json: threshold policy (at 48 slots, fold ALL
  smalls) — slots bounded <=47 and reads flat, but each fold stalled
  the writer thread 15-25 s against a 0.76 s p50 append: a ~30x
  epoch-latency spike four times per 200 epochs.
- r12 (BENCH_factledger_r12.json): after each epoch a BACKGROUND
  maintenance thread runs bounded size-tiered fold steps (LSM
  tiering, fanout k — see LedgeredFactSink.compact(max_fold_slots=
  ...)): a fold stages its merged output outside the pointer lock and
  commits under it in milliseconds, so the epoch's appends overlap
  the fold's Spark work. Fold outputs are coalesced (compaction
  compacts FILES, not just ledger entries — the r11 fold inherited
  one file per write-task×partition, 1300+ files per merged slot,
  which is why its higher-tier rewrites took 15-25 s). That run also
  kept a synchronous 48-slot all-smalls backstop, since removed. The
  done-criterion from VERDICT r11: same 200-epoch worst-case
  protocol, max EPOCH wall (the ingest-visible latency) <= ~3x the
  p50 epoch wall, slots still bounded, reads still flat.

The loop below is QuerylogPipeline.process_batch's maintenance
policy (collect finished runs; queue a run unless one is already
queued; each run repeats the tiered step until it folds nothing),
driven through the sink directly so the measurement isolates ledger
maintenance from parse/UDF cost exactly like the r10 and r11
baselines did. The end-to-end pipeline trigger is pytest-gated
(tests/test_streaming.py::test_auto_compaction_bounds_committed_slots,
test_noisy_source_dead_channel_stays_bounded).

Usage: python scripts/bench_factledger.py [epochs] [rows_per_epoch] [out_json]
Writes BENCH_factledger_r18.json at the repo root by default.
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from adguard2clickhouse_spark.session import get_spark  # noqa: E402
from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink  # noqa: E402

AUTO_COMPACT_FANOUT = 8  # QuerylogPipeline.__init__ default
COMPACT_SMALL_BYTES = 128 << 20


def main() -> None:
    epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    rows_per_epoch = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    out_json = Path(sys.argv[3]) if len(sys.argv) > 3 else (
        REPO / "BENCH_factledger_r18.json"
    )

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="factledger_r12_")
    sink = LedgeredFactSink(
        f"{tmp}/log2", partition_by=["date"], sort_within=["date_time"]
    )

    # identical shape to the r10/r11 protocol: 28 date partitions/epoch
    def epoch_df(e: int):
        return (
            spark.range(rows_per_epoch)
            .select(
                F.date_add(
                    F.lit("2024-01-01").cast("date"),
                    (F.col("id") % 28).cast("int"),
                ).alias("date"),
                (F.lit(e) * 100000 + F.col("id")).alias("date_time"),
                F.concat(F.lit(f"e{e}-"), F.col("id").cast("string")).alias(
                    "QH"
                ),
            )
        )

    def timed_read() -> float:
        t0 = time.time()
        df = sink.read(spark)
        df.selectExpr("count(*) c", "max(date_time) m").collect()
        return round(time.time() - t0, 3)

    from concurrent.futures import ThreadPoolExecutor

    def fold_run(epoch: int) -> dict | None:
        t0 = time.time()
        folded = 0
        while step := sink.compact(
            spark,
            small_bytes=COMPACT_SMALL_BYTES,
            max_fold_slots=AUTO_COMPACT_FANOUT,
        ):
            folded += step
        if not folded:
            return None
        return {"epoch": epoch, "folded": folded,
                "wall_s": round(time.time() - t0, 3)}

    # JVM/codegen warmup on a scratch sink — epoch 0 otherwise absorbs
    # ~5 s of one-time compilation and dominates epoch_wall_s_max (the
    # same steady-state practice as bench.py's warmup pass; verified:
    # without this, the 10 slowest epochs were epoch 0 at 5.6 s and
    # then nine ~1.4 s ones).
    scratch = LedgeredFactSink(
        f"{tmp}/warmup", partition_by=["date"], sort_within=["date_time"]
    )
    scratch.append(epoch_df(0), epoch_id=0)
    scratch.append(epoch_df(1), epoch_id=1)
    scratch.compact(spark, small_bytes=COMPACT_SMALL_BYTES, max_fold_slots=2)
    scratch.read(spark).selectExpr("count(*) c", "max(date_time) m").collect()

    pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="maint")
    runs = []
    epoch_walls, appends, reads, compacts, slot_counts = [], [], [], [], []
    for e in range(epochs):
        t_epoch = time.time()
        sink.append(epoch_df(e), epoch_id=e)
        appends.append(time.time() - t_epoch)
        # the pipeline's after-epoch maintenance policy: collect
        # finished runs, queue one unless a run is already queued
        while runs and runs[0].done():
            res = runs.pop(0).result()
            if res:
                compacts.append(res)
        if all(f.running() or f.done() for f in runs):
            runs.append(pool.submit(fold_run, e))
        n_slots = len(sink._pointer()["dirs"])
        epoch_walls.append(time.time() - t_epoch)
        slot_counts.append(n_slots)
        if (e + 1) % 25 == 0:
            reads.append({"epoch": e + 1, "slots": n_slots,
                          "read_s": timed_read()})
            print(f"epoch {e + 1}: slots={n_slots} read={reads[-1]['read_s']}s",
                  flush=True)
    for f in runs:  # drain, as join_maintenance does
        res = f.result()
        if res:
            compacts.append(res)

    total_rows = sink.read(spark).count()
    assert total_rows == epochs * rows_per_epoch, total_rows
    p50_epoch = statistics.median(epoch_walls)
    result = {
        "metric": "factledger_incremental_auto_compaction",
        "epochs": epochs,
        "rows_per_epoch": rows_per_epoch,
        "rows_total": total_rows,
        "auto_compact_fanout": AUTO_COMPACT_FANOUT,
        "epoch_wall_s_p50": round(p50_epoch, 3),
        "epoch_wall_s_p99": round(
            sorted(epoch_walls)[int(0.99 * (len(epoch_walls) - 1))], 3
        ),
        "epoch_wall_s_max": round(max(epoch_walls), 3),
        "epoch_wall_max_over_p50": round(max(epoch_walls) / p50_epoch, 2),
        "slowest_epochs": sorted(
            (
                {"epoch": i, "wall_s": round(w, 3)}
                for i, w in enumerate(epoch_walls)
            ),
            key=lambda x: -x["wall_s"],
        )[:10],
        "append_wall_s_p50": round(statistics.median(appends), 3),
        "max_committed_slots": max(slot_counts),
        "final_committed_slots": slot_counts[-1],
        "n_compactions": len(compacts),
        "compact_wall_s_max": round(
            max((c["wall_s"] for c in compacts), default=0.0), 3
        ),
        "compact_wall_s_total": round(
            sum(c["wall_s"] for c in compacts), 3
        ),
        "reads_over_time": reads,
        "compactions": compacts,
        "r11_baseline": {
            "append_wall_s_p50": 0.763,
            "compact_walls_s": [14.823, 21.682, 21.782, 24.711],
            "max_committed_slots": 47,
            "note": "BENCH_factledger_r11.json, same protocol, all-smalls fold at 48 slots",
        },
        "note": "local[8]; worst-case slot fragmentation; policy = QuerylogPipeline defaults (background tiered folds after each epoch, repeated until no tier is full)",
    }
    out_json.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
