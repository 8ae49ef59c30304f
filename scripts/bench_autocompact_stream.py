"""Auto-compaction interleaved with a LIVE stream (r11 follow-through).

BENCH_factledger_r11.json measured the maintenance policy through the
sink directly; this measures it where it actually runs — inside
``QuerylogPipeline.process_batch`` between epochs of a real streaming
query (parse, DNS wire UDF, dead-letter split, ledgered appends, 8
additive sinks) — and answers the operational question the policy
raises: how much of the stream's wall do the interleaved folds take,
and does the committed-slot count stay bounded while ingest runs?

Protocol: one corpus of ``n_files`` JSONL files ingested with
maxFilesPerTrigger=1 (one epoch per file, the small-epoch regime that
fragments worst), maintenance at the pipeline defaults.
Records rows/s, per-epoch walls, every auto-compaction's wall and fold
count from the pipeline's own batch_timings, and the final slot count.

Usage: python scripts/bench_autocompact_stream.py [n_rows] [n_files]
Defaults: 500_000 rows over 100 files → 100 epochs, ≥1 mid-stream fold.
Writes BENCH_autocompact_stream_r11.json at the repo root.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench_streaming import make_lines  # noqa: E402

from adguard2clickhouse_spark.session import get_spark  # noqa: E402
from adguard2clickhouse_spark.streaming.pipeline import (  # noqa: E402
    QuerylogPipeline,
)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 100

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    tmp = tempfile.mkdtemp(prefix="autocompact_stream_")
    src = Path(tmp) / "src"
    src.mkdir()
    lines = make_lines(n_rows)
    per = n_rows // n_files
    for f in range(n_files):
        (src / f"q{f:05d}.jsonl").write_text(
            "\n".join(lines[f * per:(f + 1) * per]) + "\n"
        )

    pipe = QuerylogPipeline(spark, str(src), f"{tmp}/out")
    t0 = time.time()
    q = pipe.start(available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    final = pipe.join_maintenance()  # drain the in-flight background fold
    if final:
        pipe.batch_timings.append(final)
    wall = time.time() - t0

    timings = pipe.batch_timings
    compacts = [
        {"collected_at_epoch": t.get("epoch_id"), "wall_s": t["auto_compact_s"],
         "folded": t["auto_compact_folded"]}
        for t in timings if "auto_compact_s" in t
    ]
    compact_wall = sum(c["wall_s"] for c in compacts)
    epoch_walls = [
        round(
            t.get("parse_materialize_s", 0) + t.get("overlap_section_s", 0),
            3,
        )
        for t in timings
    ]
    rows_ingested = pipe.read_log2().count()
    slots = len(pipe.log2_sink._pointer()["dirs"])
    result = {
        "metric": "autocompact_live_stream",
        "rows": n_rows,
        "epochs": len(timings),
        "rows_per_s_end_to_end": round(n_rows / wall, 1),
        "wall_s_total": round(wall, 1),
        "auto_compactions": compacts,
        "compact_share_of_wall": round(compact_wall / wall, 4),
        "epoch_wall_s_p50": round(statistics.median(epoch_walls), 3),
        "epoch_wall_s_max": max(epoch_walls),
        "final_committed_slots": slots,
        "auto_compact_fanout": pipe.auto_compact_fanout,
        "rows_in_log2": rows_ingested,
        "note": "one epoch per file (worst fragmentation regime); r12: incremental tiered folds run on the BACKGROUND maintenance thread (compact walls below are background CPU overlapped with ingest, not ingest stalls; the ingest-visible cost is the epoch walls)",
    }
    # after the drained maintenance no size tier can fold again
    assert not pipe.log2_sink._select_fold(
        pipe.log2_sink._pointer(), pipe.compact_small_bytes,
        pipe.auto_compact_fanout,
    ), slots
    (REPO / "BENCH_autocompact_stream_r12.json").write_text(
        json.dumps(result, indent=1) + "\n"
    )
    print(json.dumps(result))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
