"""Small-epoch streaming regime: profile the fixed per-epoch cost
(VERDICT r12 #5).

BENCH_streaming_r12.json shows throughput rising 36.4k -> 98.2k rows/s
from 100k to 500k rows/epoch — small epochs are overhead-bound, with
the aggregate fan holding ~74% of the wall at 100k. Two candidate
levers, both MEASURED here rather than reasoned about:

1. The fused grouping-sets delta pass. Its crossover
   (``fused_min_rows=200_000``) was frozen from r9 A/B pairs
   measured BEFORE the codegen class-cache fix — and the fix moved
   streaming throughput +22-53%, so the per-sink-vs-fused trade may
   have shifted: the fused plan compiles ONE grouping-sets job where
   the per-sink path compiles eight groupBys, exactly the kind of
   plan-count difference the recompile tax used to hide.
2. Epoch sizing itself: the sweep's fixed-cost floor per epoch, read
   from the 50k/100k/250k ladder, becomes the operator sizing rule.

Protocol: one session, same 1M-row corpus as the sweep, loopback
ClickHouse live; variants interleaved within each rep (the
BENCH_profile_r6 lesson); median-of-reps per (rows/epoch, strategy).

Usage: python scripts/profile_small_epoch.py [n_rows] [reps]
Writes BENCH_small_epoch_r13.json.
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

from bench_streaming import make_lines, start_loopback_clickhouse  # noqa: E402
from bench_streaming_sweep import _calibrate, CALIBRATION_REF  # noqa: E402

from adguard2clickhouse_spark.session import get_spark  # noqa: E402
from adguard2clickhouse_spark.sinks.clickhouse import (  # noqa: E402
    ClickHouseHTTPWriter,
)
from adguard2clickhouse_spark.streaming.pipeline import (  # noqa: E402
    QuerylogPipeline,
)


def run_once(spark, src, writer, fpt, n_rows, fused) -> dict:
    out = tempfile.mkdtemp(prefix=f"sepoch_fpt{fpt}_{fused}_")
    try:
        pipe = QuerylogPipeline(spark, src, out, clickhouse=writer)
        # pin the strategy: 0 fuses every epoch, n_rows + 1 none
        pipe.fused_min_rows = 0 if fused else n_rows + 1
        pipe.batch_timings.clear()
        t0 = time.time()
        q = pipe.start(available_now=True, max_files_per_trigger=fpt)
        q.awaitTermination()
        wall = time.time() - t0
        n_fact = pipe.read_log2().count()
        dead = pipe.dead_sink.read(pipe.spark)
        n_dead = dead.count() if dead is not None else 0
        assert n_fact + n_dead == n_rows, (n_fact, n_dead, n_rows)
        keys = [
            "parse_materialize_s", "fused_delta_s", "overlap_section_s",
            "aggregate_fan_s", "fact_append_s", "dead_letter_s",
            "clickhouse_insert_s",
        ]
        stages = {
            k: round(sum(bt.get(k, 0.0) for bt in pipe.batch_timings), 2)
            for k in keys
        }
        n_epochs = len(pipe.batch_timings)
        return {"wall_s": round(wall, 2), "epochs": n_epochs,
                "stages": stages}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    n_files = 20

    calibration = _calibrate()
    work = Path(tempfile.mkdtemp(prefix="sepoch_"))
    src = work / "src"
    src.mkdir()
    lines = make_lines(n_rows)
    per = (len(lines) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = lines[f * per : (f + 1) * per]
        if chunk:
            (src / f"querylog-{f:04d}.jsonl").write_text("\n".join(chunk) + "\n")
    del lines

    spark = get_spark(app_name="profile-small-epoch")
    spark.sparkContext.setLogLevel("ERROR")
    srv, _stats = start_loopback_clickhouse()
    writer = ClickHouseHTTPWriter(
        host="127.0.0.1", port=srv.server_address[1],
        database="dns", username="agh", password="secret",
    )

    warm = work / "warm"
    warm.mkdir()
    (warm / "w.jsonl").write_text("\n".join(make_lines(500)) + "\n")
    QuerylogPipeline(spark, str(warm), str(work / "warm_out")).run_available()

    # (files_per_trigger, fused) variants; fpt=1 -> 50k rows/epoch.
    variants = [(1, False), (1, True), (2, False), (2, True)]
    runs: dict = {v: [] for v in variants}
    for _ in range(reps):
        for v in variants:
            runs[v].append(
                run_once(spark, str(src), writer, v[0], n_rows, v[1])
            )

    norm = CALIBRATION_REF / calibration
    rows_per_file = n_rows // n_files
    out = {}
    for (fpt, fused), rs in runs.items():
        walls = sorted(r["wall_s"] for r in rs)
        med = walls[len(walls) // 2]
        rep = next(r for r in rs if r["wall_s"] == med)
        key = f"{fpt * rows_per_file}_{'fused' if fused else 'persink'}"
        out[key] = {
            "rows_per_epoch": fpt * rows_per_file,
            "strategy": "fused" if fused else "per-sink",
            "walls_s": walls,
            "wall_s_median": med,
            "rows_per_s_normalized": round(n_rows / med * norm, 1),
            "per_epoch_wall_s": round(med / rep["epochs"], 3),
            "stage_walls_s": rep["stages"],
        }

    result = {
        "metric": "small_epoch_fused_ab",
        "protocol": (
            f"one session, {reps} reps variant-interleaved, median wall; "
            f"identical {n_rows}-row 20-file corpus; loopback ClickHouse "
            "live; fresh sinks+checkpoint per run; steady-state codegen "
            "(class cache sized)"
        ),
        "rows": n_rows,
        "host_calibration_sec": calibration,
        "calibration_ref_sec": CALIBRATION_REF,
        "variants": out,
    }
    path = REPO / "BENCH_small_epoch_r13.json"
    path.write_text(json.dumps(result, indent=1))
    print(json.dumps(result, indent=1))
    srv.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
