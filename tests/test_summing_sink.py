"""SummingParquetSink: append-only parts, fold on read, tiered folds.

The scale contract under test: an epoch appends one part and never
rewrites or deletes an existing file — an O(state) rewrite per
5-second epoch is exactly what kills a high-cardinality aggregate
(per-client per-10-min stats2 over years). A background fold must leave
``read()`` unchanged for every fold kind, idempotency must hold across
folds and survive epochs older than the tracked window via the
high-water mark, and a table written in the older bucketed layout must
keep its rows and accept new epochs.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.sinks.facts import _MAX_EPOCHS_TRACKED, LedgeredFactSink
from adguard2clickhouse_spark.sinks.summing import SummingParquetSink


def _data_file_digests(root: str) -> dict[str, str]:
    """{relpath: sha256} for every file under root but the pointer and
    its lock, which change on every commit."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = Path(dirpath) / f
            rel = str(p.relative_to(root))
            if not rel.startswith("CURRENT."):
                out[rel] = hashlib.sha256(p.read_bytes()).hexdigest()
    return out


def _mk_sink(tmp_path, spark, rows):
    sink = SummingParquetSink(str(tmp_path / "tbl"), keys=["k"], measures=["cnt"])
    df = spark.createDataFrame(rows, ["k", "cnt"])
    sink.apply_delta(df, epoch_id=0)
    return sink


def test_epoch_appends_one_part_and_never_rewrites_existing_files(tmp_path, spark):
    """The O(delta) write contract: an epoch stages its delta as one
    new part and commits it; no existing file is rewritten or deleted,
    whatever keys the delta carries (hot key, many keys, keys already
    in state). Reads fold the parts."""
    sink = _mk_sink(tmp_path, spark, [(f"key{i}", 1) for i in range(64)])
    deltas = [
        [("key0", 5)],
        [("key0", 2), ("key17", 3), ("key42", 4), ("new", 9)],
        [(f"key{i}", 10) for i in range(64)],
    ]
    for epoch, rows in enumerate(deltas, start=1):
        before = _data_file_digests(sink.path)
        parts_before = set(sink._pointer()["dirs"])
        sink.apply_delta(spark.createDataFrame(rows, ["k", "cnt"]), epoch_id=epoch)
        after = _data_file_digests(sink.path)
        assert {p: after.get(p) for p in before} == before, "existing file touched"
        new_parts = set(sink._pointer()["dirs"]) - parts_before
        assert len(new_parts) == 1 and parts_before < set(sink._pointer()["dirs"])
        (part,) = new_parts
        assert all(p.startswith(part + os.sep) for p in set(after) - set(before))
    assert sink._pointer()["version"] == 1 + len(deltas)  # one commit per epoch

    got = dict(sink.read(spark).collect())
    assert got["key0"] == 1 + 5 + 2 + 10
    assert got["key17"] == 1 + 3 + 10 and got["key1"] == 11 and got["new"] == 9
    assert len(got) == 65


def test_epoch_high_water_mark_survives_window_eviction(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1)])
    # simulate a long-running stream: the tracked-epoch window has
    # rolled far past epoch 0
    meta = sink._pointer()
    meta["epochs"] = list(
        range(10_000, 10_000 + _MAX_EPOCHS_TRACKED)
    )  # window full, epoch 0 long gone
    meta["epoch_hwm"] = meta["epochs"][-1]
    sink._write_pointer(meta)

    before = dict(sink.read(spark).collect())
    # a retry of ANY epoch <= hwm must be a no-op even though it's not
    # in the tracked list
    stale = spark.createDataFrame([("a", 100)], ["k", "cnt"])
    assert sink.applied(5)
    sink.apply_delta(stale, epoch_id=5)
    assert dict(sink.read(spark).collect()) == before

    # a genuinely new epoch still folds
    sink.apply_delta(stale, epoch_id=meta["epoch_hwm"] + 1)
    assert dict(sink.read(spark).collect())["a"] == before["a"] + 100


def test_empty_delta_records_epoch(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1)])
    empty = spark.createDataFrame([], "k string, cnt long")
    sink.apply_delta(empty, epoch_id=7)
    assert sink.applied(7)
    # state unchanged
    assert dict(sink.read(spark).collect()) == {"a": 1}


def test_replace_preserves_epoch_history(tmp_path, spark):
    sink = _mk_sink(tmp_path, spark, [("a", 1), ("b", 2)])
    full = spark.createDataFrame([("a", 10)], ["k", "cnt"])
    sink.replace(full)
    assert dict(sink.read(spark).collect()) == {"a": 10}
    assert sink.applied(0)  # epoch history survived the swap
    # retried epoch after replace is still a no-op
    sink.apply_delta(spark.createDataFrame([("a", 99)], ["k", "cnt"]), epoch_id=0)
    assert dict(sink.read(spark).collect()) == {"a": 10}


def test_null_keys_fold(tmp_path, spark):
    sink = SummingParquetSink(str(tmp_path / "tbl"), keys=["k"], measures=["cnt"])
    df = spark.createDataFrame([(None, 1), (None, 2), ("x", 3)], "k string, cnt long")
    sink.apply_delta(df, epoch_id=0)
    sink.apply_delta(
        spark.createDataFrame([(None, 10)], "k string, cnt long"), epoch_id=1
    )
    rows = {r["k"]: r["cnt"] for r in sink.read(spark).collect()}
    assert rows[None] == 13 and rows["x"] == 3


def test_aggregating_folds_max_and_hll(tmp_path, spark):
    """The AggregatingMergeTree analog: per-measure fold spec. max
    keeps the slowest-query watermark exact across deltas; hll_union
    merges DataSketches HLL binary sketches so streaming
    count-distinct state equals a batch sketch of the union
    (registers merge exactly)."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink

    sink = SummingParquetSink(
        str(tmp_path / "t"), keys=["Upstream"],
        measures=["n", "max_elapsed", "ip_sketch"],
        folds={"max_elapsed": "max", "ip_sketch": "hll_union"},
    )

    def delta(rows):
        df = spark.createDataFrame(rows, ["Upstream", "IP", "Elapsed"])
        return df.groupBy("Upstream").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("Elapsed").alias("max_elapsed"),
            F.hll_sketch_agg("IP").alias("ip_sketch"),
        )

    batch1 = [("up0", f"10.0.0.{i}", 100 + i) for i in range(20)]
    batch2 = [("up0", f"10.0.0.{i}", 500 - i) for i in range(10, 40)] + [
        ("up1", "10.9.9.9", 7)
    ]
    sink.apply_delta(delta(batch1), epoch_id=0)
    sink.apply_delta(delta(batch2), epoch_id=1)

    got = {
        r.Upstream: r
        for r in sink.read(spark)
        .select(
            "Upstream", "n", "max_elapsed",
            F.hll_sketch_estimate("ip_sketch").cast("long").alias("uniq"),
        )
        .collect()
    }
    assert got["up0"].n == 50
    assert got["up0"].max_elapsed == 490  # max across both deltas
    # distinct IPs in the union: 10.0.0.0..39 -> 40
    batch_est = (
        spark.createDataFrame(batch1 + batch2[:-1], ["Upstream", "IP", "Elapsed"])
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("IP")).cast("long"))
        .collect()[0][0]
    )
    assert got["up0"].uniq == batch_est  # merged state == batch sketch
    assert got["up1"].n == 1 and got["up1"].uniq == 1
    # epoch retry stays a no-op under non-sum folds
    before = {tuple(r) for r in sink.read(spark).drop("ip_sketch").collect()}
    sink.apply_delta(delta(batch2), epoch_id=1)
    after = {tuple(r) for r in sink.read(spark).drop("ip_sketch").collect()}
    assert before == after

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown fold"):
        SummingParquetSink(str(tmp_path / "bad"), ["k"], ["m"], folds={"m": "avg"})


def test_streaming_pipeline_with_hll_sink(tmp_path, spark):
    """End to end: a custom 'unique clients per domain' aggregate with
    HLL state rides the pipeline's fan-out; after two micro-batch
    rounds the sink's estimates equal a one-shot batch sketch."""
    import json as _json

    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.operators.dnswire import build_answer_b64
    from adguard2clickhouse_spark.operators.parse import parse_querylog
    from adguard2clickhouse_spark.sinks.summing import SummingParquetSink
    from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

    def line(i):
        return _json.dumps({
            "T": f"2024-01-01T00:00:{i % 60:02d}+00:00",
            "QH": f"d{i % 3}.example.com", "QT": "A", "QC": "IN", "CP": "",
            "Upstream": "u", "IP": f"10.5.0.{i % 7}",
            "Result": {}, "Elapsed": 1, "Cached": False,
            "Answer": build_answer_b64(a=["1.2.3.4"]),
        })

    def domain_uniques(log2):
        return log2.groupBy("QH").agg(F.hll_sketch_agg("IP").alias("ip_sketch"))

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    pipe = QuerylogPipeline(spark, str(src), str(out))
    pipe.aggregates["domain_uniques"] = domain_uniques
    pipe.sinks["domain_uniques"] = SummingParquetSink(
        str(out / "domain_uniques"), keys=["QH"], measures=["ip_sketch"],
        folds={"ip_sketch": "hll_union"},
    )
    batches = [[line(i) for i in range(25)], [line(i) for i in range(25, 60)]]
    for i, lines in enumerate(batches):
        (src / f"log-{i}.jsonl").write_text("\n".join(lines) + "\n")
        pipe.run_available()

    got = {
        r.QH: r.uniq
        for r in pipe.read_aggregate("domain_uniques")
        .select("QH", F.hll_sketch_estimate("ip_sketch").cast("long").alias("uniq"))
        .collect()
    }
    raw = spark.createDataFrame([(l,) for b in batches for l in b], ["value"])
    good, _ = parse_querylog(raw)
    want = {
        r.QH: r.uniq
        for r in good.groupBy("QH")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("IP")).cast("long").alias("uniq"))
        .collect()
    }
    assert got == want


def _fold_sink(tmp_path, spark, name="t"):
    """A sink with one measure of each fold kind, and a delta builder."""
    sink = SummingParquetSink(
        str(tmp_path / name), keys=["Upstream"],
        measures=["n", "max_elapsed", "min_elapsed", "ip_sketch"],
        folds={"max_elapsed": "max", "min_elapsed": "min",
               "ip_sketch": "hll_union"},
    )

    def delta(rows):
        df = spark.createDataFrame(rows, ["Upstream", "IP", "Elapsed"])
        return df.groupBy("Upstream").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("Elapsed").alias("max_elapsed"),
            F.min("Elapsed").alias("min_elapsed"),
            F.hll_sketch_agg("IP").alias("ip_sketch"),
        )

    return sink, delta


def _fold_state(sink, spark):
    return sorted(
        tuple(r) for r in sink.read(spark).select(
            "Upstream", "n", "max_elapsed", "min_elapsed",
            F.hll_sketch_estimate("ip_sketch").alias("uniq"),
        ).collect()
    )


def _epoch_rows(e):
    return [(f"up{(e + i) % 3}", f"10.0.{e}.{i % 7}", 100 * e + i)
            for i in range(12)]


def test_tiered_fold_keeps_read_and_lowers_part_count(tmp_path, spark):
    """A size-tiered fold merges k parts into one, folding equal keys
    with each measure's own fold: read() is multiset-equal before and
    after (sum, max, min and hll_union alike), the part count drops,
    and the folded part holds one row per key."""
    sink, delta = _fold_sink(tmp_path, spark)
    for e in range(4):
        sink.apply_delta(delta(_epoch_rows(e)), epoch_id=e)
    before = _fold_state(sink, spark)
    assert len(sink._pointer()["dirs"]) == 4

    assert sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4) == 4
    assert len(sink._pointer()["dirs"]) == 1
    assert _fold_state(sink, spark) == before
    # the folded part is already folded: one row per key on disk
    raw = LedgeredFactSink.read(sink, spark)
    assert raw.count() == raw.select("Upstream").distinct().count() == 3
    # and it equals a one-shot aggregation of every epoch's rows
    want = delta([r for e in range(4) for r in _epoch_rows(e)])
    assert before == sorted(
        tuple(r) for r in want.select(
            "Upstream", "n", "max_elapsed", "min_elapsed",
            F.hll_sketch_estimate("ip_sketch").alias("uniq"),
        ).collect()
    )


def test_retried_epoch_and_token_noop_before_and_after_fold(tmp_path, spark):
    sink, delta = _fold_sink(tmp_path, spark)
    for e in range(3):
        sink.apply_delta(delta(_epoch_rows(e)), epoch_id=e)
    sink.apply_delta(delta(_epoch_rows(7)), token="replay-1")
    state = _fold_state(sink, spark)

    # before the fold: retries change nothing and commit nothing
    version = sink._pointer()["version"]
    sink.apply_delta(delta(_epoch_rows(2)), epoch_id=2)
    sink.apply_delta(delta(_epoch_rows(7)), token="replay-1")
    assert _fold_state(sink, spark) == state
    assert sink._pointer()["version"] == version

    assert sink.compact(spark, small_bytes=1 << 30, max_fold_slots=4) == 4
    assert _fold_state(sink, spark) == state
    # after the fold: the ledgers survived it
    assert sink.applied(1) and sink.applied_token("replay-1")
    sink.apply_delta(delta(_epoch_rows(1)), epoch_id=1)
    sink.apply_delta(delta(_epoch_rows(7)), token="replay-1")
    assert _fold_state(sink, spark) == state
    # a new epoch still lands on the folded state
    sink.apply_delta(delta(_epoch_rows(3)), epoch_id=3)
    assert _fold_state(sink, spark) != state
    assert sink._pointer()["epoch_hwm"] == 3


@pytest.mark.parametrize("crashed", [False, True])
def test_bucketed_layout_is_adopted(tmp_path, spark, crashed):
    """A table written by the bucketed sink (CURRENT.json naming one
    b<bucket>/v<version> directory per hash bucket) opens with the same
    rows and ledgers, and accepts new epochs — also when an earlier
    adoption crashed after moving some bucket files into the part."""
    import json

    root = tmp_path / "legacy"
    buckets = {"0": 3, "5": 1}
    rows = {"0": [("a", 4), ("b", 1)], "5": [("c", 7)]}
    for b, v in buckets.items():
        spark.createDataFrame(rows[b], ["k", "cnt"]).coalesce(1).write.parquet(
            str(root / f"b{int(b):04d}" / f"v{v:08d}"))
    # a superseded version a crash left behind is not part of the table
    spark.createDataFrame([("a", 100)], ["k", "cnt"]).write.parquet(
        str(root / "b0000" / "v00000001"))
    (root / "CURRENT.json").write_text(json.dumps({
        "version": 3, "buckets": buckets, "epochs": [0, 1, 2],
        "epoch_hwm": 2, "replay_tokens": ["replay-x"],
    }))

    if crashed:  # bucket 0's files already moved, pointer not yet swapped
        part = root / "block=00000004"
        part.mkdir()
        for f in (root / "b0000" / "v00000003").glob("part-*"):
            f.rename(part / f"b0000-{f.name}")

    sink = SummingParquetSink(str(root), keys=["k"], measures=["cnt"])
    assert dict(sink.read(spark).collect()) == {"a": 4, "b": 1, "c": 7}
    meta = sink._pointer()
    assert "buckets" not in meta and meta["version"] == 4
    assert not any(p.name.startswith("b0") for p in root.iterdir())
    # ledgers carried over: retries no-op
    assert sink.applied(2) and sink.applied_token("replay-x")
    sink.apply_delta(spark.createDataFrame([("a", 50)], ["k", "cnt"]), epoch_id=2)
    assert dict(sink.read(spark).collect())["a"] == 4
    # new epochs append
    sink.apply_delta(spark.createDataFrame([("a", 1), ("d", 2)], ["k", "cnt"]),
                     epoch_id=3)
    assert dict(sink.read(spark).collect()) == {"a": 5, "b": 1, "c": 7, "d": 2}
    assert sink._pointer()["version"] == 5
    # reopening the adopted table is a no-op
    again = SummingParquetSink(str(root), keys=["k"], measures=["cnt"])
    assert dict(again.read(spark).collect()) == {"a": 5, "b": 1, "c": 7, "d": 2}
