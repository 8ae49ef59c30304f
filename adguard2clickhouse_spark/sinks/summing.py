"""Additive "summing" sink — the SummingMergeTree contract natively.

In the reference, every insert block triggers the MVs to emit delta
rows into SummingMergeTree tables (reference README.md:24-189,
SURVEY.md §2.8 C1/C2). There an INSERT only appends an immutable part,
background merges fold rows with equal ORDER BY keys, and a SELECT
re-aggregates because parts not yet merged can hold the same key. This
sink is that contract on Parquet:

- ``apply_delta(delta, epoch_id)`` stages the epoch's delta as one
  immutable part and commits it under the epoch/token ledger: one Spark
  write job, O(delta). Existing parts are never read, rewritten or
  deleted by an epoch.
- ``read(spark)`` returns ``groupBy(keys).agg(folds)`` over the
  committed parts.
- ``compact(...)`` folds parts in the background, size-tiered like the
  fact ledger's compaction, applying the same fold to the merged parts
  (the pipeline runs it on its maintenance thread).

Folding on read is exact because every fold (sum, max, min, hll_union)
is associative and commutative: any grouping of the parts folds to the
same state, so a read sees the same rows before and after a
compaction. Verified for sums by
tests/test_aggregates.py::test_additivity_invariant.

Everything else is ``LedgeredFactSink`` (sinks/facts.py): staged,
epoch-idempotent appends with a high-water mark, the separate token
ledger for out-of-band folds (dead-letter replay), stream-identity
scoping, the flock writer lock, and compaction that stages outside the
lock and retires folded parts into a trash list so readers still
scanning them finish. Parts live in ``block=<seq>`` directories;
``CURRENT.json`` is the pointer, with ``version`` counting commits.

At 100 TB the same interface backs Delta MERGE or a real ClickHouse
SummingMergeTree where the fold is native (sinks/clickhouse.py).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adguard2clickhouse_spark.sinks.facts import LedgeredFactSink, _staged_stats

# Per-measure fold functions. "sum" is SummingMergeTree; the rest make
# this sink the AggregatingMergeTree analog: any fold that is
# commutative and associative keeps fold-on-read exact. "hll_union"
# folds Spark's native DataSketches HLL binary sketches — registers are
# identical whether built whole or merged from partials, so streaming
# count-distinct state stays exactly consistent with a batch sketch.
_FOLDS = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "hll_union": lambda c: F.hll_union_agg(c, F.lit(False)),
}

# CURRENT.json keeps the key names of the bucketed layout it replaced
# for the commit counter and the token ledger: {ledger key: file key}.
_FILE_KEYS = {"seq": "version", "tokens": "replay_tokens"}
_BUCKET_DIR = re.compile(r"b\d{4}")


class SummingParquetSink(LedgeredFactSink):
    _pointer_file = "CURRENT.json"
    _lock_file = "CURRENT.lock"
    _slot = "block"

    def __init__(
        self,
        path: str,
        keys: list[str],
        measures: list[str],
        folds: dict[str, str] | None = None,
    ):
        """``folds``: optional measure→fold-name map ({"sum", "max",
        "min", "hll_union"}); unlisted measures fold with "sum" — the
        default SummingMergeTree behavior."""
        self.keys = list(keys)
        self.measures = list(measures)
        self.folds = dict(folds or {})
        for m, f in self.folds.items():
            if f not in _FOLDS:
                raise ValueError(f"unknown fold {f!r} for measure {m!r}")
        super().__init__(path)

    def _merge(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys).agg(
            *[_FOLDS[self.folds.get(m, "sum")](m).alias(m) for m in self.measures]
        )

    # -- pointer file --------------------------------------------------------
    def _pointer(self) -> dict:
        meta = super()._pointer()
        for key, file_key in _FILE_KEYS.items():
            meta[key] = meta.setdefault(file_key, meta[key])
        return meta

    def _write_pointer(self, meta: dict) -> None:
        out = dict(meta)
        for key, file_key in _FILE_KEYS.items():
            out[file_key] = out.pop(key)
        super()._write_pointer(out)

    def _adopt_legacy(self) -> None:
        """One-time migration of the bucketed layout, whose
        ``CURRENT.json`` named one ``b<bucket>/v<version>`` directory
        per hash bucket: the live bucket files move into one committed
        part (renames only, no data rewrite) and the epoch/token
        ledgers carry over. Each bucket held distinct keys, so the part
        is already folded. Resumable without a marker: until the new
        pointer commits, the old one still names the buckets, and a
        rerun moves whatever files a crashed run left behind. Runs
        under the writer lock."""
        meta = self._pointer()
        buckets = meta.pop("buckets", None)
        if buckets is None:
            return
        meta["seq"] += 1
        name = f"{self._slot}={meta['seq']:08d}"
        slot = os.path.join(self.path, name)
        os.makedirs(slot, exist_ok=True)
        for b, v in buckets.items():
            src = os.path.join(self.path, f"b{int(b):04d}", f"v{v:08d}")
            if not os.path.isdir(src):
                continue
            for f in os.listdir(src):
                if not f.startswith((".", "_")):
                    os.replace(
                        os.path.join(src, f),
                        os.path.join(slot, f"b{int(b):04d}-{f}"),
                    )
        rows, nbytes = _staged_stats(slot)
        if rows:
            meta["dirs"], meta["dir_bytes"] = [name], {name: nbytes}
        else:
            shutil.rmtree(slot)
        self._write_pointer(meta)
        for d in os.listdir(self.path):
            if _BUCKET_DIR.fullmatch(d):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # -- public API ----------------------------------------------------------
    def read(
        self, spark: SparkSession, merge_schema: bool = False
    ) -> DataFrame | None:
        """The folded table: ``groupBy(keys).agg(folds)`` over every
        committed part; None before the first commit."""
        parts = super().read(spark, merge_schema)
        return None if parts is None else self._merge(parts)

    def apply_delta(
        self,
        delta: DataFrame,
        epoch_id: int | None = None,
        token: str | None = None,
    ) -> None:
        """Append ``delta`` as one part: idempotent per ``epoch_id``
        for stream epochs and per ``token`` for out-of-band folds like
        dead-letter replay (see ``applied_token`` for why those are two
        ledgers). An empty delta commits no part but still records its
        epoch/token."""
        self.append(delta, epoch_id=epoch_id, token=token)
