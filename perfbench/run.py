"""The repository benchmark: the production ingest path end to end, then
the analyst reads over what it wrote.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one workload, Spark pinned to
``local[nproc]``. Each run:

1. generates a seeded query-log corpus (``corpus.py``) as JSONL files;
2. starts Spark and builds a ``QuerylogPipeline`` with a loopback
   ClickHouse (``loopback.py``) — the set-up, timed as ``setup_s``;
3. ingests, in the workload's regime:
   - ``ingest_backfill``: every file is present before ``start()``; an
     ``availableNow`` catch-up in epochs above the 200k-row fused-delta
     crossover;
   - ``ingest_live``: an ``availableNow`` primer pass, one file per epoch,
     then the always-on daemon, restarted on the same checkpoint under
     ``processingTime``, whose first epoch takes one more primer file; this
     leaves the fact ledger one slot short of its first fold tier. Then
     one generator thread renames pre-written files into the watched
     directory on a fixed schedule (an open loop, below the small-epoch
     capacity) for ``--seconds``; the first live epoch fills the tier and
     the background compaction folds it;
4. checks every output against the generator's own recount (fact and dead
   rows, the eight aggregate tables and the rows the loopback ClickHouse
   received), outside the timed regions, and runs a cold pass of the
   analyst queries below, which warms their plans and generated code;
5. runs the reference's analyst SQL in ClickHouse dialect through
   ``QuerylogPipeline.sql``, one client in a closed loop, in measured warm
   passes, checking every result against the recount.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the run also
records spans around each layer's public calls (``tracing.py``) and prints
the per-layer metrics instead. The line before it carries the host
fingerprint, sample counts and, in a traced run, the e2e figures measured
under tracing. The exit code is 1 when any correctness gate fails.
Everything the run writes lives under ``.perfbench_work/`` in the current
directory and is removed at exit. The run executes in a child process under
``supervise.py``, which returns only once every process it started has ended.
"""

from __future__ import annotations

import argparse
import calendar
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from concurrent.futures import ProcessPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # sibling modules, then the package

import corpus  # noqa: E402
import host  # noqa: E402
import metrics  # noqa: E402
from loopback import Loopback, received_digest  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("ingest_backfill", "ingest_live")

# Backfill: two epochs of 201k lines; after ~0.1% dead lines each keeps
# >= 200k good rows, the pipeline's fused_min_rows, so both run fused.
BACKFILL_LINES = 402_000
BACKFILL_FILES = 100  # >= 100 freshness samples supports a p90
BACKFILL_FILES_PER_TRIGGER = 50

# Live: the collector's default 5-second trigger. The live files carry
# 600 rows/s, about half the small-epoch capacity measured on a 4-core host
# (~5k-row epochs in ~4 s), so no backlog builds; 20 files/s give 100
# freshness samples in 5 s, enough for a p90. Before them, the primer files
# commit one fact slot each, the size of a live epoch's, so the first live
# epoch fills a fold tier and starts a background fold. The fold fan-in is
# lowered from the pipeline's default 8 to 4 (tests/test_streaming lowers it
# the same way): the same tiered fold, after 4 slots instead of 8, which
# saves four primer epochs per run.
LIVE_FOLD_FANIN = 4
LIVE_PRIME_FILES = LIVE_FOLD_FANIN - 1
LIVE_PRIME_LINES = 3_000  # per primer file: a ~160 kB slot, tier 8 (64-256 kB) at fan-in 4
LIVE_FILES_PER_S = 20
LIVE_ROWS_PER_FILE = 30
LIVE_TRIGGER_S = 5
# Spark fires processingTime triggers on a wall-clock grid (multiples of the
# interval since the Unix epoch). The schedule starts this long after a grid
# point and ends this long before one, so each trigger takes whole
# intervals of files, whatever the phase at which the daemon started.
LIVE_EDGE_S = 0.1

SETUP_REPEATS = 3
QUERY_WARM_PASSES = 2  # measured passes after the cold one
DECODE_WORKERS = 3  # processes decoding ClickHouse payloads during verification
WAIT_TIMEOUT_S = 120
RUN_TIMEOUT_S = 170  # the whole run, after which it is stopped and fails
CHILD_ENV = "PERFBENCH_CHILD"
COVERAGE_MIN = 0.9  # child spans must cover this share of each epoch and query

STATS2_LO = corpus.START + 86_400
STATS2_HI = STATS2_LO + 43_200


def _ts(t: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))


# The reference's analyst reads, in ClickHouse dialect: a top-N, a filtered
# range over the largest summing table and a scan of the fact table. (TLD,
# client and upstream stats have the shape of the first; every pipe.sql call
# reads all eight sinks and log2 anyway.)
QUERIES = {
    "top_blocked": "SELECT QH, count FROM blocked_domains ORDER BY count DESC, QH LIMIT 10",
    "stats2_range": "SELECT IP, sum(blocked) AS blocked, sum(visited) AS visited "
                    f"FROM stats2 WHERE date_time >= '{_ts(STATS2_LO)}' "
                    f"AND date_time < '{_ts(STATS2_HI)}' GROUP BY IP ORDER BY IP",
    "log2_hourly": "SELECT toStartOfInterval(date_time, toIntervalMinute(60)) AS t, "
                   "count(*) AS n, countIf(IsFiltered) AS b FROM AdGuardHome.log2 "
                   "GROUP BY t ORDER BY t",
}
assert tuple(QUERIES) == metrics.QUERY_NAMES


def expected_results(rc: corpus.Recount) -> dict:
    def top(d, n=None):
        return sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:n]

    s2: dict = {}
    for (ip, bucket), (b, v) in rc.stats2.items():
        if STATS2_LO <= bucket < STATS2_HI:
            acc = s2.setdefault(ip, [0, 0])
            acc[0] += b
            acc[1] += v
    return {
        "top_blocked": top(rc.blocked_domains, 10),
        "stats2_range": [(ip, b, v) for ip, (b, v) in sorted(s2.items())],
        "log2_hourly": [(h, n, b) for h, (n, b) in sorted(rc.log2_hourly.items())],
    }


def _plain(row) -> tuple:
    return tuple(calendar.timegm(v.timetuple()) if hasattr(v, "timetuple") else v
                 for v in row)


@dataclass
class Epoch:
    id: int
    start: float
    end: float
    jobs: tuple[int, int] = (0, 0)


@dataclass
class Gates:
    """Correctness gates and operation counts behind ``attempted``/``failed``."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail="") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:300])
        return ok

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _source_log(checkpoint: str) -> dict[str, int]:
    """basename -> batch id, from the checkpoint's file-source log."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # replaced by a compaction mid-listing
            continue
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _configure_env(work: str, cpus: int) -> None:
    """Everything Spark and the package write goes under ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        # PerfDisableSharedMem keeps the JVMs' perf counters off /tmp; the
        # launcher JVM that spark-submit runs first reads SPARK_LAUNCHER_OPTS.
        "SPARK_SUBMIT_OPTS": jvm_opts,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer() if self.trace else None
        self.gates = Gates()
        self.epochs: dict[int, Epoch] = {}
        self.queries_run: list = []  # streaming queries, in start order
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": self.trace,
                             "spark_cpus": os.environ["SPARK_GRAFT_CPUS"]}
        self.e2e: dict = {}
        self.layer: dict = {}

    # -- inputs ---------------------------------------------------------------
    def make_inputs(self) -> None:
        src = os.path.join(self.work, "src")
        os.makedirs(src)
        if self.args.workload == "ingest_backfill":
            lines, self.rc = corpus.generate(self.args.seed, BACKFILL_LINES)
            self.files = corpus.write_files(lines, src, BACKFILL_FILES)
            self.pending = []
        else:
            n_files = LIVE_FILES_PER_S * self.args.seconds
            n_prime = LIVE_PRIME_FILES * LIVE_PRIME_LINES
            lines, self.rc = corpus.generate(self.args.seed,
                                             n_prime + n_files * LIVE_ROWS_PER_FILE)
            primers = corpus.write_files(lines[:n_prime], os.path.join(self.work, "primer"),
                                         LIVE_PRIME_FILES, prefix="primer")
            for path in primers[:-1]:
                os.rename(path, os.path.join(src, os.path.basename(path)))
            self.restart_file = primers[-1]
            pending = os.path.join(self.work, "pending")
            self.pending = corpus.write_files(lines[n_prime:], pending, n_files)
            self.files = [os.path.join(src, os.path.basename(p)) for p in self.pending]
        self.src = src
        self.input_bytes = sum(len(line) + 1 for line in lines)
        self.detail["input"] = {"lines": self.rc.lines, "malformed": self.rc.dead,
                                "bytes": self.input_bytes,
                                "distinct_answers": len(self.rc.ids["answer"])}

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from adguard2clickhouse_spark.session import get_spark
        from adguard2clickhouse_spark.sinks.clickhouse import ClickHouseHTTPWriter
        from adguard2clickhouse_spark.streaming.pipeline import QuerylogPipeline

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        builds = []
        for i in range(SETUP_REPEATS):
            out = os.path.join(self.work, f"out{i}")
            t0 = time.perf_counter()
            writer = ClickHouseHTTPWriter(host="127.0.0.1", port=self.ch.port,
                                          database="AdGuardHome", username="bench",
                                          password="bench")
            pipe = QuerylogPipeline(self.spark, self.src, out, clickhouse=writer)
            builds.append(time.perf_counter() - t0)
            if i < SETUP_REPEATS - 1:
                shutil.rmtree(out)
        if self.args.workload == "ingest_live":
            pipe.auto_compact_fanout = LIVE_FOLD_FANIN
        self.pipe, self.out = pipe, out
        self.e2e["setup_s"] = session_s + statistics.median(builds)
        self.detail["setup"] = {"session_s": session_s, "pipeline_build_s": builds}
        self._instrument()

    def _max_job_id(self) -> int:
        st = self.spark.sparkContext.statusTracker()
        ids = list(st.getJobIdsForGroup(None))
        for q in self.queries_run:
            ids += list(st.getJobIdsForGroup(str(q.runId)))
        return max(ids, default=-1)

    def _instrument(self) -> None:
        pipe, tracer = self.pipe, self.tracer
        process_batch = pipe.process_batch

        def timed_batch(batch_df, epoch_id):
            jobs0 = self._max_job_id() if tracer else 0
            ctx = (tracer.root("pipeline.process_batch", f"epoch-{epoch_id}")
                   if tracer else nullcontext())
            t0 = time.perf_counter()
            with ctx as span:
                process_batch(batch_df, epoch_id)
                if tracer:
                    self._epoch_children(span, pipe.batch_timings[-1])
            self.epochs[epoch_id] = Epoch(epoch_id, t0, time.perf_counter(),
                                          (jobs0, self._max_job_id() if tracer else 0))

        pipe.process_batch = timed_batch
        if not tracer:
            return
        for name, sink in pipe.sinks.items():
            tracer.wrap(sink, "apply_delta", f"summing.apply_delta.{name}",
                        attrs_of=lambda a, kw: {"dense": bool(kw.get("dense"))})
            tracer.wrap(sink, "read", "sinks.read")
        self.slot_bytes: dict[str, int] = {}
        for sink, tag in ((pipe.log2_sink, "facts"), (pipe.dead_sink, "dead")):
            record = self._slot_recorder(sink, tag)
            tracer.wrap(sink, "append", f"{tag}.append", after=record)
            tracer.wrap(sink, "compact", f"{tag}.compact", root=True, after=record)
            tracer.wrap(sink, "read", "sinks.read")
        tracer.wrap(pipe.clickhouse, "insert_batch", "clickhouse.insert_batch")
        from adguard2clickhouse_spark.functions import chsql

        tracer.wrap(chsql, "register_clickhouse_functions", "chsql.register")
        tracer.wrap(chsql, "transpile", "chsql.transpile")
        tracer.wrap(self.spark, "sql", "spark.sql")  # parse + analysis

    def _slot_recorder(self, sink, tag: str):
        """After each append/compact: add the bytes of ledger slots not seen
        before, read from the sink's committed pointer file."""
        pointer = os.path.join(sink.path, "_FACTS.json")

        def record(span):
            try:
                with open(pointer) as f:
                    sizes = json.load(f).get("dir_bytes", {})
            except FileNotFoundError:
                return
            for slot, nbytes in sizes.items():
                self.slot_bytes.setdefault(f"{tag}/{slot}", nbytes)

        return record

    def _epoch_children(self, span, timings: dict) -> None:
        """Parse and fused-delta walls come from the pipeline's own timings;
        they run first, back to back, from the start of process_batch."""
        t = span.start
        for key, name in (("parse_materialize_s", "parse.materialize"),
                          ("fused_delta_s", "aggregates.fused_delta")):
            if key in timings:
                self.tracer.add(name, t, t + timings[key])
                t += timings[key]

    # -- ingest ---------------------------------------------------------------
    def _wait(self, done) -> bool:
        deadline = time.perf_counter() + WAIT_TIMEOUT_S
        while not done():
            if self.query.exception() is not None or time.perf_counter() > deadline:
                return False
            time.sleep(0.05)
        return True

    def _start(self, **kw) -> None:
        self.query = self.pipe.start(**kw)
        self.queries_run.append(self.query)

    def ingest(self) -> None:
        pipe, backfill = self.pipe, self.args.workload == "ingest_backfill"
        self.arrived: dict[str, float] = {}
        self.late: list[float] = []
        self.t_start = time.perf_counter()
        if backfill:
            self._start(available_now=True, max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER)
            self.query.awaitTermination()
            self.arrived = {os.path.basename(f): self.t_start for f in self.files}
        else:
            self._start(available_now=True, max_files_per_trigger=1)
            self.query.awaitTermination()
            self.gates.check("primer pass ran without error", self.query.exception() is None,
                             str(self.query.exception()))
            # the daemon restarts on the same checkpoint; its first epoch
            # takes the last primer file and pays the restart, so the live
            # files meet a warm daemon
            n_before = len(self.epochs)
            os.rename(self.restart_file,
                      os.path.join(self.src, os.path.basename(self.restart_file)))
            self._start(processing_time=f"{LIVE_TRIGGER_S} seconds")
            if self.gates.check("daemon restart epoch committed",
                                self._wait(lambda: len(self.epochs) > n_before)):
                self._generate_live()
                names = [os.path.basename(f) for f in self.files]

                def all_committed():
                    log = _source_log(pipe.checkpoint_dir)
                    return all(n in log and log[n] in self.epochs for n in names)

                self.gates.check("live files committed", self._wait(all_committed))
            self.query.stop()
        self.gates.check("stream ran without error", self.query.exception() is None,
                         str(self.query.exception()))
        self.final_maintenance = pipe.join_maintenance()
        with open(os.path.join(pipe.log2_sink.path, "_FACTS.json")) as f:
            ledger = json.load(f)
        self.detail["facts_slot_bytes"] = [ledger["dir_bytes"].get(d) for d in ledger["dirs"]]
        self.t_end = max((e.end for e in self.epochs.values()), default=time.perf_counter())
        self.e2e["stored_bytes_per_input_byte"] = _du(self.out) / self.input_bytes
        self._check_regime()

    def _check_regime(self) -> None:
        """Each workload exercises what it claims: backfill runs every epoch
        fused; live runs none fused and compacts the fact ledger."""
        timings = [b for b in self.pipe.batch_timings if "epoch_id" in b]
        fused = sum("fused_delta_s" in t for t in timings)
        if self.args.workload == "ingest_backfill":
            self.gates.check("backfill: every epoch fused", fused == len(self.epochs) > 0,
                             f"{fused} of {len(self.epochs)} epochs fused")
        else:
            folded = sum(t.get("auto_compact_folded", 0)
                         for t in [*self.pipe.batch_timings, self.final_maintenance])
            self.gates.check("live: no epoch fused", fused == 0, f"{fused} epochs fused")
            self.gates.check("live: fact ledger compacted", folded > 0,
                             "no background fold of fact slots")
            self.detail["facts_slots_folded"] = folded

    def _generate_live(self) -> None:
        """Open loop: rename file k into the watched directory at t0 + k*dt,
        whatever the pipeline is doing. The files span ``--seconds``, less
        ``LIVE_EDGE_S`` at each end, starting on the trigger grid."""
        dt = (self.args.seconds - 2 * LIVE_EDGE_S) / max(len(self.files) - 1, 1)
        wall, now = time.time(), time.perf_counter()
        t0 = now + LIVE_TRIGGER_S - wall % LIVE_TRIGGER_S + LIVE_EDGE_S

        def run():
            for k, (src, dst) in enumerate(zip(self.pending, self.files)):
                due = t0 + k * dt
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                os.rename(src, dst)
                self.late.append(time.perf_counter() - due)
                self.arrived[os.path.basename(dst)] = due

        gen = threading.Thread(target=run, name="live-generator")
        gen.start()
        gen.join()

    # -- reads ----------------------------------------------------------------
    def _query_pass(self, p: int) -> None:
        """One closed-loop pass over ``QUERIES`` (one client); pass 0 is the
        cold one. Every result is checked; warm passes record walls."""
        tracer = self.tracer
        for name, sql in QUERIES.items():
            t0 = time.perf_counter()
            with (tracer.root("query", f"{name}/pass{p}", warm=p > 0)
                  if tracer else nullcontext()):
                with tracer.span("query.build") if tracer else nullcontext():
                    df = self.pipe.sql(sql)
                with tracer.span("query.exec") if tracer else nullcontext():
                    rows = df.collect()
            wall = time.perf_counter() - t0
            got = [_plain(r) for r in rows]
            want = [tuple(e) for e in self.expected[name]]
            self.gates.check(f"query {name} pass {p}", got == want,
                             f"{len(got)} rows vs {len(want)}")
            if p == 0:
                continue
            self.query_walls[name].append(wall)
            phases = df._jdf.queryExecution().tracker().phases()
            self.plan_s.append(sum(
                phases.get(k).get().durationMs()
                for k in ("analysis", "optimization", "planning")
                if phases.get(k).isDefined()) / 1000)

    def queries(self) -> None:
        """The measured warm passes; the cold pass ran during ``verify``
        and left its plans and generated code for these to reuse."""
        from adguard2clickhouse_spark.streaming.monitor import codegen_cache_snapshot

        self.query_walls: dict[str, list[float]] = {name: [] for name in QUERIES}
        self.plan_s = []
        compiles0 = codegen_cache_snapshot(self.spark)["compile_count"]
        passes = []
        for p in range(1, 1 + QUERY_WARM_PASSES):
            t0 = time.perf_counter()
            self._query_pass(p)
            passes.append(time.perf_counter() - t0)
        self.codegen_compiles = codegen_cache_snapshot(self.spark)["compile_count"] - compiles0
        # a handful of samples supports no percentile, so the figure is the
        # wall of a whole pass: what a dashboard refresh of these panels costs
        self.e2e["query_pass_s"] = statistics.median(passes)
        self.detail["query_walls_s"] = self.query_walls

    # -- correctness ------------------------------------------------------------
    def verify(self) -> None:
        from pyspark.sql import functions as F

        rc, g = self.rc, self.gates
        self.expected = expected_results(rc)
        # Decoding the ClickHouse payloads is pure Python; it runs in
        # spawned processes while this one checks the tables and runs the
        # cold query pass, none of which is timed.
        parts = [self.ch.bodies[i::DECODE_WORKERS] for i in range(DECODE_WORKERS)]
        with ProcessPoolExecutor(DECODE_WORKERS,
                                 mp_context=multiprocessing.get_context("spawn")) as pool:
            futures = [pool.submit(received_digest, part, rc.ids) for part in parts]
            self._verify_tables(F)
            self._query_pass(0)
            try:
                done = [f.result() for f in futures]
                rows = sum(n for n, _ in done)
                digest = sum(d for _, d in done) % (1 << 64)
                g.check("clickhouse rows = fact rows", (rows, digest) == (rc.good, rc.digest),
                        f"{rows} rows received, {rc.good} expected")
                self.ch_rows = rows
            except ValueError as e:
                g.check("clickhouse payloads decode", False, str(e))
                self.ch_rows = 0
        g.count(self.ch.posts + self.ch.failed, self.ch.failed)
        g.count(len(self.epochs), 0)

    def _verify_tables(self, F) -> None:
        rc, pipe, g = self.rc, self.pipe, self.gates
        n_fact = pipe.read_log2().count()
        dead = pipe.dead_sink.read(self.spark)
        n_dead = dead.count() if dead is not None else 0
        g.check("fact + dead rows = lines", n_fact + n_dead == rc.lines,
                f"{n_fact} + {n_dead} != {rc.lines}")
        g.check("dead rows = malformed lines", n_dead == rc.dead, f"{n_dead} != {rc.dead}")
        self.n_fact, self.n_dead = n_fact, n_dead

        def table(name, cols):
            df = pipe.read_aggregate(name)
            return [] if df is None else df.select(*cols).collect()

        one = lambda r: (r[0], r[1])  # noqa: E731
        got = {
            "blocked_domains": dict(map(one, table("blocked_domains", ["QH", "count"]))),
            "visited_domains": dict(map(one, table("visited_domains", ["QH", "count"]))),
            "clients_stats": {r[0]: (r[1], r[2]) for r in
                              table("clients_stats", ["IP", "visited", "blocked"])},
            "qt_stats": dict(map(one, table("qt_stats", ["QT", "count"]))),
            "rcode_stats": dict(map(one, table("rcode_stats", ["rcode", "count"]))),
            "stats2": {(r[0], r[1]): (r[2], r[3]) for r in table(
                "stats2", ["IP", F.unix_seconds("date_time"), "blocked", "visited"])},
            "tld_stats": dict(map(one, table("tld_stats", ["tld", "count"]))),
            "upstream_stats": dict(map(one, table("upstream_stats", ["Upstream", "count"]))),
        }
        for name in metrics.SINKS:
            want = getattr(rc, name)
            g.check(f"aggregate {name} = recount", got[name] == want,
                    f"{len(got[name])} keys vs {len(want)}")

    # -- metrics ----------------------------------------------------------------
    def ingest_metrics(self) -> None:
        epochs = sorted(self.epochs.values(), key=lambda e: e.id)
        self.e2e["first_epoch_s"] = epochs[0].end - self.t_start
        if self.args.workload == "ingest_backfill":
            # the catch-up: every line, from start() to the last commit
            self.e2e["ingest_rows_per_s"] = self.rc.lines / (self.t_end - self.t_start)
        else:
            # the open loop fixes the arrival rate, so the live figure is
            # the engine's own work: the lines of every warm epoch (all but
            # the cold first, which holds one primer file) over their walls
            self.e2e["ingest_rows_per_s"] = (self.rc.lines - LIVE_PRIME_LINES) / sum(
                e.end - e.start for e in epochs[1:])
        log = _source_log(self.pipe.checkpoint_dir)
        fresh, events = [], []
        for name, due in self.arrived.items():
            if log.get(name) not in self.epochs:
                continue  # never committed: the commit gate has failed already
            end = self.epochs[log[name]].end
            fresh.append(end - due)
            events += [(due, 1), (end, -1)]
        p = metrics.supported_percentile(len(fresh))
        self.gates.check("freshness samples support a p90", p is not None and p >= 90,
                         f"{len(fresh)} samples")
        self.e2e["freshness_p50_s"] = metrics.percentile(fresh, 50)
        self.e2e["freshness_p90_s"] = metrics.percentile(fresh, 90)
        pending = peak = 0
        for _, step in sorted(events):
            pending += step
            peak = max(peak, pending)
        self.layer["sources.files"] = len(fresh)
        self.layer["sources.pending_files_max"] = peak
        self.layer["sources.generator_late_s_max"] = max(self.late, default=0.0)
        self.detail["freshness_samples"] = len(fresh)
        self.detail["epochs"] = [
            {"id": e.id, "s": round(e.end - e.start, 3),
             "rows": t.get("n_rows"), **{k: v for k, v in t.items()
                                         if k.endswith("_s")}}
            for e, t in zip(epochs, [b for b in self.pipe.batch_timings if "epoch_id" in b])
        ]

    def layer_metrics(self) -> None:
        tr, L, pipe = self.tracer, self.layer, self.pipe
        timings = [b for b in pipe.batch_timings if "epoch_id" in b]
        walls = [e.end - e.start for e in self.epochs.values()]
        L["pipeline.epochs"] = len(walls)
        L["pipeline.epoch_s_p50"] = statistics.median(walls)
        L["pipeline.epoch_s_max"] = max(walls)
        trig = {}
        for prog in (p for q in self.queries_run for p in q.recentProgress):
            if prog["numInputRows"] and prog["batchId"] in self.epochs:
                e = self.epochs[prog["batchId"]]
                trig[e.id] = prog["durationMs"]["triggerExecution"] / 1000 - (e.end - e.start)
        L["pipeline.trigger_overhead_s"] = statistics.median(trig.values()) if trig else 0.0
        roots = tr.named("pipeline.process_batch")
        L["pipeline.self_s"] = sum(
            metrics.self_time((s.start, s.end), [(c.start, c.end) for c in tr.children(s)])
            for s in roots)
        L["trace.epoch_coverage_min"] = min(
            metrics.covered([(c.start, c.end) for c in tr.children(s)], s.start, s.end)
            / (s.end - s.start) for s in roots)
        self.gates.check("trace: child spans cover each epoch",
                         L["trace.epoch_coverage_min"] >= COVERAGE_MIN,
                         f"{L['trace.epoch_coverage_min']:.3f}")

        parse_s = sum(t.get("parse_materialize_s", 0.0) for t in timings)
        L["parse.busy_s"] = parse_s
        L["parse.rows_per_busy_s"] = self.rc.lines / parse_s
        L["parse.dead_ratio"] = self.n_dead / self.rc.lines
        L["aggregates.fused_s"] = sum(t.get("fused_delta_s", 0.0) for t in timings)
        L["aggregates.fused_epochs"] = sum("fused_delta_s" in t for t in timings)
        L["aggregates.persink_epochs"] = sum("fused_delta_s" not in t for t in timings)

        def total(prefix):
            return sum(s.end - s.start for s in tr.named(prefix))

        L["summing.fan_s"] = sum(t.get("aggregate_fan_s", 0.0) for t in timings)
        for name in metrics.SINKS:
            L[f"summing.fold_s.{name}"] = total(f"summing.apply_delta.{name}")
        folds = tr.named("summing.apply_delta.")
        L["summing.dense_folds"] = sum(s.attrs["dense"] for s in folds)
        L["summing.sparse_folds"] = sum(not s.attrs["dense"] for s in folds)
        installs = state = 0
        for sink in pipe.sinks.values():
            with open(os.path.join(sink.path, "CURRENT.json")) as f:
                installs += json.load(f)["version"]
            state += _du(sink.path)
        L["summing.installs"] = installs
        L["summing.state_bytes"] = state

        L["facts.append_s"] = total("facts.append")
        L["facts.dead_append_s"] = total("dead.append")
        compactions = [s for s in tr.spans if s.name.endswith(".compact")
                       and s.attrs.get("returned", 0) > 0]
        L["facts.compact_s"] = sum(s.end - s.start for s in compactions)
        L["facts.compactions"] = len(compactions)
        with open(os.path.join(pipe.log2_sink.path, "_FACTS.json")) as f:
            committed = json.load(f)
        L["facts.slots_end"] = len(committed["dirs"])
        written = sum(v for k, v in self.slot_bytes.items() if k.startswith("facts/"))
        L["facts.bytes_written_per_committed_byte"] = written / sum(
            committed["dir_bytes"][d] for d in committed["dirs"])

        L["clickhouse.insert_s"] = total("clickhouse.insert_batch")
        L["clickhouse.posts"] = self.ch.posts
        L["clickhouse.bytes_per_row"] = self.ch.bytes / max(self.ch_rows, 1)
        L["clickhouse.failed_posts"] = self.ch.failed

        self._spark_counts(L)
        L["spark.codegen_compiles"] = self.codegen_compiles
        L["spark.codegen_compiles_ingest"] = self.compiles_ingest

        every_query = [s for s in tr.spans if s.name == "query"]
        queries = [q for q in every_query if q.attrs["warm"]]

        def per_query(name):
            return statistics.median(
                sum(c.end - c.start for c in tr.spans if c.parent == q.id and c.name == name)
                for q in queries)

        L["query.build_s"] = per_query("query.build")
        L["query.exec_s"] = per_query("query.exec")
        L["query.plan_s"] = statistics.median(self.plan_s)
        L["query.self_s"] = statistics.median(
            metrics.self_time((q.start, q.end), [(c.start, c.end) for c in tr.children(q)])
            for q in queries)
        L["chsql.transpile_s"] = per_query("chsql.transpile")
        L["sinks.read_s"] = per_query("sinks.read")
        for name, walls in self.query_walls.items():
            L[f"query.wall_s.{name}"] = statistics.median(walls)
        # coverage by the layers' spans, not by the benchmark's build wrapper
        L["trace.query_coverage_min"] = min(
            metrics.covered([(c.start, c.end) for c in tr.children(q)
                             if c.name != "query.build"], q.start, q.end)
            / (q.end - q.start) for q in every_query)
        self.gates.check("trace: layer spans cover each query",
                         L["trace.query_coverage_min"] >= COVERAGE_MIN,
                         f"{L['trace.query_coverage_min']:.3f}")
        L["trace.spans"] = len(tr.spans)
        L["trace.overhead_s"] = tr.overhead_s

    def _spark_counts(self, L: dict) -> None:
        """Jobs per epoch from the highest job id before and after each epoch;
        tasks from the stage info of those jobs that the status store keeps."""
        st = self.spark.sparkContext.statusTracker()
        jobs, tasks = [], []
        for e in self.epochs.values():
            lo, hi = e.jobs
            jobs.append(hi - lo)
            n = 0
            for jid in range(lo + 1, hi + 1):
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    n += stage.numTasks if stage else 0
            tasks.append(n)
        L["spark.jobs_per_epoch"] = statistics.median(jobs)
        L["spark.tasks_per_epoch"] = statistics.median(tasks)

    def peak_rss(self) -> None:
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.layer["memory.peak_rss_mb"] = host.peak_rss_mb([os.getpid(), jvm])

    # -- the whole run ------------------------------------------------------------
    def execute(self) -> None:
        from adguard2clickhouse_spark.streaming.monitor import codegen_cache_snapshot

        phases = self.detail["phase_s"] = {}
        mark = time.perf_counter()
        cpu0 = host.cpu_seconds()

        def lap(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = round(now - mark, 3)
            mark = now

        self.make_inputs()
        lap("inputs")
        with Loopback() as self.ch:
            try:
                self.setup()
                lap("setup")
                compiles0 = codegen_cache_snapshot(self.spark)["compile_count"]
                self.ingest()
                self.compiles_ingest = (
                    codegen_cache_snapshot(self.spark)["compile_count"] - compiles0)
                lap("ingest")
                self.verify()
                lap("verify")
                self.queries()
                lap("queries")
                self.peak_rss()
                self.ingest_metrics()
                if self.trace:
                    self.layer_metrics()
            finally:
                self._stop_spark()
                lap("stop")
                cpu1 = host.cpu_seconds()
                self.detail["cpu_s"] = {k: round(cpu1[k] - cpu0[k], 2) for k in cpu0}

    def _stop_spark(self) -> None:
        """Stop the query, the context and the JVM, and wait for the JVM;
        also after a set-up that failed half way."""
        from pyspark import SparkContext

        query = getattr(self, "query", None)
        if query is not None and query.isActive:
            query.stop()
        gateway = SparkContext._gateway
        if hasattr(self, "spark"):
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def result(self) -> dict:
        declared = metrics.PER_LAYER if self.trace else metrics.END_TO_END
        values = self.layer if self.trace else self.e2e
        bad = metrics.undeclared(values, declared)
        missing = sorted(set(declared) - set(values))
        self.gates.check("emitted metrics = declared metrics", not bad and not missing,
                         f"undeclared {bad}, missing {missing}")
        return {
            "correct": self.gates.failed == 0,
            "attempted": self.gates.attempted,
            "failed": self.gates.failed,
            "metrics": {k: {"value": float(values[k]), "unit": declared[k]}
                        for k in declared if k in values},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _configure_env(work, host.nproc())
        import adguard2clickhouse_spark  # noqa: F401  (fail fast without the package)

        run = Run(args, work)
        run.execute()
        out = run.result()
        run.detail["host"] = host.fingerprint(work)
        run.detail["gate_failures"] = run.gates.failures
        if run.trace:
            run.detail["e2e_under_tracing"] = run.e2e
        print(json.dumps(run.detail, default=str))
        print(json.dumps(out))
        return 0 if out["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV) == "1":
        # a SIGTERM from the supervisor unwinds through the finally blocks,
        # which stop Spark and remove the work directory
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
        sys.exit(main())
    # The run itself is a child; this process returns once every process
    # the run started, however deep, has ended.
    from supervise import supervise

    sys.exit(supervise([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                       env={**os.environ, CHILD_ENV: "1"}, timeout_s=RUN_TIMEOUT_S))
