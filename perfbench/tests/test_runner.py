"""Tests of the benchmark runner's pure parts: no Spark, no JVM.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import metrics  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


@pytest.mark.parametrize("n, want", [
    (9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (1000, 99), (10_000, 99.9),
])
def test_supported_percentile_leaves_ten_samples_beyond(n, want):
    assert metrics.supported_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert metrics.percentile(xs, 90) == 90
    assert metrics.percentile(xs, 50) == 50
    assert metrics.percentile(reversed(xs), 100) == 100
    assert metrics.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_coverage_and_self_time_merge_overlaps():
    kids = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert metrics.covered(kids, 0.0, 10.0) == pytest.approx(5.0)
    assert metrics.self_time((0.0, 10.0), kids) == pytest.approx(5.0)
    assert metrics.self_time((0.0, 1.0), []) == pytest.approx(1.0)


def test_generator_output_is_byte_identical_for_a_seed(tmp_path):
    lines_a, rc_a = corpus.generate(7, 3_000)
    lines_b, rc_b = corpus.generate(7, 3_000)
    a = corpus.write_files(lines_a, str(tmp_path / "a"), 4)
    b = corpus.write_files(lines_b, str(tmp_path / "b"), 4)
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    assert rc_a == rc_b
    lines_c, _ = corpus.generate(8, 3_000)
    assert lines_c != lines_a


def test_generator_shape():
    lines, rc = corpus.generate(3, 20_000)
    assert rc.lines == len(lines) == rc.good + rc.dead
    assert rc.dead == round(20_000 * corpus.MALFORMED_SHARE)
    bad = [ln for ln in lines if not ln.endswith("}") or '"IP"' not in ln
           or "not-base64" in ln or "yesterday" in ln or '"Answer":"Si+BgAA="' in ln]
    assert len(bad) == rc.dead
    assert any(":" in ip for ip in rc.clients_stats)  # IPv6 clients
    assert any(ip.count(".") == 3 for ip in rc.clients_stats)  # IPv4 clients
    assert len({d - d % 86_400 for d in rc.log2_hourly}) >= corpus.DAYS
    assert {"uk", "au", "io", "com"} <= set(rc.tld_stats)
    n_qh = sum(rc.blocked_domains.values()) + sum(rc.visited_domains.values())
    assert sum(rc.tld_stats.values()) < n_qh == rc.good  # the filter drops rows
    assert corpus.ANSWER_POOL > corpus.MEMO_ENTRIES


def test_emitted_metric_names_are_declared_in_benchmark_json():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert metrics.NAME_RE.fullmatch(name), name
    assert metrics.undeclared(metrics.END_TO_END, e2e) == []
    assert metrics.undeclared(["query.wall_s.nope", "bad name"], layer) == [
        "bad name", "query.wall_s.nope"]


def _supervised(script: str, grace_s: float, timeout_s: float):
    """Run ``sh -c script`` under supervise() in a fresh interpreter (it
    makes its process a subreaper and takes over signals)."""
    code = (f"import sys; sys.path.insert(0, {BENCH!r}); import supervise; "
            f"supervise.GRACE_S = {grace_s!r}; "
            f"sys.exit(supervise.supervise(['sh', '-c', {script!r}], env=None, "
            f"timeout_s={timeout_s!r}))")
    t0 = time.monotonic()
    done = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          timeout=60)
    return done, time.monotonic() - t0


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def test_supervise_waits_for_orphans_that_end():
    done, took = _supervised("sleep 1 & exit 3", grace_s=30.0, timeout_s=30.0)
    assert done.returncode == 3
    assert 1.0 <= took < 20


def test_supervise_kills_orphans_past_the_grace_period():
    done, took = _supervised("sleep 60 & echo $!; exit 0", grace_s=0.5, timeout_s=30.0)
    assert done.returncode == 0
    assert not _alive(int(done.stdout.split()[0]))
    assert took < 20


def test_supervise_stops_a_child_past_the_time_limit():
    done, took = _supervised("echo $$; sleep 60", grace_s=30.0, timeout_s=0.5)
    assert done.returncode == 1
    assert not _alive(int(done.stdout.split()[0]))
    assert took < 20
