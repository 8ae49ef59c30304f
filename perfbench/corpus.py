"""Seeded AdGuard Home query-log corpus, and the recount it is checked against.

The benchmark owns its inputs: the engine only ever sees the JSONL files
written here. Every byte is a function of the seed (one ``random.Random``,
no hash-ordered containers), so a seed names a corpus.

Properties, and why each is there:

- **Zipf-ranked domains** (``N_DOMAINS``, exponent ``DOMAIN_ZIPF``): real
  resolver logs are dominated by a few hot names with a long tail, which is
  what sets the key cardinality of every per-domain aggregate and the bucket
  coverage of each summing-sink fold.
- **Multi-label public suffixes, IP literals and single-label names**:
  ``co.uk``/``com.au``/``github.io`` hosts, dotted-quad and IPv6 literals and
  ``localhost``-style names make ``tld_stats``' real-domain filter (dot test
  plus the two IP-literal regexes) accept and reject rows, instead of
  passing everything.
- **IPv4 and IPv6 clients** (``V6_CLIENT_SHARE``): client keys of both
  shapes reach ``clients_stats``/``stats2`` and the RowBinary string encoder.
- **Several days of timestamps** (``DAYS``, with a non-UTC offset): log2's
  date partitions and stats2's 10-minute buckets grow with the corpus, as
  they do in a long-running deployment.
- **About 0.1% malformed lines** (``MALFORMED_SHARE``), one of five kinds
  each: the dead-letter channel gets steady traffic, as a real spool does.
- **Answers from a heavy-tailed pool four times the DNS memo**
  (``ANSWER_POOL`` > ``MEMO_ENTRIES``): the per-executor parse memo in
  ``operators/dnswire.py`` hits on the hot answers and misses on the tail,
  instead of hitting on every row.

The numbers behind these shapes (``N_DOMAINS``, the three Zipf exponents,
``N_CLIENTS``, ``BLOCKED_DOMAIN_SHARE``, ``V6_CLIENT_SHARE``, the 95%/30%
``Cached`` shares and the QTYPE, protocol, upstream and suffix weights) are
assumptions of a plausible home or small-office resolver, not values taken
from a published query-log measurement. What the engine's cost depends on
is the number of distinct keys each epoch brings to each aggregate, and
that is bounded by the universes: at most ``N_DOMAINS`` domains,
``N_CLIENTS`` clients and ``N_CLIENTS`` x ten-minute buckets for stats2.

``Recount`` rebuilds every number the engine maintains (the eight
aggregates, the hourly log2 scan, row counts and a digest of the fact rows)
straight from the generator's own records, with no Spark in the path.
"""

from __future__ import annotations

import base64
import calendar
import hashlib
import itertools
import os
import random
import socket
import struct
import time
from dataclasses import dataclass

import numpy as np

MEMO_ENTRIES = 65_536  # lru_cache size of dnswire._parse_cached
ANSWER_POOL = 4 * MEMO_ENTRIES
ANSWER_ZIPF = 1.0
N_DOMAINS = 20_000
DOMAIN_ZIPF = 1.05
BLOCKED_DOMAIN_SHARE = 0.08
N_CLIENTS = 256
CLIENT_ZIPF = 0.9
V6_CLIENT_SHARE = 0.3
DAYS = 3
MALFORMED_SHARE = 0.001
START = calendar.timegm((2024, 3, 1, 0, 0, 0))
TZ_OFFSET_S = 3 * 3600  # lines carry +03:00 local time, like a non-UTC host
STATS2_BUCKET_S = 600

SUFFIXES = [
    ("com", 40), ("net", 10), ("org", 6), ("de", 4), ("ru", 3), ("io", 3),
    ("co.uk", 5), ("com.au", 3), ("github.io", 3), ("co.jp", 2),
    ("cloudfront.net", 2), ("in-addr.arpa", 1),
]
SUBDOMAINS = ["", "", "", "www", "api", "cdn", "m", "mail", "img", "static",
              "s3", "edge", "t", "ads", "metrics"]
SYLLABLES = ["ka", "lo", "mi", "net", "zo", "ra", "te", "qu", "vi", "xo",
             "bel", "dor", "fi", "gan", "hu", "jet", "pix", "sto", "tra", "yo"]
SINGLE_LABEL = ["localhost", "wpad", "router", "printer", "nas", "fritz"]
QTYPES = [("A", 55), ("AAAA", 25), ("HTTPS", 10), ("PTR", 4), ("TXT", 2),
          ("SRV", 1), ("MX", 1), ("SOA", 1), ("NS", 1)]
PROTOCOLS = [("", 70), ("doh", 15), ("dot", 10), ("doq", 5)]
UPSTREAMS = [
    ("https://dns10.quad9.net:443/dns-query", 35), ("tls://1.1.1.1:853", 25),
    ("8.8.8.8:53", 20), ("quic://dns.adguard-dns.com:853", 10),
    ("192.168.1.1:53", 5), (None, 5),  # None: key absent, parsed as ""
]
MALFORMED_KINDS = ("truncated_json", "missing_ip", "bad_base64",
                   "bad_timestamp", "short_packet")


# -- DNS answers: an encoder of our own, so inputs do not come from the
#    system under test ------------------------------------------------------

def _name(n: str) -> bytes:
    return b"".join(bytes([len(p)]) + p.encode() for p in n.split(".") if p) + b"\0"


_PTR_QNAME = b"\xc0\x0c"  # compression pointer to the question name
_POOL_SUFFIX = _name("resolver-pool.example")
_RR_A = struct.Struct(">2sHHIHI")
_RR_HEAD = struct.Struct(">2sHHIH")


def _packet(qname: bytes, rcode: int, a=(), aaaa=(), cname=()) -> bytes:
    """A response message; answer owners point back at the question name,
    as resolvers write them."""
    rrs = [_RR_HEAD.pack(_PTR_QNAME, 5, 1, 300, len(c)) + c for c in cname]
    rrs += [_RR_A.pack(_PTR_QNAME, 1, 1, 300, 4, ip) for ip in a]
    rrs += [_RR_HEAD.pack(_PTR_QNAME, 28, 1, 300, 16) + ip for ip in aaaa]
    head = struct.pack(">HHHHHH", 0x4A2F, 0x8180 | rcode, 1, len(rrs), 0, 0)
    return head + qname + b"\0\x01\0\x01" + b"".join(rrs)


def answer(seed: int, j: int) -> tuple[str, int, tuple, tuple, tuple]:
    """Answer ``j`` of the pool: (base64 packet, rcode, rdatas, rdatas6,
    cnames) — the last four as the engine must render them."""
    h = hashlib.blake2b(b"%d:%d" % (seed, j), digest_size=32).digest()
    label = b"a%d" % j
    qname = bytes([len(label)]) + label + _POOL_SUFFIX
    rcode = 3 if j % 53 == 7 else 2 if j % 211 == 11 else 0
    a, aaaa, cname = (), (), ()
    if rcode:
        pass
    elif h[0] < 154:
        a = tuple(int.from_bytes(h[4 * k: 4 * k + 4], "big") | 0x0100_0001
                  for k in range(1, 2 + h[1] % 3))
    elif h[0] < 218:
        aaaa = tuple(b"\x20\x01\x0d\xb8\0\0\0\0" + h[8 * k: 8 * k + 8]
                     for k in range(1, 2 + h[1] % 2))
    else:
        cname = (f"edge{j % 997}.cdn-provider.example",)
        a = (0x0A00_0001 | int.from_bytes(h[4:7], "big") << 8,)
    b64 = base64.b64encode(_packet(qname, rcode, a, aaaa, map(_name, cname))).decode()
    return (b64, rcode, tuple(socket.inet_ntoa(x.to_bytes(4, "big")) for x in a),
            tuple(socket.inet_ntop(socket.AF_INET6, x) for x in aaaa),
            tuple(c + "." for c in cname))


# -- the name and client universes ------------------------------------------

@dataclass(frozen=True)
class Domain:
    name: str
    tld: str | None  # None: not a "real domain" (no dot, or an IP literal)
    blocked: bool


def _domains(rng: random.Random) -> list[Domain]:
    suffixes = [v for v, _ in SUFFIXES]
    suffix_cum = list(itertools.accumulate(w for _, w in SUFFIXES))
    out = []
    for r in range(N_DOMAINS):
        u = rng.random()
        blocked = rng.random() < BLOCKED_DOMAIN_SHARE
        if u < 0.004:
            name = f"{rng.randint(1, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
            out.append(Domain(name, None, blocked))
        elif u < 0.006:
            out.append(Domain(f"2001:db8::{r:x}", None, blocked))
        elif u < 0.009:
            out.append(Domain(f"{SINGLE_LABEL[r % len(SINGLE_LABEL)]}{r % 7 or ''}", None, blocked))
        else:
            base = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
            sub = SUBDOMAINS[rng.randrange(len(SUBDOMAINS))]
            sfx = rng.choices(suffixes, cum_weights=suffix_cum)[0]
            name = f"{sub + '.' if sub else ''}{base}{r}.{sfx}"
            out.append(Domain(name, sfx.rsplit(".", 1)[-1], blocked))
    return out


def _clients(rng: random.Random) -> list[str]:
    out = []
    for i in range(N_CLIENTS):
        if rng.random() < V6_CLIENT_SHARE:
            out.append(f"fd00:{rng.getrandbits(16):x}::{i + 1:x}")
        else:
            out.append(f"192.168.{i // 200}.{i % 200 + 2}")
    return out


_MIX = np.array([0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB,
                 0xD6E8FEB86659FD93, 0xA0761D6478BD642F, 0xE7037ED1A0B428DB,
                 0x8EBC6AF09C88C6E3, 0x589965CC75374CC3, 0x1D8E4E27C47D124F,
                 0xC2B2AE3D27D4EB4F], dtype=np.uint64)


def rows_digest(fields: list[np.ndarray]) -> int:
    """Order-independent 64-bit digest of a multiset of fact rows, each row
    given as ten integer fields (epoch seconds, QH id, QT id, CP id,
    Upstream id, IP id, IsFiltered, Elapsed, Cached, answer-content id):
    a splitmix64 finalizer over a keyed mix, summed mod 2**64. The generator
    and the ClickHouse gate compute it the same way from their own records."""
    with np.errstate(over="ignore"):
        x = np.zeros(len(fields[0]), dtype=np.uint64)
        for f, k in zip(fields, _MIX):
            x = (x ^ np.asarray(f).astype(np.uint64)) * k
            x ^= x >> np.uint64(31)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        return int(x.sum(dtype=np.uint64))


def _counts(keys) -> dict:
    vals, cnt = np.unique(keys, return_counts=True)
    return dict(zip(vals.tolist(), cnt.tolist()))


@dataclass
class Recount:
    """Everything the engine maintains, recomputed from generator records."""

    lines: int
    good: int
    dead: int
    digest: int  # rows_digest of the fact rows
    blocked_domains: dict  # QH -> count
    visited_domains: dict
    clients_stats: dict  # IP -> (visited, blocked)
    qt_stats: dict
    rcode_stats: dict
    stats2: dict  # (IP, bucket epoch s) -> (blocked, visited)
    tld_stats: dict
    upstream_stats: dict
    log2_hourly: dict  # hour epoch s -> (rows, blocked)
    ids: dict  # column -> {value: id}, the integer fields rows_digest takes


def _zipf(u: np.ndarray, n: int, s: float) -> np.ndarray:
    cum = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return np.minimum(np.searchsorted(cum, u * cum[-1], side="right"), n - 1)


def _weighted(u: np.ndarray, pairs) -> np.ndarray:
    cum = np.cumsum([w for _, w in pairs], dtype=float)
    return np.minimum(np.searchsorted(cum, u * cum[-1], side="right"), len(pairs) - 1)


def _malformed(kind: str, line: str) -> str:
    if kind == "truncated_json":
        return line[: len(line) // 2]
    if kind == "missing_ip":
        head, _, tail = line.partition('"IP":"')
        return head + tail.split('",', 1)[1]
    field_, bad = {
        "bad_base64": ("Answer", "%%not-base64%%"),
        "bad_timestamp": ("T", "yesterday"),
        "short_packet": ("Answer", base64.b64encode(b"\x4a\x2f\x81\x80\0").decode()),
    }[kind]
    head, _, tail = line.partition(f'"{field_}":"')
    return head + f'"{field_}":"{bad}' + tail[tail.index('"'):]


def generate(seed: int, n_lines: int) -> tuple[list[str], Recount]:
    """``n_lines`` query-log lines in time order over ``DAYS`` days, and
    their recount. Exactly ``round(n_lines * MALFORMED_SHARE)`` lines are
    malformed, at seeded positions."""
    prng = random.Random(seed)
    domains, clients = _domains(prng), _clients(prng)
    n_bad = round(n_lines * MALFORMED_SHARE)
    bad_at = dict(zip(sorted(prng.sample(range(n_lines), n_bad)),
                      itertools.cycle(MALFORMED_KINDS)))
    u = np.random.default_rng(seed).random((10, n_lines))
    dom = _zipf(u[0], N_DOMAINS, DOMAIN_ZIPF)
    cli = _zipf(u[1], N_CLIENTS, CLIENT_ZIPF)
    ans = _zipf(u[2], ANSWER_POOL, ANSWER_ZIPF)
    qt = _weighted(u[3], QTYPES)
    cp = _weighted(u[4], PROTOCOLS)
    up = _weighted(u[5], UPSTREAMS)
    step = DAYS * 86_400 / max(n_lines, 1)
    ts = START + (np.arange(n_lines) + u[6]) * step
    sec = np.floor(ts).astype(np.int64)
    micros = np.minimum(((ts - sec) * 1e6).astype(np.int64), 999_999)
    elapsed = (-np.log1p(-u[7]) * 180_000).astype(np.int64) + 900
    cached_key = u[8] < 0.95
    cached = (u[9] < 0.3) & cached_key

    pool = {j: answer(seed, j) for j in np.unique(ans).tolist()}
    local = sec + TZ_OFFSET_S
    day0 = int(local.min() // 86_400) if n_lines else 0
    dates = [time.strftime("%Y-%m-%d", time.gmtime((day0 + d) * 86_400))
             for d in range(DAYS + 2)]
    hms = [f"{h:02d}:{m:02d}:{s:02d}" for h in range(24) for m in range(60) for s in range(60)]
    qt_s = [v for v, _ in QTYPES]
    cp_s = [v for v, _ in PROTOCOLS]
    up_val = [v or "" for v, _ in UPSTREAMS]
    # Lines are assembled from per-value fragments, looked up by index.
    mid_s = [f'"QT":"{q}","QC":"IN","CP":"{c}",' + (f'"Upstream":"{u}",' if u else "")
             for q in qt_s for c in cp_s for u, _ in UPSTREAMS]
    mid = (qt * len(cp_s) + cp) * len(UPSTREAMS) + up
    qh_s = [f'"QH":"{x.name}",' for x in domains]
    result_s = ['"Result":{"IsFiltered":true,"Reason":3,"Rules":[{"FilterListID":1}]},"Elapsed":'
                if x.blocked else '"Result":{},"Elapsed":' for x in domains]
    ip_s = [f'"IP":"{ip}",' for ip in clients]
    answer_s = {j: f'"Answer":"{an[0]}",' for j, an in pool.items()}
    tail_s = ["}", ',"Cached":false}', ',"Cached":true}']
    tail = cached_key * (1 + cached.astype(np.int64))

    lines = []
    good = np.ones(n_lines, dtype=bool)
    cols = zip(dom.tolist(), cli.tolist(), ans.tolist(), mid.tolist(), micros.tolist(),
               (local // 86_400 - day0).tolist(), (local % 86_400).tolist(),
               elapsed.tolist(), tail.tolist())
    for i, (d, c, a, m, us, day, sod, el, t) in enumerate(cols):
        line = (f'{{"T":"{dates[day]}T{hms[sod]}.{us:06d}+03:00",{qh_s[d]}{mid_s[m]}'
                f'{answer_s[a]}{ip_s[c]}{result_s[d]}{el}{tail_s[t]}')
        kind = bad_at.get(i)
        if kind is not None:
            line = _malformed(kind, line)
            good[i] = False
        lines.append(line)

    g = good
    flt = np.array([x.blocked for x in domains])[dom] & g
    vis = ~flt & g
    tld_ok = np.array([x.tld is not None for x in domains])[dom] & g
    rcode = np.array([pool[a][1] for a in ans.tolist()], dtype=np.int64)
    names = [x.name for x in domains]
    ids = {
        "QH": {n: i for i, n in reversed(list(enumerate(names)))},
        "QT": {v: i for i, v in enumerate(qt_s)},
        "CP": {v: i for i, v in enumerate(cp_s)},
        "Upstream": {v: i for i, v in enumerate(up_val)},
        "IP": {v: i for i, v in enumerate(clients)},
        "answer": {},
    }
    for j, an in sorted(pool.items(), reverse=True):
        ids["answer"][an[1:]] = j
    qh_canon = np.array([ids["QH"][n] for n in names])
    content = np.array([ids["answer"][pool[a][1:]] for a in ans.tolist()], dtype=np.int64)
    digest = rows_digest([sec[g], qh_canon[dom][g], qt[g], cp[g], up[g], cli[g],
                          flt[g], elapsed[g], cached[g], content[g]])
    bucket = sec - sec % STATS2_BUCKET_S
    hour = sec - sec % 3600
    s2 = _counts(cli[g] * (1 << 40) + bucket[g])
    s2b = _counts(cli[flt] * (1 << 40) + bucket[flt])
    clients_v, clients_b = _counts(cli[vis]), _counts(cli[flt])
    hourly, hourly_b = _counts(hour[g]), _counts(hour[flt])
    rc = Recount(
        lines=n_lines,
        good=int(g.sum()),
        dead=n_lines - int(g.sum()),
        digest=digest,
        blocked_domains={names[k]: v for k, v in _counts(qh_canon[dom][flt]).items()},
        visited_domains={names[k]: v for k, v in _counts(qh_canon[dom][vis]).items()},
        clients_stats={clients[k]: (clients_v.get(k, 0), clients_b.get(k, 0))
                       for k in _counts(cli[g])},
        qt_stats={qt_s[k]: v for k, v in _counts(qt[g]).items()},
        rcode_stats=_counts(rcode[g]),
        stats2={(clients[k >> 40], k & ((1 << 40) - 1)): (s2b.get(k, 0), v - s2b.get(k, 0))
                for k, v in s2.items()},
        tld_stats={},
        upstream_stats={},
        log2_hourly={k: (v, hourly_b.get(k, 0)) for k, v in hourly.items()},
        ids=ids,
    )
    for k, v in _counts(dom[tld_ok]).items():
        t = domains[k].tld
        rc.tld_stats[t] = rc.tld_stats.get(t, 0) + v
    for k, v in _counts(up[g]).items():
        rc.upstream_stats[up_val[k]] = rc.upstream_stats.get(up_val[k], 0) + v
    return lines, rc


def write_files(lines: list[str], directory: str, n_files: int,
                prefix: str = "querylog") -> list[str]:
    """Split ``lines`` into ``n_files`` consecutive JSONL files; returns the
    paths in order. Lines end with ``\\n``; contents depend only on ``lines``."""
    os.makedirs(directory, exist_ok=True)
    per, extra = divmod(len(lines), n_files)
    paths, start = [], 0
    for f in range(n_files):
        end = start + per + (1 if f < extra else 0)
        path = os.path.join(directory, f"{prefix}-{f:04d}.jsonl")
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines[start:end]) + "\n")
        paths.append(path)
        start = end
    return paths
