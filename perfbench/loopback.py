"""A loopback HTTP server that speaks the part of ClickHouse's HTTP
interface the engine's RowBinary writer uses, and a decoder of our own for
what it receives.

The server only stores bodies; decoding happens after the timed region.
The decoder is written independently of ``sinks/clickhouse.py`` so the gate
does not trust the encoder's own inverse.
"""

from __future__ import annotations

import struct
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from corpus import rows_digest

LOG2_ORDER = ("date_time", "QH", "QT", "QC", "CP", "Upstream", "IP", "IsFiltered",
              "Elapsed", "Cached", "rcode", "rdatas", "rdatas6", "cnames")


class Loopback:
    """``with Loopback() as ch:`` — serves on 127.0.0.1:<ch.port>."""

    def __init__(self):
        self.bodies: list[tuple[str, bytes]] = []
        self.failed = 0
        lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(n)
                    query = urllib.parse.parse_qs(
                        urllib.parse.urlsplit(self.path).query).get("query", [""])[0]
                    ok = len(body) == n
                except (ValueError, OSError):
                    ok, body, query = False, b"", ""
                with lock:
                    if ok:
                        outer.bodies.append((query, body))
                    else:
                        outer.failed += 1
                self.send_response(200 if ok else 400)
                self.end_headers()

            def log_message(self, *args):
                pass

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = False
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever, name="ch-loopback")

    def __enter__(self) -> "Loopback":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=30)

    @property
    def posts(self) -> int:
        return len(self.bodies)

    @property
    def bytes(self) -> int:
        return sum(len(b) for _, b in self.bodies)


def _columns(query: str) -> tuple[str, ...]:
    inside = query[query.index("(") + 1: query.index(")")]
    return tuple(c.strip().strip("`") for c in inside.split(","))


def _varint(body: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = body[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n, pos
        shift += 7


def decode_log2(body: bytes):
    """Yield one tuple per RowBinary log2 row, columns in ``LOG2_ORDER``:
    (epoch s, QH, QT, QC, CP, Upstream, IP, IsFiltered, Elapsed, Cached,
    rcode, rdatas, rdatas6, cnames). Raises ValueError on a torn row."""
    pos, end, unpack = 0, len(body), struct.unpack_from
    try:
        while pos < end:
            row = [unpack("<I", body, pos)[0]]
            pos += 4
            for _ in range(6):
                n, pos = _varint(body, pos)
                row.append(body[pos: pos + n].decode())
                pos += n
            row.extend(unpack("<?Q?B", body, pos))
            pos += 11
            for _ in range(3):
                k, pos = _varint(body, pos)
                items = []
                for _ in range(k):
                    n, pos = _varint(body, pos)
                    items.append(body[pos: pos + n].decode())
                    pos += n
                row.append(tuple(items))
            if pos > end:
                raise ValueError("RowBinary row runs past the body")
            yield tuple(row)
    except (IndexError, struct.error, UnicodeDecodeError) as e:
        raise ValueError(f"torn RowBinary row at byte {pos}: {e}") from e


def received_digest(bodies, ids: dict) -> tuple[int, int]:
    """(rows, rows_digest) of every log2 row in ``bodies``, mapping each
    value to the generator's integer ids; a value the generator never wrote
    maps to -1, which cannot match its digest. Digests of disjoint parts
    add up mod 2**64, so the bodies can be split across workers."""
    mapped = []
    qh, qt, cp, up, ipm, ans = (ids[k] for k in ("QH", "QT", "CP", "Upstream", "IP", "answer"))
    for query, body in bodies:
        if _columns(query) != LOG2_ORDER:
            raise ValueError(f"unexpected insert column list: {query!r}")
        mapped += [
            (r[0], qh.get(r[1], -1), qt.get(r[2], -1), cp.get(r[4], -1) if r[3] == "IN" else -1,
             up.get(r[5], -1), ipm.get(r[6], -1), r[7], r[8], r[9],
             ans.get((r[10], r[11], r[12], r[13]), -1))
            for r in decode_log2(body)
        ]
    if not mapped:
        return 0, 0
    return len(mapped), rows_digest(list(np.array(mapped, dtype=np.int64).T))
