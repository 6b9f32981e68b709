"""Load generator for ``wire_tail``: a walsender speaking the PostgreSQL
v3 replication protocol over localhost, run as its own process.

    python3 -m perfbench.walsender --seed 1 --backlog 2500 --rate 125 \
        --seconds 12 --block-txns 500 --timeout 60 --deadline 152 --log out.json

It serves ``--backlog`` transactions as soon as the client starts
replication, then commits new transactions open-loop at ``--rate``
transactions per second: a scheduler thread releases transaction ``i``
at ``start + i / rate`` whatever the client does, a writer thread
pushes released frames into the socket (blocking only itself when the
client stops reading), and a reader thread records every standby status
update the moment it arrives. All times are ``time.monotonic()``, which
is system-wide on Linux, so the benchmark process can join them with
its own stamps.

Measured window: transactions scheduled in ``[w, w + seconds)``, where
``w`` is the first block start at or after ``catchup``; ``catchup`` is
the first status update whose flush LSN covers the last backlog COMMIT,
or ``start + timeout`` if none does by then (the window's transactions
then fail on their acks). Blocks are runs of ``--block-txns``
transactions counted from the start of the stream. With blocks equal to
the client's batch size, every window holds whole batches, so the fill
wait of its transactions is uniform over a batch whatever the phase of
the window. The stream keeps its rate after the window (the cool-down)
until every window transaction is acked or ``timeout`` seconds pass,
then prints ``DONE``, stops committing, and exits after ``STOP`` arrives
on stdin (or its hard deadline passes), writing the log as JSON.

Protocol surface: SSLRequest (answered 'N'), trust auth, IDENTIFY_SYSTEM,
CREATE_REPLICATION_SLOT (42710 on repeat, plus the slot catalog probe),
START_REPLICATION ... LOGICAL resending from the requested LSN, XLogData
frames, standby status updates, CopyDone and Terminate.
"""

from __future__ import annotations

import argparse
import bisect
import json
import math
import socket
import struct
import sys
import threading
import time

from perfbench import corpus

PROTO_V3 = 196608
SSL_REQUEST = 80877103
PG_EPOCH_US = 946_684_800 * 1_000_000


def msg(mtype: bytes, body: bytes) -> bytes:
    return mtype + struct.pack(">I", len(body) + 4) + body


def xlogdata(lsn: int, wal_end: int, payload: bytes) -> bytes:
    now_us = int(time.time() * 1_000_000) - PG_EPOCH_US
    return msg(b"d", b"w" + struct.pack(">qqq", lsn, wal_end, now_us) + payload)


def parse_status(body: bytes) -> int | None:
    """Flush LSN of a standby status update CopyData body, else None."""
    if body[:1] != b"r" or len(body) < 33:
        return None
    _written, flushed, _applied, _ts = struct.unpack(">qqqq", body[1:33])
    return flushed


class _Reader:
    """Buffered exact reads over a socket."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.buf = b""

    def exact(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def typed(self) -> tuple[bytes, bytes]:
        head = self.exact(5)
        (ln,) = struct.unpack(">I", head[1:])
        return head[:1], self.exact(ln - 4)


class Walsender:
    """The generator's state: the WAL (frames), the release horizon and
    the logs. ``frames[k] = (lsn, payload)``; ``commit_idx[i]`` is the
    frame index just past transaction ``i``."""

    def __init__(self, seed: int, backlog: int, rate: float, max_txns: int):
        self.seed = seed
        self.backlog = backlog
        self.rate = rate
        self.frames: list[tuple[int, bytes]] = []
        self.commit_idx: list[int] = []
        self.commit_lsn: list[int] = []
        self.released = 0  # frames available to send
        self.released_txns = 0
        self.cond = threading.Condition()
        self.stop_event = threading.Event()
        self.halt = threading.Event()  # no new commits (cool-down over)
        self.start_t: float | None = None
        self.due: list[float] = []  # scheduled time per released txn
        self.late: list[float] = []  # release time minus scheduled time
        self.status: list[tuple[float, int]] = []  # (receive time, flush lsn)
        self.starts: list[tuple[float, int]] = []  # (time, START_REPLICATION lsn)
        self.slots: set[str] = set()
        self._status_lock = threading.Lock()
        self._build(backlog + max_txns)

    def _build(self, n: int) -> None:
        for i in range(n):
            for j, (line, _rel, _op) in enumerate(corpus.wire_txn(self.seed, i)):
                self.frames.append((corpus.wire_msg_lsn(i, j), line.encode()))
            self.commit_idx.append(len(self.frames))
            self.commit_lsn.append(corpus.wire_commit_lsn(i))

    # ----------------------------------------------------------- schedule
    def start_schedule(self) -> None:
        with self.cond:
            if self.start_t is not None:
                return
            self.start_t = time.monotonic()
            for _ in range(self.backlog):
                self.due.append(self.start_t)
                self.late.append(0.0)
            self.released_txns = self.backlog
            self.released = self.commit_idx[self.backlog - 1] if self.backlog else 0
            self.cond.notify_all()
        threading.Thread(target=self._schedule, daemon=True).start()

    def _schedule(self) -> None:
        i = 0
        while not self.halt.is_set() and self.backlog + i < len(self.commit_idx):
            due = self.start_t + i / self.rate
            wait = due - time.monotonic()
            if wait > 0:
                self.halt.wait(wait)
                if self.halt.is_set():
                    return
            now = time.monotonic()
            with self.cond:
                self.due.append(due)
                self.late.append(now - due)
                self.released_txns += 1
                self.released = self.commit_idx[self.backlog + i]
                self.cond.notify_all()
            i += 1

    def current_lsn(self) -> int:
        with self.cond:
            k = self.released
        return self.frames[k - 1][0] if k else corpus.LSN_BASE

    # ------------------------------------------------------------ serving
    def serve(self, srv: socket.socket) -> None:
        while not self.stop_event.is_set():
            try:
                sock, _ = srv.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(sock,), daemon=True).start()

    def _handle(self, sock: socket.socket) -> None:
        rd = _Reader(sock)
        try:
            self._session(sock, rd)
        except (ConnectionError, OSError):
            pass
        finally:
            try:
                sock.close()
            except OSError:
                pass

    def _startup(self, sock: socket.socket, rd: _Reader) -> None:
        while True:
            (ln,) = struct.unpack(">I", rd.exact(4))
            body = rd.exact(ln - 4)
            (code,) = struct.unpack(">I", body[:4])
            if code == SSL_REQUEST:
                sock.sendall(b"N")
                continue
            if code != PROTO_V3:
                raise ConnectionError(f"unsupported protocol {code}")
            break
        sock.sendall(
            msg(b"R", struct.pack(">I", 0))
            + msg(b"S", b"server_version\x0016.3\x00")
            + msg(b"K", struct.pack(">II", 4242, 7))
            + msg(b"Z", b"I")
        )

    @staticmethod
    def _rows(cols: list[bytes], rows: list[list[bytes]], tag: bytes) -> bytes:
        rd = struct.pack(">H", len(cols))
        for c in cols:
            rd += c + b"\x00" + struct.pack(">IHIHIH", 0, 0, 25, 65535, 0, 0)
        out = msg(b"T", rd)
        for vals in rows:
            dr = struct.pack(">H", len(vals))
            for v in vals:
                dr += struct.pack(">i", len(v)) + v
            out += msg(b"D", dr)
        return out + msg(b"C", tag + b"\x00") + msg(b"Z", b"I")

    def _session(self, sock: socket.socket, rd: _Reader) -> None:
        self._startup(sock, rd)
        while True:
            t, body = rd.typed()
            if t == b"X":
                return
            if t != b"Q":
                raise ConnectionError(f"unexpected message {t!r}")
            sql = body.rstrip(b"\x00").decode()
            if sql == "IDENTIFY_SYSTEM":
                sock.sendall(
                    self._rows(
                        [b"systemid", b"timeline", b"xlogpos", b"dbname"],
                        [[b"7000000000000000042", b"1",
                          corpus.lsn_hex(self.current_lsn()).encode(), b"bench"]],
                        b"IDENTIFY_SYSTEM",
                    )
                )
            elif sql.startswith("CREATE_REPLICATION_SLOT"):
                slot = sql.split()[1]
                if slot in self.slots:
                    sock.sendall(
                        msg(b"E", b"SERROR\x00C42710\x00Mslot exists\x00\x00")
                        + msg(b"Z", b"I")
                    )
                else:
                    self.slots.add(slot)
                    sock.sendall(msg(b"C", b"CREATE_REPLICATION_SLOT\x00") + msg(b"Z", b"I"))
            elif sql.startswith("SELECT plugin"):
                two_col = sql.startswith("SELECT plugin, two_phase")
                cols = [b"plugin", b"two_phase"] if two_col else [b"plugin"]
                vals = [b"test_decoding", b"f"] if two_col else [b"test_decoding"]
                sock.sendall(self._rows(cols, [vals], b"SELECT 1"))
            elif sql.startswith("START_REPLICATION"):
                start_lsn = corpus.lsn_from_hex(sql.split()[4])
                with self._status_lock:
                    self.starts.append((time.monotonic(), start_lsn))
                sock.sendall(msg(b"W", struct.pack(">BH", 0, 0)))
                self.start_schedule()
                self._stream(sock, rd, start_lsn)
                return
            else:
                sock.sendall(
                    msg(b"E", b"SERROR\x00C42601\x00Munsupported\x00\x00") + msg(b"Z", b"I")
                )

    def _stream(self, sock: socket.socket, rd: _Reader, start_lsn: int) -> None:
        closed = threading.Event()

        def read_status() -> None:
            try:
                while True:
                    t, body = rd.typed()
                    if t in (b"c", b"X"):
                        break
                    if t == b"d":
                        flushed = parse_status(body)
                        if flushed is not None:
                            with self._status_lock:
                                self.status.append((time.monotonic(), flushed))
            except (ConnectionError, OSError):
                pass
            closed.set()
            with self.cond:
                self.cond.notify_all()

        reader = threading.Thread(target=read_status, daemon=True)
        reader.start()
        lsns = [f[0] for f in self.frames]  # sorted
        cursor = bisect.bisect_left(lsns, start_lsn)
        while not closed.is_set():
            with self.cond:
                while (
                    cursor >= self.released
                    and not closed.is_set()
                    and not self.stop_event.is_set()
                ):
                    self.cond.wait(0.2)
                end = min(self.released, cursor + 256)
            if self.stop_event.is_set() and cursor >= end:
                break
            if cursor < end:
                wal_end = self.frames[end - 1][0]
                sock.sendall(
                    b"".join(
                        xlogdata(lsn, wal_end, payload)
                        for lsn, payload in self.frames[cursor:end]
                    )
                )
                cursor = end
        reader.join(timeout=5)

    # ---------------------------------------------------------- progress
    def flush_max(self) -> int:
        with self._status_lock:
            return max((f for _t, f in self.status), default=0)

    def catchup_time(self) -> float | None:
        """First status update covering the last backlog COMMIT."""
        if not self.backlog:
            return self.start_t
        with self._status_lock:
            return ack_lookup(self.status)(self.commit_lsn[self.backlog - 1])

    def log(self, window: tuple[float, float] | None) -> dict:
        catchup = self.catchup_time()
        with self.cond, self._status_lock:
            n = self.released_txns
            return {
                "seed": self.seed,
                "backlog": self.backlog,
                "rate": self.rate,
                "start": self.start_t,
                "window": list(window) if window else None,
                "catchup": catchup,
                "txns": [
                    [self.due[i], self.commit_lsn[i]] for i in range(n)
                ],
                "late_max_s": max(self.late[self.backlog:n], default=0.0),
                "status": [list(s) for s in self.status],
                "starts": [list(s) for s in self.starts],
                "backlog_msgs": self.commit_idx[self.backlog - 1] if self.backlog else 0,
            }


def ack_lookup(status):
    """``lsn -> time`` of the first status update whose flush LSN is at
    or past ``lsn`` (None if none is). ``status = [(t, flush_lsn)]`` in
    arrival order; a lower flush LSN after a higher one (a reconnect
    re-reporting) does not count, so the lookup runs over the running
    maximum."""
    times, runmax = [], []
    top = -1
    for t, flush in status:
        top = max(top, flush)
        times.append(t)
        runmax.append(top)

    def first(lsn: int):
        k = bisect.bisect_left(runmax, lsn)
        return times[k] if k < len(times) else None

    return first


def join_latencies(txns, status, delivered):
    """Per-transaction latencies from the generator's logs.

    ``txns[i] = (due, commit_lsn)``; ``status = [(t, flush_lsn)]`` in
    arrival order; ``delivered[i]`` = delivery stamp of transaction
    ``i``'s last envelope (absent if never delivered). Returns
    ``[(deliver_s | None, ack_s | None)]`` measured from ``due``: the
    ack is the first status update whose flush LSN is at or past the
    COMMIT."""
    acked = ack_lookup(status)
    out = []
    for i, (due, commit) in enumerate(txns):
        a, d = acked(commit), delivered.get(i)
        out.append((None if d is None else d - due, None if a is None else a - due))
    return out


def window_done(ws: Walsender, window: tuple[float, float]) -> bool:
    """Every transaction scheduled inside the window is acked."""
    lo, hi = window
    last = None
    with ws.cond:
        for i in range(ws.backlog, ws.released_txns):
            if lo <= ws.due[i] < hi:
                last = i
        if not ws.due or ws.due[-1] < hi:
            return False  # the window has not been fully scheduled yet
    return last is None or ws.flush_max() >= ws.commit_lsn[last]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench.walsender")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--backlog", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--block-txns", type=int, required=True,
                   help="align the window start to multiples of this many txns")
    p.add_argument("--timeout", type=float, required=True,
                   help="limit on catch-up and on each window transaction's ack (s)")
    p.add_argument("--deadline", type=float, required=True,
                   help="hard limit on the process lifetime (s)")
    p.add_argument("--log", required=True)
    a = p.parse_args(argv)

    born = time.monotonic()
    max_txns = int(a.rate * (a.deadline + 5))
    ws = Walsender(a.seed, a.backlog, a.rate, max_txns)
    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    threading.Thread(target=ws.serve, args=(srv,), daemon=True).start()
    print(f"PORT {srv.getsockname()[1]}", flush=True)

    window = None
    timed_out = False
    while time.monotonic() - born < a.deadline:
        time.sleep(0.05)
        if window is None:
            t = ws.catchup_time()
            if t is None and ws.start_t is not None and time.monotonic() > ws.start_t + a.timeout:
                t = ws.start_t + a.timeout  # catch-up never came
            if t is not None:
                # live txn j is due at start + j / rate; the stream's txn
                # index is backlog + j
                j = max(0, math.ceil((t - ws.start_t) * a.rate))
                while (a.backlog + j) % a.block_txns:
                    j += 1
                w0 = ws.start_t + j / a.rate
                window = (w0, w0 + a.seconds)
                print(f"WINDOW {window[0]:.6f} {window[1]:.6f}", flush=True)
            continue
        if window_done(ws, window):
            break
        if time.monotonic() > window[1] + a.timeout:
            timed_out = True
            break
    print("DONE timeout" if timed_out or window is None else "DONE", flush=True)

    # hold the stream open (no new commits) until the benchmark has
    # stopped its query, so the client sees an idle stream, not a reset
    ws.halt.set()
    stopper = threading.Thread(target=sys.stdin.readline, daemon=True)
    stopper.start()
    stopper.join(timeout=max(1.0, a.deadline + 15 - (time.monotonic() - born)))
    ws.stop_event.set()
    with ws.cond:
        ws.cond.notify_all()
    srv.close()
    with open(a.log, "w") as f:
        json.dump(ws.log(window), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
