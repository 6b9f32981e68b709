"""The load generator's framing and the latency join, on a scripted
10-transaction run. No Spark: the client is the package's own wire
client, so the frames are checked by the code that parses them in
production.

    python3 -m pytest perfbench/test_walsender.py -q
"""

from __future__ import annotations

import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus  # noqa: E402
from perfbench.walsender import Walsender, join_latencies  # noqa: E402
from pg_bifrost_spark.sources.pgwire import WireConnection  # noqa: E402
from pg_bifrost_spark.sources.protocol import XLogData  # noqa: E402

SEED = 4


def _serve(ws: Walsender):
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    threading.Thread(target=ws.serve, args=(srv,), daemon=True).start()
    return srv, srv.getsockname()[1]


def test_scripted_run_framing_and_status_log():
    ws = Walsender(SEED, backlog=10, rate=100.0, max_txns=0)
    srv, port = _serve(ws)
    conn = WireConnection(host="127.0.0.1", port=port, user="bench", dbname="bench")
    try:
        conn.connect()
        assert conn.identify_system()["dbname"] == "bench"
        assert conn.create_slot("s1") is True
        assert conn.create_slot("s1") is False  # 42710 + catalog probe
        conn.start_replication("s1", 0)
        frames = []
        while len(frames) < 40:
            m = conn.receive(timeout_s=5)
            assert isinstance(m, XLogData)
            frames.append((m.wal_start, m.line))
        want = [
            (corpus.wire_msg_lsn(i, j), line)
            for i in range(10)
            for j, (line, _rel, _op) in enumerate(corpus.wire_txn(SEED, i))
        ]
        assert frames == want
        t_sent = time.monotonic()
        conn.send_status(corpus.wire_commit_lsn(3))
        conn.send_status(corpus.wire_commit_lsn(9))
        deadline = time.monotonic() + 5
        while len(ws.status) < 2 and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        conn.close()
        ws.stop_event.set()
        srv.close()
    flushes = [f for _t, f in ws.status]
    assert flushes == [corpus.wire_commit_lsn(3), corpus.wire_commit_lsn(9)]
    assert all(t >= t_sent for t, _f in ws.status)
    assert ws.catchup_time() == ws.status[1][0]  # covers the last backlog COMMIT
    log = ws.log(window=None)
    assert log["backlog_msgs"] == 40 and len(log["txns"]) == 10
    assert [c for _d, c in log["txns"]] == [corpus.wire_commit_lsn(i) for i in range(10)]
    assert log["starts"][0][1] == 0


def test_latency_join():
    # 10 transactions due one second apart, commits 100 LSN apart
    txns = [(float(i), 1000 + 100 * i) for i in range(10)]
    # acks arrive out of LSN order once (a reconnect re-reports a lower
    # LSN); the join uses the running maximum
    status = [(2.5, 1150), (4.0, 1300), (4.5, 1200), (9.0, 1850), (12.0, 1880)]
    delivered = {0: 1.0, 1: 2.0, 2: 3.5, 3: 3.5, 5: 9.0, 9: 20.0}
    got = join_latencies(txns, status, delivered)
    acks = [a for _d, a in got]
    assert acks == [2.5, 1.5, 2.0, 1.0, 5.0, 4.0, 3.0, 2.0, 1.0, None]
    delivers = [d for d, _a in got]
    assert delivers == [1.0, 1.0, 1.5, 0.5, None, 4.0, None, None, None, 11.0]
