"""``wire_tail``: the production source over the wire.

The load generator (``perfbench.walsender``, its own process) speaks the
v3 replication protocol; ``pgcdc`` connects with ``dsn=`` and trust
auth. The generator serves a backlog, then commits open-loop at a fixed
rate through the measured window and a cool-down. The pipeline runs in
continuous mode (``start_cdc_query`` with a 1 s processing-time
trigger), blacklists ``public.audit_log``, partitions by
``transaction-bucket``/8 and writes through ``kinesis_writer`` into a
capture transport that stamps each record's delivery time.
"""

from __future__ import annotations

import json
import os
import queue
import subprocess
import sys
import threading
import time

from perfbench import corpus, harness
from perfbench.capture import CaptureTransport, read_captures
from perfbench.harness import ROOT, fresh_dir, note, pct
from perfbench.walsender import join_latencies

BACKLOG_TXNS = 2_500  # 10,000 messages: five client batches
RATE = 125.0  # transactions per second: ~500 messages per second
BUFFER = 2_000  # client buffer (messages per micro-batch): a 4 s fill
TIMEOUT = 60.0  # limit on catch-up, and on each window transaction's ack/delivery
WARM_TXNS = 500  # the set-up's warm-up drain: one 2,000-message batch


def pipeline_config():
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig

    return PipelineConfig(
        blacklist=[corpus.BLACKLISTED],
        partition_method="transaction-bucket",
        partition_buckets=8,
    )


def sink(capture_dir: str):
    from pg_bifrost_spark.sinks.writers import kinesis_writer

    return kinesis_writer(
        "perfbench", spread_keys=False, transport=CaptureTransport(capture_dir)
    )


def warmup(spark, seed: int) -> None:
    """A drain of a replay copy of the stream's start through the same
    pipeline and sink."""
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    base = fresh_dir("wire/warm")
    wal = os.path.join(base, "wal")
    corpus.write_replay_files(wal, corpus.wire_msgs(seed + 7, WARM_TXNS))
    drain_cdc_query(
        spark,
        sink(os.path.join(base, "capture")),
        os.path.join(base, "ckpt"),
        cfg=pipeline_config(),
        source_options={"wal_dir": wal, "max_msgs_per_batch": str(BUFFER)},
    )


class _Lines:
    """Lines of a child's stdout, readable with a timeout."""

    def __init__(self, stream):
        self.q: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, args=(stream,), daemon=True).start()

    def _pump(self, stream) -> None:
        for line in stream:
            self.q.put(line.strip())
        self.q.put(None)

    def expect(self, prefix: str, timeout: float) -> str:
        end = time.monotonic() + timeout
        while True:
            left = end - time.monotonic()
            if left <= 0:
                raise TimeoutError(f"walsender did not say {prefix!r}")
            line = self.q.get(timeout=left)
            if line is None:
                raise RuntimeError("walsender exited early")
            if line.startswith(prefix):
                return line


def stream(spark, seed: int, seconds: float, rss) -> dict:
    """Run the generator and the continuous query; return the logs."""
    from pg_bifrost_spark.streaming.core import start_cdc_query

    base = fresh_dir("wire/run")
    log_path = os.path.join(base, "walsender.json")
    cap_dir = os.path.join(base, "capture")
    # catch-up limit, a block of alignment, the window, the ack limit
    deadline = 2 * TIMEOUT + seconds + 20.0
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "perfbench.walsender",
            "--seed", str(seed), "--backlog", str(BACKLOG_TXNS), "--rate", str(RATE),
            "--seconds", str(seconds),
            "--block-txns", str(BUFFER // (corpus.DML_PER_TXN + 2)),
            "--timeout", str(TIMEOUT), "--deadline", str(deadline), "--log", log_path,
        ],
        cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    rss.exclude.add(proc.pid)
    q = None
    try:
        lines = _Lines(proc.stdout)
        port = int(lines.expect("PORT", 60).split()[1])
        note("walsender up")
        q = start_cdc_query(
            spark,
            sink(cap_dir),
            os.path.join(base, "ckpt"),
            cfg=pipeline_config(),
            trigger_seconds=1,
            source_options={
                "dsn": f"postgres://perfbench@127.0.0.1:{port}/bench",
                "slot": "perfbench",
                "max_msgs_per_batch": str(BUFFER),
            },
        )
        note(lines.expect("WINDOW", deadline + 10))
        note(lines.expect("DONE", deadline + 10))
        t_done = time.monotonic()
    finally:
        if q is not None:
            q.stop()
        try:
            proc.stdin.write("STOP\n")
            proc.stdin.flush()
        except (BrokenPipeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    note("stream stopped")
    with open(log_path) as f:
        log = json.load(f)
    records, put_calls = read_captures(cap_dir)
    return {
        "log": log, "records": records, "put_calls": put_calls, "t_done": t_done,
        "ckpt": os.path.join(base, "ckpt"), "run_id": str(q.runId),
    }


def evaluate(seed: int, s: dict) -> dict:
    """Check the capture against the stream and derive the latencies."""
    log = s["log"]
    txns = log["txns"]
    n = len(txns)
    expected: dict[int, tuple[str, str]] = {}  # dml lsn -> (relation, op)
    blacklist_only = set()
    for i in range(n):
        dml = corpus.wire_txn(seed, i)[1:-1]
        for j, (_line, rel, op) in enumerate(dml, start=1):
            expected[corpus.wire_msg_lsn(i, j)] = (rel, op)
        if all(rel == corpus.BLACKLISTED for _l, rel, _o in dml):
            blacklist_only.add(i)
    seen: dict[int, int] = {}
    delivered: dict[int, float] = {}
    wrong = audit = 0
    for stamp, _key, text in s["records"]:
        env = json.loads(text)
        lsn = corpus.lsn_from_hex(env["lsn"])
        seen[lsn] = seen.get(lsn, 0) + 1
        if env["table"] == corpus.BLACKLISTED:
            audit += 1
        if expected.get(lsn) != (env["table"], env["operation"]):
            wrong += 1
        i = corpus.wire_txn_index(lsn)
        delivered[i] = max(delivered.get(i, stamp), stamp)
    flush_max = max((f for _t, f in log["status"]), default=0)
    missing = sum(
        1
        for lsn, (rel, _op) in expected.items()
        if rel != corpus.BLACKLISTED
        and lsn not in seen
        and corpus.wire_commit_lsn(corpus.wire_txn_index(lsn)) <= flush_max
    )
    lat = join_latencies([tuple(t) for t in txns], [tuple(x) for x in log["status"]], delivered)
    lo, hi = log["window"] or (float("inf"), float("inf"))
    deliver, ack, failed, attempted = [], [], 0, 0
    for i, (due, _commit) in enumerate(txns):
        if i < log["backlog"] or not (lo <= due < hi):
            continue
        attempted += 1
        # a transaction not acked (delivered) in time fails and counts
        # at the limit in the percentiles
        d, a = lat[i]
        bad = a is None or a > TIMEOUT
        ack.append(TIMEOUT if bad else a)
        if i not in blacklist_only:
            late = d is None or d > TIMEOUT
            deliver.append(TIMEOUT if late else d)
            bad = bad or late
        failed += bad
    # a catch-up that never came counts at the limit
    catchup = TIMEOUT if log["catchup"] is None else log["catchup"] - log["start"]
    backlog_done = [delivered[i] for i in range(log["backlog"]) if i in delivered]
    dup = sum(c - 1 for c in seen.values() if c > 1)
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": audit == 0 and wrong == 0 and missing == 0 and log["window"] is not None,
        "deliver": deliver,
        "ack": ack,
        "catchup_s": catchup,
        # last backlog envelope delivered → catch-up status update
        "catchup_ack_tail_s": (catchup - (max(backlog_done) - log["start"])
                               if backlog_done and log["catchup"] is not None else None),
        "check": {"audit_rows": audit, "wrong": wrong, "missing": missing,
                  "duplicates": dup, "delivered": sum(seen.values())},
        "window_txns": [i for i, (due, _c) in enumerate(txns)
                        if i >= log["backlog"] and lo <= due < hi],
    }


def run(seed: int, seconds: float, trace: bool) -> dict:
    with harness.RssSampler() as rss:
        spark, setup = harness.start_session(lambda sp: warmup(sp, seed))
        listener = harness.progress_listener(spark)
        s = stream(spark, seed, seconds, rss)
        ev = evaluate(seed, s)
        note(f"wire check {ev['check']} catchup_s={ev['catchup_s']} "
             f"catchup_ack_tail_s={ev['catchup_ack_tail_s']} "
             f"attempted={ev['attempted']} failed={ev['failed']}")
        correct = ev["correct"]
        if trace:
            from perfbench import layers

            values = layers.wire_layers(
                spark, seed, s, ev, listener, setup, lambda sp: warmup(sp, seed)
            )
            correct = correct and not values.pop("_analytics_mismatches")
            metrics = layers.to_metrics(values)
        spark.stop()
    if not trace:
        log = s["log"]
        vals = {
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_mb,
            "backlog_msgs_per_s": log["backlog_msgs"] / ev["catchup_s"],
            "deliver_p50_s": pct(ev["deliver"], 50),
            "deliver_p99_s": pct(ev["deliver"], 99),
            "ack_p50_s": pct(ev["ack"], 50),
            "ack_p99_s": pct(ev["ack"], 99),
        }
        units = {m["name"]: m["unit"] for m in harness.load_contract()["end_to_end"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    return {
        "correct": correct,
        "attempted": ev["attempted"],
        "failed": ev["failed"],
        "metrics": metrics,
    }
