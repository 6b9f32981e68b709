"""``replay_backfill``: the ``replicate --once`` path over a replay dir.

Closed loop, one client: each timed drain gets its own fresh copy of
the seeded corpus, a new checkpoint and a new output dir, then
``drain_cdc_query`` runs admission-capped single-batch rounds into the
``exactly_once_ndjson`` sink until the backlog is empty. A fresh copy
matters: a stale ``.ack`` from the previous drain plus a new checkpoint
makes the parallel reader plan the whole acked prefix as one batch
(see NOTES.md), so reusing the dir would time a different path.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from perfbench import corpus, harness
from perfbench.harness import WORK, fresh_dir, median, pct
from perfbench.walsender import ack_lookup

N_TXNS = 8_000  # BEGIN/INSERT/COMMIT each: 24,000 messages
BUFFER = 16_000  # client buffer: two admission rounds per drain
MIN_DRAINS = 3
LIMIT_S = 60.0  # an envelope not delivered/acked by the drain counts at wall + this


class AckWatcher:
    """Polls the replay transport's ``.ack`` file (the stand-in for a
    standby status update) and records each change with its time."""

    def __init__(self, path: str, interval: float = 0.002):
        self.path = path
        self.interval = interval
        self.changes: list[tuple[float, int]] = []  # (t, acked lsn)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _read(self):
        try:
            with open(self.path) as f:
                parts = f.read().split()
        except FileNotFoundError:
            return None
        return int(parts[0]) if parts else None

    def _run(self) -> None:
        last = None
        while True:
            cur = self._read()
            if cur is not None and cur != last:
                self.changes.append((time.monotonic(), cur))
                last = cur
            if self._stop.wait(self.interval):
                break

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        cur = self._read()  # a final write between the last poll and stop
        if cur is not None and (not self.changes or self.changes[-1][1] != cur):
            self.changes.append((time.monotonic(), cur))


def _read_epochs(out_dir: str) -> dict[int, list[str]]:
    """epoch id -> envelope lines written under ``epoch=<id>/``."""
    out = {}
    for name in os.listdir(out_dir):
        if not name.startswith("epoch="):
            continue
        lines = []
        d = os.path.join(out_dir, name)
        for part in sorted(os.listdir(d)):
            if part.startswith("part-"):
                with open(os.path.join(d, part)) as f:
                    lines.extend(x for x in f.read().splitlines() if x)
        out[int(name.split("=", 1)[1])] = lines
    return out


def drain(spark, master: str, tag: str, buffer: int = BUFFER) -> dict:
    """One timed drain of a fresh copy of ``master``. Returns timings,
    the ack log, the epochs' delivery times and the output location."""
    from pg_bifrost_spark.sinks.writers import exactly_once_ndjson
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    base = fresh_dir(os.path.join("replay", tag))
    wal = os.path.join(base, "wal")
    shutil.copytree(master, wal)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    delivered: dict[int, float] = {}

    def sink(df, epoch_id):
        exactly_once_ndjson(df, epoch_id, out)
        delivered[epoch_id] = time.monotonic()

    watcher = AckWatcher(os.path.join(wal, ".ack"))
    t0 = time.monotonic()
    rounds = drain_cdc_query(
        spark, sink, ckpt, source_options={"wal_dir": wal, "max_msgs_per_batch": str(buffer)}
    )
    t1 = time.monotonic()
    watcher.stop()
    return {
        "base": base, "wal": wal, "out": out, "ckpt": ckpt, "t0": t0, "t1": t1,
        "rounds": rounds, "acks": watcher.changes, "delivered": delivered,
    }


def prepare(seed: int) -> dict:
    shutil.rmtree(os.path.join(WORK, "replay"), ignore_errors=True)
    master = os.path.join(WORK, "replay", "corpus")
    corpus.write_replay_files(master, corpus.replay_msgs(seed, N_TXNS))
    manifest = corpus.replay_manifest(seed, N_TXNS)
    warm = os.path.join(WORK, "replay", "warm-corpus")
    # the warm-up drains a corpus of the measured size, so the JIT has
    # compiled the full-batch paths before the first timed drain
    corpus.write_replay_files(warm, corpus.replay_msgs(seed + 2, N_TXNS))
    return {"master": master, "manifest": manifest, "warm": warm}


def warmup(spark, warm_dir: str) -> None:
    d = drain(spark, warm_dir, "warm")
    shutil.rmtree(d["base"], ignore_errors=True)


def evaluate(d: dict, manifest: dict) -> dict:
    """Check one drain's output and turn its logs into latencies, one
    per INSERT of the manifest. An envelope the drain did not deliver
    (ack) counts at the drain's wall time plus LIMIT_S, so the defect
    shows in the percentiles and a fix moves them down."""
    epochs = _read_epochs(d["out"])
    lines = [x for ls in epochs.values() for x in ls]
    check = corpus.check_replay_output(lines, manifest)
    final_ack = d["acks"][-1][1] if d["acks"] else 0
    # every message past the final .ack failed (messages are LSN_STEP apart)
    past = (
        max(0, (manifest["last_lsn"] - final_ack) // corpus.LSN_STEP)
        if d["acks"] else manifest["n_msgs"]
    )
    failed = check["missing"] + check["duplicate"] + check["wrong"] + past
    wall = d["t1"] - d["t0"]
    delivered_at = {}  # lsn hex -> sink call returned
    for epoch, ls in epochs.items():
        td = d["delivered"].get(epoch)
        for raw in ls:
            if td is not None:
                delivered_at[raw[raw.index('"lsn":"') + 7 :].split('"', 1)[0]] = td
    acked = ack_lookup(d["acks"])
    deliver, ack = [], []
    for key in manifest["expected"]:
        td, ta = delivered_at.get(key), acked(corpus.lsn_from_hex(key))
        deliver.append(wall + LIMIT_S if td is None else td - d["t0"])
        ack.append(wall + LIMIT_S if ta is None else ta - d["t0"])
    return {
        "wall_s": wall,
        "msgs_per_s": manifest["n_msgs"] / wall,
        "deliver_p50": pct(deliver, 50),
        "deliver_p99": pct(deliver, 99),
        "ack_p50": pct(ack, 50),
        "ack_p99": pct(ack, 99),
        "failed": failed,
        "check": check,
        "final_ack": final_ack,
    }


def measure(spark, inputs: dict, seconds: float, listener) -> dict:
    """Closed loop of fresh drains for ``seconds`` (at least
    MIN_DRAINS). End-to-end metrics are medians over drains."""
    manifest = inputs["manifest"]
    drains, evals = [], []
    gaps = []
    t_stop = time.monotonic() + seconds
    prev_end = None
    while len(drains) < MIN_DRAINS or time.monotonic() < t_stop:
        if prev_end is not None:
            gaps.append(time.monotonic() - prev_end)
        d = drain(spark, inputs["master"], f"drain{len(drains)}")
        prev_end = time.monotonic()
        drains.append(d)
        evals.append(evaluate(d, manifest))
    attempted = manifest["n_msgs"] * len(drains)
    failed = sum(e["failed"] for e in evals)
    metrics = {
        "backlog_msgs_per_s": median(e["msgs_per_s"] for e in evals),
        "deliver_p50_s": median(e["deliver_p50"] for e in evals),
        "deliver_p99_s": median(e["deliver_p99"] for e in evals),
        "ack_p50_s": median(e["ack_p50"] for e in evals),
        "ack_p99_s": median(e["ack_p99"] for e in evals),
    }
    return {
        "metrics": metrics, "attempted": attempted, "failed": failed,
        "drains": drains, "evals": evals, "gaps": gaps,
    }


def run(seed: int, seconds: float, trace: bool) -> dict:
    inputs = prepare(seed)
    with harness.RssSampler() as rss:
        spark, setup = harness.start_session(lambda s: warmup(s, inputs["warm"]))
        listener = harness.progress_listener(spark)
        m = measure(spark, inputs, seconds, listener)
        for d, e in zip(m["drains"], m["evals"]):
            harness.note(f"drain {e['wall_s']:.2f}s rounds={d['rounds']} check={e['check']} "
                         f"final_ack={e['final_ack']:#x} last_lsn={inputs['manifest']['last_lsn']:#x}")
        correct = all(
            e["check"]["missing"] == e["check"]["duplicate"] == e["check"]["wrong"] == 0
            for e in m["evals"]
        )
        if trace:
            from perfbench import layers

            values = layers.replay_layers(
                spark, seed, inputs, m, listener, setup, lambda s: warmup(s, inputs["warm"])
            )
            correct = correct and not values.pop("_analytics_mismatches")
            metrics = layers.to_metrics(values)
        spark.stop()
    if not trace:
        vals = dict(m["metrics"], setup_s=setup["setup_s"], peak_rss_mb=rss.peak_mb)
        units = {x["name"]: x["unit"] for x in harness.load_contract()["end_to_end"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
    return {
        "correct": correct,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }
