"""Per-layer metrics for the traced run (``--trace 1``).

Two sources, both outside the program:

* the workload's own run, read through Spark's public progress
  (``StreamingQueryProgress.durationMs``), the public status tracker
  (jobs/stages/tasks of the query's job group) and the status store
  (executor time), plus the benchmark's own logs (acks, captures, the
  load generator);
* probes that time calls into each module's public functions over one
  persisted batch of the workload's input: the CDC stage ladder, the
  two sinks, a cold replay-transport load, a ``local[1]`` drain for the
  parallel speed-up, and the analytics queries.

Every metric is reported for both workloads; where one is structurally
constant for a workload (``sources.reconnects`` on replay) the constant
is measured, not assumed. NOTES.md gives each definition.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import time

from perfbench import analytics, corpus, harness
from perfbench.capture import CaptureTransport, read_captures
from perfbench.harness import CPUS, fresh_dir, median, note, wall_to_mono
from perfbench.walsender import ack_lookup

LADDER_TXNS = {"replay_backfill": 10_000, "wire_tail": 5_000}  # 30k / 20k messages
REPS = 2


def _offset_lsn(raw) -> int:
    if isinstance(raw, str):
        try:
            raw = json.loads(raw)
        except ValueError:
            raw = ast.literal_eval(raw)
    return int(raw["lsn"])


def _batch_end(p: dict) -> float:
    """Monotonic time at which the batch's ``latestOffset`` returned."""
    return wall_to_mono(p["timestamp"]) + p["durationMs"].get("latestOffset", 0) / 1000.0


def _commit_time(ckpt: str, batch_id: int):
    path = os.path.join(ckpt, "commits", str(batch_id))
    try:
        wall = os.stat(path).st_mtime
    except FileNotFoundError:
        return None
    return wall - (time.time() - time.monotonic())


def _timed(action, reps: int = REPS) -> float:
    """Median wall time of ``action()`` in ms."""
    times = []
    for i in range(reps):
        t0 = time.perf_counter()
        action(i)
        times.append(time.perf_counter() - t0)
    return median(times) * 1000.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def streaming_metrics(batches: list[dict]) -> dict:
    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return median(vals) if vals else 0.0

    return {
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.offset_log_ms_p50": p50("walCommit"),
        "streaming.commit_log_ms_p50": p50("commitOffsets"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.msgs_per_batch_p50": median(p["numInputRows"] for p in batches) if batches else 0,
    }


def cdc_and_sink_probes(spark, rows: list[tuple], cfg) -> dict:
    """Stage ladder over one persisted batch, then both sinks over its
    marshalled output. Each figure is the median of REPS ``noop``
    writes (sinks: the sink call minus the ``noop`` write of the same
    persisted batch)."""
    from pyspark.sql import functions as F

    from pg_bifrost_spark.cdc.fastparse import jvm_parse, jvm_parseable
    from pg_bifrost_spark.cdc.parser import PARSED_ASSEMBLED_SCHEMA_DDL, parse_lines_to_pandas
    from pg_bifrost_spark.cdc.pipeline import filter_partition, run_pipeline_assembled
    from pg_bifrost_spark.cdc.marshaller import marshal
    from pg_bifrost_spark.sinks.writers import exactly_once_ndjson, kinesis_writer
    from pg_bifrost_spark.sources.pgcdc import PGCDC_SCHEMA

    batch = spark.createDataFrame(rows, PGCDC_SCHEMA).persist()
    n_lines = batch.count()
    able = jvm_parseable(F.col("line"))
    fast = jvm_parse(batch.filter(able), passthrough=["txn_id", "time_based_key"])
    slow = batch.filter(~able).mapInPandas(
        parse_lines_to_pandas, schema=PARSED_ASSEMBLED_SCHEMA_DDL
    )
    out = {
        "cdc.parse_fast_ms": _timed(lambda _i: _noop(fast)),
        "cdc.parse_fallback_ms": _timed(lambda _i: _noop(slow)),
        "cdc.fallback_share": batch.filter(~able).count() / n_lines,
    }
    parsed = (
        fast.drop("txn_xid")
        .unionByName(slow.drop("txn_xid"))
        .filter(F.col("parse_error").isNull())
        .persist()
    )
    n_parsed = parsed.count()
    fp = filter_partition(parsed, cfg)
    out["cdc.filter_partition_ms"] = _timed(lambda _i: _noop(fp))
    fp = fp.persist()
    out["cdc.filtered_out_share"] = 1.0 - fp.count() / n_parsed
    out["cdc.marshal_ms"] = _timed(lambda _i: _noop(marshal(fp, cfg.no_marshal_old_value)))
    out["cdc.pipeline_ms"] = _timed(lambda _i: _noop(run_pipeline_assembled(batch, cfg)))

    env = marshal(fp, cfg.no_marshal_old_value).persist()
    env.count()
    base_ms = _timed(lambda _i: _noop(env))
    file_dir = fresh_dir("probe/file")
    out["sinks.file_write_ms"] = _timed(
        lambda i: exactly_once_ndjson(env, i, file_dir)
    ) - base_ms
    cap_dir = fresh_dir("probe/kinesis")
    write = kinesis_writer("perfbench", spread_keys=False, transport=CaptureTransport(cap_dir))
    out["sinks.kinesis_write_ms"] = _timed(lambda i: write(env, i)) - base_ms
    out["_probe_put_calls"] = read_captures(cap_dir)[1] / REPS
    for df in (env, fp, parsed, batch):
        df.unpersist()
    return out


def parallel_speedup(spark, seed: int, setup_warmup):
    """One replay drain of a probe corpus half the workload's size at
    ``local[CPUS]`` (this session) and at ``local[1]`` (a restarted
    session). Returns the
    ratio local[1] / local[CPUS] and leaves the local[1] session up."""
    from perfbench import replay
    from pg_bifrost_spark.session import get_spark

    master = os.path.join(harness.WORK, "probe", "speedup-corpus")
    shutil.rmtree(master, ignore_errors=True)
    corpus.write_replay_files(master, corpus.replay_msgs(seed + 3, replay.N_TXNS // 2))
    wall_n = _drain_wall(spark, master, "speedup-n")
    spark.stop()
    spark = get_spark(app_name="perfbench-local1", master="local[1]", extra_conf=harness.spark_conf())
    setup_warmup(spark)
    wall_1 = _drain_wall(spark, master, "speedup-1")
    spark.stop()
    note(f"parallel speed-up drain: local[{CPUS}] {wall_n:.2f}s, local[1] {wall_1:.2f}s")
    return wall_1 / wall_n


def _drain_wall(spark, master: str, tag: str) -> float:
    from perfbench import replay

    d = replay.drain(spark, master, tag)
    shutil.rmtree(d["base"], ignore_errors=True)
    return d["t1"] - d["t0"]


def replay_load_s(wal_dir: str) -> float:
    """Cold ``ReplayTransport(dir).current_end()`` on a fresh copy."""
    from pg_bifrost_spark.sources.pgcdc import ReplayTransport

    copy = os.path.join(harness.WORK, "probe", "load-copy")
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(wal_dir, copy)
    t0 = time.perf_counter()
    ReplayTransport(copy).current_end()
    took = time.perf_counter() - t0
    shutil.rmtree(copy, ignore_errors=True)
    return took


def spark_metrics(spark, run_ids: list[str], n_batches: int, wall_s: float, per: int) -> dict:
    prof = harness.job_profile(spark, run_ids)
    n = max(n_batches, 1)
    run_s, cpu_s = prof["executor_run_s"], prof["executor_cpu_s"]
    return {
        "spark.jobs_per_batch": prof["jobs"] / n,
        "spark.stages_per_batch": prof["stages"] / n,
        "spark.tasks_per_batch": prof["tasks"] / n,
        "spark.executor_run_s": None if run_s is None else run_s / per,
        "spark.executor_cpu_s": None if cpu_s is None else cpu_s / per,
        "spark.busy_share": None if run_s is None else run_s / (wall_s * CPUS),
    }


def finish(spark, seed: int, values: dict, warmup) -> dict:
    """Shared probes (analytics, speed-up last since it restarts the
    session), then attach units from BENCHMARK.json."""
    an = analytics.probe(spark, seed)
    values.update(an["metrics"])
    values["_analytics_mismatches"] = an["mismatches"]
    note("analytics probe done")
    values["spark.parallel_speedup"] = parallel_speedup(spark, seed, warmup)
    return values


def to_metrics(values: dict) -> dict:
    units = {m["name"]: m["unit"] for m in harness.load_contract()["per_layer"]}
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


# ---------------------------------------------------------------------------
# per workload
# ---------------------------------------------------------------------------
def replay_txns(inputs: dict) -> int:
    return inputs["manifest"]["n_msgs"] // 3  # BEGIN, INSERT, COMMIT


def replay_layers(spark, seed, inputs, m, listener, setup, warmup) -> dict:
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig

    v = {"session.spark_start_s": setup["spark_start_s"], "session.warmup_s": setup["warmup_s"]}
    started = dict((rid, t) for t, rid in listener.started)
    ended = dict((rid, t) for t, rid in listener.terminated)
    batches, run_ids, fill, aac, starts, acks_n = [], [], [], [], [], []
    for d in m["drains"]:
        acked = ack_lookup(d["acks"])
        # assign events to drains by time: the listener bus is async
        prog = [
            p for p in harness.batch_progress(listener.progress)
            if d["t0"] <= wall_to_mono(p["timestamp"]) <= d["t1"]
        ]
        batches += prog
        run_ids += [rid for t, rid in listener.started if d["t0"] <= t <= d["t1"] + 1.0]
        for p in prog:
            end_t = _batch_end(p)
            # every message of the backlog is there at drain start; weight
            # the batch's wait by its size (per thousand messages)
            fill += [end_t - d["t0"]] * max(1, p["numInputRows"] // 1000)
            ct = _commit_time(d["ckpt"], p["batchId"])
            at = acked(_offset_lsn(p["sources"][0]["endOffset"]))
            if ct is not None and at is not None:
                aac.append(at - ct)
            if p["runId"] in started and p["runId"] in ended:
                starts.append(ended[p["runId"]] - started[p["runId"]]
                              - p["durationMs"]["triggerExecution"] / 1000.0)
        acks_n.append(len(d["acks"]))
    v.update(streaming_metrics(batches))
    walls = [e["wall_s"] for e in m["evals"]]
    v["streaming.rounds"] = median(d["rounds"] for d in m["drains"])
    v["streaming.query_start_s_p50"] = median(starts) if starts else None
    v["sources.replay_load_s"] = replay_load_s(inputs["master"])
    v["sources.fill_wait_s_p50"] = median(fill) if fill else None
    v["sources.ack_after_commit_s_p50"] = median(aac) if aac else None
    v["sources.status_updates"] = median(acks_n)
    v["sources.reconnects"] = 0  # a replay dir has no connection to lose
    rows = corpus.source_rows(corpus.replay_msgs(seed, LADDER_TXNS["replay_backfill"]))
    probes = cdc_and_sink_probes(spark, rows, PipelineConfig())
    v["sinks.put_calls"] = probes.pop("_probe_put_calls")
    v.update(probes)
    v["sinks.retried_records"] = 0  # the capture transport never fails a record
    delivered = sum(e["check"]["delivered"] for e in m["evals"])
    v["sinks.duplicate_share"] = sum(e["check"]["duplicate"] for e in m["evals"]) / max(delivered, 1)
    v.update(spark_metrics(spark, run_ids, len(batches), sum(walls), len(m["drains"])))
    v["gen.sent_txns"] = replay_txns(inputs) * len(m["drains"])
    v["gen.late_ms_max"] = max(m["gaps"], default=0.0) * 1000.0
    note("replay layers read")
    return finish(spark, seed, v, warmup)


def wire_layers(spark, seed, s, ev, listener, setup, warmup) -> dict:
    from perfbench import wire

    log = s["log"]
    v = {"session.spark_start_s": setup["spark_start_s"], "session.warmup_s": setup["warmup_s"]}
    batches = [p for p in harness.batch_progress(listener.progress) if p["runId"] == s["run_id"]]
    v.update(streaming_metrics(batches))
    v["streaming.rounds"] = 1  # one continuous query
    started = [t for t, rid in listener.started if rid == s["run_id"]]
    first = min((wall_to_mono(p["timestamp"]) for p in batches), default=None)
    v["streaming.query_start_s_p50"] = (first - started[0]) if started and first else None

    status = [tuple(x) for x in log["status"]]
    acked = ack_lookup(status)
    ends = sorted((_offset_lsn(p["sources"][0]["endOffset"]), _batch_end(p), p["batchId"])
                  for p in batches)
    # per window transaction: (fill wait, trigger processing,
    # ack-after-commit) of the batch that carried its COMMIT
    by_id = {p["batchId"]: p for p in batches}
    txns = log["txns"]
    comp = []
    for i in ev["window_txns"]:
        due, commit = txns[i]
        for end_lsn, end_t, bid in ends:
            if end_lsn >= commit:
                d = by_id[bid]["durationMs"]
                ct = _commit_time(s["ckpt"], bid)
                at = acked(end_lsn)
                comp.append((
                    end_t - due,
                    (d["triggerExecution"] - d.get("latestOffset", 0)) / 1000.0,
                    None if ct is None or at is None else at - ct,
                ))
                break
    fill = [c[0] for c in comp]
    proc = [c[1] for c in comp]
    aac = [c[2] for c in comp if c[2] is not None]
    v["sources.fill_wait_s_p50"] = median(fill) if fill else None
    v["sources.ack_after_commit_s_p50"] = median(aac) if aac else None
    v["sources.status_updates"] = len(status)
    v["sources.reconnects"] = max(len(log["starts"]) - 1, 0)
    probe_dir = fresh_dir("probe/wire-replay")
    corpus.write_replay_files(probe_dir, corpus.wire_msgs(seed, wire.BACKLOG_TXNS))
    v["sources.replay_load_s"] = replay_load_s(probe_dir)

    rows = corpus.source_rows(corpus.wire_msgs(seed, LADDER_TXNS["wire_tail"]))
    probes = cdc_and_sink_probes(spark, rows, wire.pipeline_config())
    probes.pop("_probe_put_calls")
    v.update(probes)
    v["sinks.put_calls"] = s["put_calls"]
    v["sinks.retried_records"] = 0  # the capture transport never fails a record
    v["sinks.duplicate_share"] = ev["check"]["duplicates"] / max(ev["check"]["delivered"], 1)
    wall = (s["t_done"] - started[0]) if started else 1.0
    v.update(spark_metrics(spark, [s["run_id"]], len(batches), wall, 1))
    v["gen.sent_txns"] = len(txns)
    v["gen.late_ms_max"] = log["late_max_s"] * 1000.0

    if fill and aac and ev["ack"]:
        # where the ack latency goes (stderr, for NOTES.md)
        from perfbench.harness import pct

        parts = median(fill) + median(proc) + median(aac)
        ack50 = pct(ev["ack"], 50)
        note(
            f"ack decomposition: fill_wait {median(fill):.3f}s + trigger processing "
            f"{median(proc):.3f}s + ack_after_commit {median(aac):.3f}s = {parts:.3f}s "
            f"vs ack_p50 {ack50:.3f}s (residual {ack50 - parts:+.3f}s)"
        )
    note("wire layers read")
    return finish(spark, seed, v, warmup)
