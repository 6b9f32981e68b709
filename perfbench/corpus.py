"""Seeded inputs for the CDC workloads, and the checks on their output.

Everything here is a pure function of ``seed`` and the sizes, so the
benchmark process and the walsender process build the same stream
independently and the program under test only ever sees the generated
bytes (replay files, or protocol frames).

Two inputs:

* ``replay_msgs`` - lineitem-shaped single-INSERT transactions
  (BEGIN, INSERT, COMMIT), every DML line inside the JVM fast-path
  grammar.
* ``wire_txn`` - the mixed DML stream the walsender serves: five tables,
  INSERT / UPDATE with old-key / DELETE, unchanged-TOAST values, a
  quoted-identifier table (routes to the Python fallback parser) and a
  blacklisted audit table.

Either stream is a sequence of messages ``(lsn, server_time_ms, xid,
line)``; ``write_replay_files`` writes one as replay-transport
``*.jsonl`` files and ``source_rows`` turns one into source rows.
"""

from __future__ import annotations

import itertools
import json
import os
import random

LSN_BASE = 0x1_0000_0000  # start past the 4 GiB line so LSNs print as "1/..."
LSN_STEP = 64
TIME_BASE_MS = 1_700_000_000_000

BLACKLISTED = "public.audit_log"
QUOTED = 'public."Order Notes"'

_FLAGS = ("A", "N", "R")
_STATUS = ("F", "O")


def lsn_hex(lsn: int) -> str:
    """Postgres "X/X" form, as the marshaller renders ``lsn``."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


# ---------------------------------------------------------------------------
# replay corpus (replay_backfill)
# ---------------------------------------------------------------------------
def _lineitem_line(rng: random.Random, orderkey: int) -> str:
    vals = {
        "l_orderkey": orderkey,
        "l_partkey": rng.randrange(200_000),
        "l_suppkey": rng.randrange(10_000),
        "l_linenumber": rng.randrange(1, 8),
        "l_quantity": float(rng.randrange(1, 51)),
        "l_extendedprice": round(rng.uniform(900.0, 105_000.0), 2),
        "l_discount": rng.randrange(11) / 100,
        "l_tax": rng.randrange(9) / 100,
        "l_returnflag": rng.choice(_FLAGS),
        "l_linestatus": rng.choice(_STATUS),
        "l_shipdate": f"199{rng.randrange(2, 9)}-{rng.randrange(1, 13):02d}-"
        f"{rng.randrange(1, 29):02d} 00:00:00",
    }
    return (
        "table public.lineitem: INSERT: "
        f"l_orderkey[bigint]:{vals['l_orderkey']} "
        f"l_partkey[bigint]:{vals['l_partkey']} "
        f"l_suppkey[bigint]:{vals['l_suppkey']} "
        f"l_linenumber[integer]:{vals['l_linenumber']} "
        f"l_quantity[double precision]:{vals['l_quantity']} "
        f"l_extendedprice[double precision]:{vals['l_extendedprice']} "
        f"l_discount[double precision]:{vals['l_discount']} "
        f"l_tax[double precision]:{vals['l_tax']} "
        f"l_returnflag[character varying]:'{vals['l_returnflag']}' "
        f"l_linestatus[character varying]:'{vals['l_linestatus']}' "
        f"l_shipdate[timestamp without time zone]:'{vals['l_shipdate']}'"
    )


def replay_msg_lsn(i: int, j: int) -> int:
    """LSN of message ``j`` (BEGIN, INSERT, COMMIT) of replay transaction ``i``."""
    return LSN_BASE + (3 * i + j) * LSN_STEP


def replay_msgs(seed: int, n_txns: int):
    """Yield the replay corpus as messages ``(lsn, server_time_ms, xid,
    line)``: ``n_txns`` BEGIN/INSERT/COMMIT transactions."""
    rng = random.Random(seed)
    for i in range(n_txns):
        xid = 1000 + i
        dml = _lineitem_line(rng, seed * 10_000_000 + i)
        for j, line in enumerate((f"BEGIN {xid}", dml, f"COMMIT {xid}")):
            yield replay_msg_lsn(i, j), TIME_BASE_MS + i, xid, line


def replay_manifest(seed: int, n_txns: int) -> dict:
    """What a drain of ``replay_msgs(seed, n_txns)`` must deliver: every
    INSERT's LSN (hex) with its ``l_orderkey``, the last LSN, and the
    message count."""
    return {
        "expected": {
            lsn_hex(replay_msg_lsn(i, 1)): seed * 10_000_000 + i for i in range(n_txns)
        },
        "last_lsn": replay_msg_lsn(n_txns - 1, 2),
        "n_msgs": 3 * n_txns,
    }


LINES_PER_FILE = 60_000  # a multiple of both transaction sizes (3 and 4 messages)


def write_replay_files(out_dir: str, msgs) -> int:
    """Write messages as replay-transport ``wal-NNNNN.jsonl`` files, no
    transaction spanning two files. Returns the message count."""
    os.makedirs(out_dir, exist_ok=True)
    it = iter(msgs)
    n = file_no = 0
    while chunk := list(itertools.islice(it, LINES_PER_FILE)):
        with open(os.path.join(out_dir, f"wal-{file_no:05d}.jsonl"), "w") as f:
            f.writelines(
                json.dumps({"wal_start": lsn, "server_time_ms": ms, "line": line}) + "\n"
                for lsn, ms, _xid, line in chunk
            )
        n += len(chunk)
        file_no += 1
    return n


def source_rows(msgs) -> list[tuple]:
    """Messages as source rows (``PGCDC_SCHEMA`` order), transaction
    identity assembled the way the reader stamps it."""
    rows, begin = [], {}
    for lsn, ms, xid, line in msgs:
        tbk = f"{xid}-{begin.setdefault(xid, lsn)}"
        rows.append((lsn, lsn + 8, ms, 0, line, str(xid), tbk))
    return rows


def check_replay_output(lines, manifest: dict) -> dict:
    """Compare delivered envelopes (JSON strings) with the manifest.

    Returns ``{"delivered", "missing", "duplicate", "wrong"}``: an
    envelope whose LSN is unknown or whose payload disagrees with the
    generator counts as wrong."""
    expected = manifest["expected"]
    seen: dict[str, int] = {}
    wrong = 0
    for raw in lines:
        env = json.loads(raw)
        key = env["lsn"]
        seen[key] = seen.get(key, 0) + 1
        want = expected.get(key)
        got = env["columns"]["l_orderkey"]["new"]["v"]
        if (
            want is None
            or env["table"] != "public.lineitem"
            or env["operation"] != "INSERT"
            or got != str(want)
        ):
            wrong += 1
    missing = sum(1 for k in expected if k not in seen)
    duplicate = sum(n - 1 for n in seen.values() if n > 1)
    return {
        "delivered": sum(seen.values()),
        "missing": missing,
        "duplicate": duplicate,
        "wrong": wrong,
    }


# ---------------------------------------------------------------------------
# live stream (wire_tail)
# ---------------------------------------------------------------------------
# share of DML lines per kind; the quoted-identifier table is ~5% of DML
# lines and routes to the Python fallback parser, the audit table is
# blacklisted by the pipeline
_KINDS = (
    ("customers_insert", 0.22),
    ("customers_update_key", 0.18),
    ("orders_insert", 0.18),
    ("orders_delete", 0.10),
    ("docs_update_toast", 0.17),
    ("order_notes_insert", 0.05),
    ("audit_insert", 0.10),
)
DML_PER_TXN = 2  # BEGIN + 2 DML + COMMIT = 4 messages per transaction
WIRE_XID0 = 5000


def _dml(rng: random.Random, kind: str, n: int) -> tuple[str, str, str]:
    """One DML line → (line, relation, operation)."""
    if kind == "customers_insert":
        line = (
            f"table public.customers: INSERT: id[integer]:{n} "
            f"name[text]:'cust {n}' balance[numeric]:{rng.randrange(10**6) / 100}"
        )
        return line, "public.customers", "INSERT"
    if kind == "customers_update_key":
        line = (
            f"table public.customers: UPDATE: old-key: id[integer]:{n} "
            f"new-tuple: id[integer]:{n + 1} name[text]:'it''s {n}' "
            f"balance[numeric]:{rng.randrange(10**6) / 100}"
        )
        return line, "public.customers", "UPDATE"
    if kind == "orders_insert":
        line = (
            f"table public.orders: INSERT: o_id[bigint]:{n} "
            f"o_cust[integer]:{rng.randrange(5000)} "
            f"o_total[double precision]:{round(rng.uniform(1, 5000), 2)} "
            f"o_note[character varying]:null"
        )
        return line, "public.orders", "INSERT"
    if kind == "orders_delete":
        return f"table public.orders: DELETE: o_id[bigint]:{n}", "public.orders", "DELETE"
    if kind == "docs_update_toast":
        line = (
            f"table public.docs: UPDATE: id[integer]:{n} "
            f"body[text]:unchanged-toast-datum title[text]:'rev {rng.randrange(100)}'"
        )
        return line, "public.docs", "UPDATE"
    if kind == "order_notes_insert":
        line = (
            f'table {QUOTED}: INSERT: id[integer]:{n} '
            f"note[text]:'note {n}: see ''order'' {rng.randrange(1000)}'"
        )
        return line, QUOTED, "INSERT"
    line = (
        f"table {BLACKLISTED}: INSERT: id[bigint]:{n} "
        f"actor[text]:'svc{rng.randrange(50)}' action[text]:'touch'"
    )
    return line, BLACKLISTED, "INSERT"


def wire_txn(seed: int, i: int) -> list[tuple[str, str | None, str | None]]:
    """Transaction ``i`` of the stream: [(line, relation, operation)];
    relation/operation are None on BEGIN/COMMIT. Seeded per transaction
    so either process can build any transaction on its own."""
    rng = random.Random(seed * 1_000_003 + i)
    xid = WIRE_XID0 + i
    out: list[tuple[str, str | None, str | None]] = [(f"BEGIN {xid}", None, None)]
    names = [k for k, _ in _KINDS]
    weights = [w for _, w in _KINDS]
    for j in range(DML_PER_TXN):
        kind = rng.choices(names, weights)[0]
        out.append(_dml(rng, kind, i * 10 + j))
    out.append((f"COMMIT {xid}", None, None))
    return out


def wire_msg_lsn(i: int, j: int) -> int:
    """LSN of message ``j`` of transaction ``i`` (fixed-size txns)."""
    return LSN_BASE + ((i * (DML_PER_TXN + 2)) + j) * LSN_STEP


def wire_commit_lsn(i: int) -> int:
    return wire_msg_lsn(i, DML_PER_TXN + 1)


def wire_txn_index(lsn: int) -> int:
    """Transaction index of a message LSN (inverse of ``wire_msg_lsn``)."""
    return (lsn - LSN_BASE) // (LSN_STEP * (DML_PER_TXN + 2))


def lsn_from_hex(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def wire_msgs(seed: int, n_txns: int):
    """Yield the first ``n_txns`` transactions of the wire stream as
    messages ``(lsn, server_time_ms, xid, line)``."""
    for i in range(n_txns):
        for j, (line, _rel, _op) in enumerate(wire_txn(seed, i)):
            yield wire_msg_lsn(i, j), TIME_BASE_MS + i, WIRE_XID0 + i, line
