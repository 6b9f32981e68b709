"""Kinesis capture transport for ``wire_tail``.

``kinesis_writer(..., transport=CaptureTransport(dir))`` hands every
PutRecords-sized chunk to this object inside a Spark task. Each call
writes one file holding the chunk, each record stamped with its
delivery time (``time.monotonic()``, system-wide on Linux) and its
partition key. One file per call, so the number of files is the number
of put calls. Nothing fails, so the retry path resends nothing.

Top-level class in an importable package so executors can unpickle it.
"""

from __future__ import annotations

import os
import time
import uuid


class CaptureTransport:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, batch):
        stamp = time.monotonic()
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"put-{uuid.uuid4().hex}.tsv")
        with open(path, "w") as f:
            for data, key in batch:
                text = data.decode() if isinstance(data, (bytes, bytearray)) else str(data)
                f.write(f"{stamp:.6f}\t{key}\t{text}\n")
        return []


def read_captures(out_dir: str):
    """All captured records as ``(stamp, partition_key, json_text)``,
    and the number of put calls: returns ``(records, put_calls)``."""
    records = []
    calls = 0
    if not os.path.isdir(out_dir):
        return records, calls
    for name in os.listdir(out_dir):
        if not name.startswith("put-"):
            continue
        calls += 1
        with open(os.path.join(out_dir, name)) as f:
            for raw in f:
                stamp, key, text = raw.rstrip("\n").split("\t", 2)
                records.append((float(stamp), key, text))
    return records, calls
