"""S7/S8 — file-arrival sensing (SURVEY.md §2.1).

The reference polls object storage for a key with Airflow sensors
(learn/dag_minio_test.py:18-23, learn/az_blob_storage.py:39-44). The
Spark-native analog is a Structured Streaming file source processed
with ``trigger(availableNow=True)`` — discover whatever has arrived,
process it exactly once (checkpointed), stop. A plain driver-side
existence check covers the blocking-sensor use."""

from __future__ import annotations

import glob as _glob
import time


def await_files(pattern: str, timeout_s: float = 60.0, poke_interval_s: float = 1.0) -> list[str]:
    """Blocking sensor: poll a glob until it matches or the timeout
    lapses (S3KeySensor semantics, poke_interval/timeout included).
    Returns the matched paths; raises TimeoutError like a failed sensor.
    """
    deadline = time.monotonic() + timeout_s
    while True:
        hits = _glob.glob(pattern)
        if hits:
            return sorted(hits)
        if time.monotonic() >= deadline:
            raise TimeoutError(f"no files matched {pattern!r} within {timeout_s}s")
        time.sleep(poke_interval_s)
