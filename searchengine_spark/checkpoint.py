"""Per-partition checkpoint / lineage / metrics (SURVEY.md §7.4).

The reference resumes a killed crawl by persisting the frontier every
iteration plus a pointer row and skipping rows that already exist
(``jobs/Crawler.java:46-57,89,130-144``). The rebuild hardens that idea:
every partitioned build stage appends one lineage row per completed
partition; a re-run anti-joins its partition plan against the lineage
table and recomputes only the gap. The lineage table doubles as the
metrics table (rows / bytes / wall_ms per partition) that the bench
harness reads.

Lineage rows are tiny parquet files written atomically (tmp + rename) —
one file per completed partition, so concurrent/killed writers can never
corrupt earlier records. On a real cluster this directory is an Iceberg
table with append commits.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from . import catalog

_SCHEMA = pa.schema(
    [
        pa.field("build_id", pa.string()),
        pa.field("stage", pa.string()),
        pa.field("partition_id", pa.int32()),
        pa.field("input_fingerprint", pa.string()),
        pa.field("output_path", pa.string()),
        pa.field("rows", pa.int64()),
        pa.field("bytes", pa.int64()),
        pa.field("wall_ms", pa.int64()),
        pa.field("completed_at", pa.timestamp("us")),
    ]
)


def _lineage_dir(root: str) -> str:
    d = catalog.path(root, catalog.LINEAGE)
    os.makedirs(d, exist_ok=True)
    return d


def record(
    root: str,
    build_id: str,
    stage: str,
    partition_id: int,
    input_fingerprint: str,
    output_path: str,
    rows: int,
    nbytes: int,
    wall_ms: int,
) -> None:
    d = _lineage_dir(root)
    import datetime as dt

    tbl = pa.Table.from_pydict(
        {
            "build_id": [build_id],
            "stage": [stage],
            "partition_id": [partition_id],
            "input_fingerprint": [input_fingerprint],
            "output_path": [output_path],
            "rows": [rows],
            "bytes": [nbytes],
            "wall_ms": [wall_ms],
            "completed_at": [dt.datetime.utcnow()],
        },
        schema=_SCHEMA,
    )
    import io

    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    final = os.path.join(d, f"{stage}-{partition_id}-{uuid.uuid4().hex}.parquet")
    catalog.write_atomic(final, buf.getvalue())


def _latest_rows(root: str, stage: str) -> dict[int, dict]:
    """The most recent lineage row of each partition of ``stage``. A
    partition's output path is rewritten by every run, so only its last
    completion describes what is on disk: after runs under fingerprints
    A, B, A-again the output holds B's data until A's re-run records."""
    latest: dict[int, dict] = {}
    for row in read_metrics(root):
        if row["stage"] != stage:
            continue
        prev = latest.get(row["partition_id"])
        if prev is None or row["completed_at"] >= prev["completed_at"]:
            latest[row["partition_id"]] = row
    return latest


def completed_partitions(root: str, stage: str, input_fingerprint: str) -> set[int]:
    """Partitions whose most recent completion is under
    ``input_fingerprint``."""
    return {
        pid for pid, row in _latest_rows(root, stage).items()
        if row["input_fingerprint"] == input_fingerprint
    }


def read_metrics(root: str) -> list[dict]:
    d = catalog.path(root, catalog.LINEAGE)
    out: list[dict] = []
    for f in catalog.list_files(d, ".parquet"):
        out.extend(pq.read_table(f).to_pylist())
    return out


def run_partitioned_stage(
    root: str,
    build_id: str,
    stage: str,
    partition_ids: list[int],
    input_fingerprint: str,
    fn: Callable[[int], tuple[str, int, int]],
    kill_after: int | None = None,
    max_parallel: int | None = None,
) -> dict:
    """Run ``fn(pid) -> (output_path, rows, bytes)`` for every partition not
    already completed (idempotent resume): a partition is skipped when its
    most recent completion is under ``input_fingerprint`` and the output
    path it recorded still exists (a deleted output is rebuilt, not
    served as missing). ``kill_after`` aborts BEFORE the
    (N+1)th partition starts, so exactly N complete (kill_after=0
    completes none) — used by the resume tests to simulate a killed
    build or merge (merge_tokens_stage passes its knob through).

    Partitions run as *concurrent Spark jobs* from driver threads
    (``max_parallel`` at a time, default 4): one partition's shuffle
    rarely saturates the cluster, and the per-partition lineage write
    stays atomic per thread. ``kill_after`` forces sequential execution
    so the resume tests keep a deterministic completion order.

    Returns {"ran": [...], "skipped": [...]}.
    """
    latest = _latest_rows(root, stage)
    done = {
        pid for pid, row in latest.items()
        if row["input_fingerprint"] == input_fingerprint
        and os.path.exists(row["output_path"])
    }
    skipped = [p for p in partition_ids if p in done]
    todo = [p for p in partition_ids if p not in done]

    def run_one(pid: int) -> int:
        t0 = time.monotonic()
        output_path, rows, nbytes = fn(pid)
        wall_ms = int((time.monotonic() - t0) * 1000)
        record(
            root, build_id, stage, pid, input_fingerprint,
            output_path, rows, nbytes, wall_ms,
        )
        return pid

    ran: list[int] = []
    if kill_after is not None:
        for pid in todo:
            if len(ran) >= kill_after:
                raise KeyboardInterrupt(
                    f"simulated kill after {kill_after} partitions"
                )
            ran.append(run_one(pid))
        return {"ran": ran, "skipped": skipped}

    n_workers = min(max_parallel or 4, max(len(todo), 1))
    if n_workers <= 1:
        ran = [run_one(pid) for pid in todo]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=n_workers) as pool:
            ran = list(pool.map(run_one, todo))
    return {"ran": ran, "skipped": skipped}


def fingerprint(**kwargs: object) -> str:
    """Stable fingerprint of a stage's logical input."""
    return json.dumps(kwargs, sort_keys=True, default=str)
