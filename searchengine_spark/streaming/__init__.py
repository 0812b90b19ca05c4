"""Structured Streaming surfaces.

The reference is batch-only (SURVEY §2.9) and so is the north_rule;
these modules exist because the rebuilt engine's ingestion story at
100 TB is continuous: new WARC-shaped files land forever. Streaming
here is therefore *incremental ingestion of the same batch semantics*
— file-source micro-batches driving the identical tokenize kernel —
plus a watermarked windowed aggregation for the events stream.
"""

import hashlib
import os


def batch_dir(checkpoint_dir: str, batch_id: int, key: str = "batch") -> str:
    """``<key>=stream-<ckpt-hash>-<batch_id>``: the overwritten output
    directory of one micro-batch. Batch ids are only unique within one
    checkpoint, so the name embeds the md5 of the checkpoint's absolute
    path: a replay of the same (checkpoint, batch) rewrites its own dir,
    and a second run with a fresh checkpoint restarts at batch 0 in a
    dir of its own instead of overwriting the first run's batch 0."""
    tag = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]
    return f"{key}=stream-{tag}-{batch_id:08d}"
