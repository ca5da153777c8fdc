"""Plan flattening for iterative fixpoint loops, with a choice of
durability.

Every fixpoint loop in the engine (cost_distance / fill_sinks /
region_group / flow accumulation, the graph family, hex compaction,
tiled dissolve, near-dup clustering) re-derives a DataFrame from the
previous round's result; without truncation the logical plan grows
multiplicatively per round (measured: 128 MiB task binaries after 3
unrolled hex-parent steps, 68.7 MiB analyzed subtrees in region_group
at sf0.01). Each round therefore pipes through :func:`flatten`, which
truncates lineage to a materialized result.

Two modes:

* **local** (default): an eager ``localCheckpoint()`` — executor-
  memory blocks, zero I/O, perfect for local[n] and short-lived jobs.
  NOT fault-tolerant: on a real cluster an executor loss discards
  blocks whose lineage no longer exists, killing the job mid-loop.
* **reliable**: when a checkpoint directory is configured (the
  ``GEOCUBE_CHECKPOINT_DIR`` environment variable, or
  :func:`set_checkpoint_dir` / :func:`reliable_checkpoints`), each
  flatten becomes a parquet write + read under a fresh subdirectory.
  Parquet round-trips survive any number of executor losses (the
  files live on the cluster store, e.g. HDFS/S3), are resumable and
  inspectable, and preserve schema and values exactly — the parity
  tests assert bit-identical fixpoints against the local mode. This
  is the switch a 100-TB cluster run flips; the extra cost is one
  store write per round.

Files are retained until :func:`clear_checkpoints` (or an external
cleaner) removes them — automatic pruning would be unsafe because a
flattened frame from an early round (e.g. a loop-invariant edge
table) may still back frames many rounds later. Jobs should wrap the
loop in ``reliable_checkpoints(dir)`` and clean the directory when
the final result has been written to its sink.

Usage inside the engine: ``df.transform(_flat)`` wherever a round
boundary needs truncating (the ``transform`` spelling keeps method
chains readable).
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame

_CHECKPOINT_DIR: Optional[str] = None
_CREATED: list = []


def set_checkpoint_dir(path: Optional[str]) -> None:
    """Set (or clear, with None) the reliable checkpoint directory
    for all subsequent :func:`flatten` calls in this process."""
    global _CHECKPOINT_DIR
    _CHECKPOINT_DIR = path


def get_checkpoint_dir() -> Optional[str]:
    """The active reliable checkpoint directory: the value set via
    :func:`set_checkpoint_dir` wins, else ``GEOCUBE_CHECKPOINT_DIR``
    from the environment, else None (local mode)."""
    return _CHECKPOINT_DIR or os.environ.get(
        "GEOCUBE_CHECKPOINT_DIR") or None


@contextmanager
def reliable_checkpoints(path: str):
    """Run a block with reliable (parquet) flattening, restoring the
    previous mode on exit."""
    global _CHECKPOINT_DIR
    prev = _CHECKPOINT_DIR
    _CHECKPOINT_DIR = path
    try:
        yield
    finally:
        _CHECKPOINT_DIR = prev


def flatten(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint`` in local mode,
    parquet write+read when a reliable directory is configured."""
    d = get_checkpoint_dir()
    if d is None:
        return df.localCheckpoint()
    path = os.path.join(d, f"flat-{uuid.uuid4().hex}")
    df.write.mode("error").parquet(path)
    _CREATED.append(path)
    return df.sparkSession.read.parquet(path)


# the engine-internal spelling for method chains: df.transform(_flat)
_flat = flatten


def clear_checkpoints() -> int:
    """Delete every parquet flatten this process created (local
    filesystem paths only; cluster stores should use their own
    lifecycle tooling). Returns the number of directories removed."""
    n = 0
    while _CREATED:
        p = _CREATED.pop()
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            n += 1
    return n
