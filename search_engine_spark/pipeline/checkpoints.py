"""Per-stage commit markers: lineage + metrics + resume decisions.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".
Design:

- every stage output is a parquet dir under the build root
- after a stage's table commits, its marker ``<root>/_checkpoints/<stage>.json``
  is replaced atomically (temp file + ``os.replace``). It holds the
  ``input_fingerprint``, ``rows_out``, ``wall_ms``, ``completed_at`` and the
  row count of every output file, read from the parquet footers — recording
  a stage runs no Spark job
- ``input_fingerprint`` chains: sha256(stage name + params + upstream
  fingerprints), so ANY upstream change invalidates downstream stages while
  an interrupted build resumes exactly where it stopped
- the marker's file list is what readers open: ``CheckpointLog.committed``
  hands it to ``load_engines``, which reads exactly those files (and takes
  each table's Spark schema from the first one's footer). A file in the
  table directory that the marker does not name is never served, and a
  table whose marker is gone (cleared while it is rewritten) is not opened
- resume = skip the stage iff its marker carries the same fingerprint AND
  the output dir has a _SUCCESS marker; otherwise drop the marker, then
  recompute and overwrite (idempotent writes — reruns converge to the same
  bytes). Only the latest marker per stage is kept, so returning to an
  earlier parameter set rebuilds the stage instead of trusting a stale
  record

The reference's analog is much weaker: a work queue with status flags
(``crawl_queue``, queue_manager.py) and blind full-refresh batch jobs; this
gives deterministic stage-level resume with auditable lineage.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.tableio import parquet_files, read_parquet

CHECKPOINT_DIR = "_checkpoints"


def fingerprint(stage: str, params: dict, upstream: list) -> str:
    """Deterministic lineage hash for a stage invocation."""
    payload = json.dumps(
        {"stage": stage, "params": params, "upstream": sorted(upstream)},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def write_json_atomic(path: str, obj: dict) -> None:
    """Readers see the old file or the new one whole, never a prefix."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


@dataclass(frozen=True)
class CommittedTable:
    """A stage's table as its commit marker names it: the table directory,
    and each committed data file (absolute path) with its row count."""

    path: str
    files: tuple[str, ...]
    rows: tuple[int, ...]

    @property
    def num_rows(self) -> int:
        return sum(self.rows)

    def arrow(self, schema: pa.Schema) -> pa.Table:
        """``schema``'s columns of exactly the committed files, cast to its
        types. Nothing lists the directory, so a file the marker does not
        name is never read; a file whose row count differs from the
        marker's raises ``ValueError``."""
        parts = []
        for file, rows in zip(self.files, self.rows):
            part = pq.ParquetFile(file).read(columns=schema.names)
            if part.num_rows != rows:
                raise ValueError(
                    f"{file} holds {part.num_rows} rows; its commit marker says {rows}"
                )
            parts.append(part.cast(schema))
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """A Spark handle on the table directory, its schema taken from the
        first committed file's footer, so opening it runs no Spark job. A
        table committed with no file (Spark writes none for an empty
        partitioned table) has no footer: its handle has no rows and no
        columns."""
        if not self.files:
            return spark.createDataFrame([], T.StructType())
        return read_parquet(spark, self.path, self.files[0])


class CheckpointLog:
    """The build root's commit markers. A marker's file list is what
    readers open (``committed``), not only an audit record: a table is
    served as exactly the files its marker names."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.path = os.path.join(root, CHECKPOINT_DIR)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.path, f"{stage}.json")

    def _load(self, stage: str) -> dict | None:
        try:
            with open(self._marker(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def is_complete(self, stage: str, fp: str, out_path: str) -> bool:
        if not os.path.exists(os.path.join(out_path, "_SUCCESS")):
            return False
        marker = self._load(stage)
        return marker is not None and marker["input_fingerprint"] == fp

    def clear(self, stage: str) -> None:
        """Drop the stage's marker before its table is rewritten, so a crash
        before ``record`` cannot leave the old marker beside the new table."""
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._marker(stage))

    def record(self, stage: str, fp: str, out_path: str, wall_ms: int) -> None:
        """Replace the stage's marker after its table at ``out_path`` committed."""
        names = parquet_files(out_path)
        rows = [pq.read_metadata(os.path.join(out_path, n)).num_rows for n in names]
        os.makedirs(self.path, exist_ok=True)
        write_json_atomic(
            self._marker(stage),
            {
                "stage": stage,
                "input_fingerprint": fp,
                "rows_out": sum(rows),
                "wall_ms": wall_ms,
                "completed_at": datetime.now(timezone.utc).isoformat(),
                "files": [{"file": n, "rows": r} for n, r in zip(names, rows)],
            },
        )

    def committed(self, stage: str) -> CommittedTable:
        """The files the stage's marker names; ``ValueError`` naming the
        stage when it has no marker (never built, or cleared by a rewrite
        that has not committed), so a half-written table is never read."""
        m = self._load(stage)
        if m is None:
            raise ValueError(
                f"table {stage!r} has no commit marker under {self.path}: "
                "it was never built, or a rewrite of it has not committed"
            )
        path = os.path.join(self.root, stage)
        return CommittedTable(
            path,
            tuple(os.path.join(path, f["file"]) for f in m["files"]),
            tuple(f["rows"] for f in m["files"]),
        )

    def stage_rows(self, stage: str) -> list:
        """One row per output file (``partition_id`` = file index) plus a
        ``partition_id = -1`` summary row; empty when the stage has no marker."""
        m = self._load(stage)
        if m is None:
            return []
        common = {
            "stage": stage,
            "input_fingerprint": m["input_fingerprint"],
            "wall_ms": m["wall_ms"],
            "completed_at": m["completed_at"],
        }
        return [
            {**common, "partition_id": i, "file": f["file"], "rows_out": f["rows"]}
            for i, f in enumerate(m["files"])
        ] + [{**common, "partition_id": -1, "rows_out": m["rows_out"]}]
