"""Stage checkpoints: every pipeline stage is a table, a lineage file and
a manifest entry, written in that order (SURVEY §4.1 "grid pickle" row,
§4.3.4; north rule: resumable from checkpoint).

``write_stage`` is one write:

  1. the stage table, through Spark's ``_temporary`` -> rename commit
     (Iceberg snapshots in production: same table-commit-then-manifest
     contract);
  2. the stage's lineage, ``_lineage/<stage>.parquet``: one row per
     committed part file with its exact row count, read on the driver
     from the parquet footers just written.  No Spark job and no
     re-read of the table.  ``partition_id`` is the file's index in
     sorted path order.  The file is written under a hidden name and
     renamed into place, so a rewritten stage REPLACES its lineage and
     a resumed run counts every stage once;
  3. the manifest entry ``(stage, run_id)``.

A re-run SKIPS any stage whose manifest entry and table exist (the
reference's ``visited``-set resume idiom, BiLSTM grid search
``grid_progress.pkl``).  A crash anywhere before step 3 leaves the stage
unmarked, so the resume rewrites the table and its lineage.

Storage: partitioned parquet under a base dir, every stage table and
lineage file compressed with ``CODEC`` (zstd at its default level: a
quarter smaller than Snappy on the KG stages).  A pipeline stores no
column that its read-back derives from another stored column, and off
its map-only path no column an earlier stage holds
(``plans/kg_pipeline.py``):

* ``sentences`` stores ``tokens`` and rebuilds
  ``sent_text = concat_ws(" ", tokens)`` on read;
* ``tagged`` stores ``(url, sent_id, pred_tags)``: ``mentions`` and
  ``triples_raw`` read ``tokens`` from the tagger's persisted output,
  which the ``tagged`` write fills, not from a join to ``sentences``;
  a resume past ``tagged`` re-runs the deterministic tagger;
* ``triples_raw`` stores ``(url, sent_id, subj_start, pred, obj_start)``
  and ``linked`` ``(url, sent_id, start, entity_id, prior,
  entity_type)``; ``KGResult`` joins the surface and label of each
  triple end, and the mention columns of each link (with
  ``alias_norm = norm_surface(surface)``), from ``mentions`` on
  ``(url, sent_id, start)``.  No downstream stage reads those columns,
  so the joins stay off the pipeline's own path.

Stage tables written before a column was dropped (``tagged`` with
``tokens``, say) still hold it and still resume: the read-back selects
the narrower schema.  The manifest stores each stage's path relative
to its base dir, so a moved work dir still resumes.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

CODEC = "zstd"
LINEAGE = pa.schema([("stage", pa.string()), ("partition_id", pa.int32()),
                     ("row_count", pa.int64()), ("run_id", pa.string())])


class StageManifest:
    def __init__(self, base_dir: str):
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.base / "_manifest.json"

    def _load(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"stages": {}}

    def done(self, stage: str) -> bool:
        m = self._load()
        # the stored path is not consulted: manifests written before it
        # was made relative hold absolute paths, which a moved work dir
        # no longer matches
        return stage in m["stages"] and Path(self.path(stage)).exists()

    def path(self, stage: str) -> str:
        return str(self.base / stage)

    def mark(self, stage: str, **meta) -> None:
        """Record a stage commit; the new entry replaces any old one."""
        m = self._load()
        m["stages"][stage] = {"path": stage, "ts": time.time(), **meta}
        tmp = self.manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(m, indent=2))
        os.replace(tmp, self.manifest_path)


def write_stage(manifest: StageManifest, stage: str, df: DataFrame,
                partition_by: list[str] | None = None,
                run_id: str = "run0") -> DataFrame:
    """Write a stage table + its lineage file, then mark the manifest;
    skip if already done (idempotent resume).  Returns the (re-read)
    stage DataFrame so downstream stages read the materialized table —
    every table IS the checkpoint (SURVEY §7.0)."""
    spark = df.sparkSession
    out = manifest.path(stage)
    if not manifest.done(stage):
        w = df.write.mode("overwrite").option("compression", CODEC)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        _write_lineage(manifest.base / "_lineage", stage, Path(out), run_id)
        manifest.mark(stage, run_id=run_id)
    # read-backs carry the writer's schema explicitly: an EMPTY stage
    # (e.g. a verdict that dropped every document) writes a directory
    # with no part files, where schema inference fails — the stage
    # table must still exist and read back as 0 rows, not error
    return spark.read.schema(df.schema).parquet(out)


def _write_lineage(lineage_dir: Path, stage: str, table: Path,
                   run_id: str) -> None:
    """``_lineage/<stage>.parquet`` from the footers of ``table``'s
    committed part files (hidden ``_``/``.`` paths are not data)."""
    files = sorted(
        p for p in table.rglob("*") if p.is_file()
        and not any(c.startswith(("_", "."))
                    for c in p.relative_to(table).parts))
    counts = [pq.read_metadata(p).num_rows for p in files]
    rows = pa.table({"stage": [stage] * len(files),
                     "partition_id": range(len(files)),
                     "row_count": counts,
                     "run_id": [run_id] * len(files)}, schema=LINEAGE)
    lineage_dir.mkdir(exist_ok=True)
    tmp = lineage_dir / f".{stage}.parquet.tmp"
    # no embedded Arrow schema copy: the parquet schema already holds
    # all of it, and the copy is about a quarter of the file's bytes
    pq.write_table(rows, tmp, compression=CODEC, store_schema=False)
    os.replace(tmp, lineage_dir / f"{stage}.parquet")


def read_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(base_dir) / "_lineage"))
