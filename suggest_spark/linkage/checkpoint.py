"""Per-stage checkpointing with lineage + metrics manifests.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics".  Each pipeline stage writes its output as Parquet plus a
``_MANIFEST.json`` recording:

* stage name, inputs (lineage: upstream stage names + their manifest
  checksums), configuration fingerprint,
* per-partition metrics: one entry per output file (rows, bytes),
* total rows and an order-insensitive xxhash64 content checksum,
* wall time.

On re-run, a stage whose manifest exists, whose config fingerprint matches,
and whose input checksums match is SKIPPED and its output read back —
restart mid-pipeline therefore costs only the unfinished stages.  A partial
write (crash before manifest) has no manifest → recomputed.  Writes go to a
temp dir then atomically rename, so a manifest never describes a half-written
directory.

Partition-granular recovery is split across two layers, matching Spark's
execution model: WITHIN a running stage, lost or straggling partitions are
re-executed by Spark's own task retry/speculation (no engine code needed —
and no manifest can beat the scheduler at this); ACROSS process restarts,
recovery is stage-granular by manifest.  The per-partition entries in the
manifest are the audit trail (row counts + bytes per output file) that lets
an operator verify a restored stage partition-by-partition rather than a
resume index.

The audit is one Spark job per stage: the written output is read back with
the schema the stage already knows (a parquet read without one runs a
schema-inference job) and grouped by ``input_file_name()``, giving each
file's row count and xxhash64 sum together; the total rows and the
checksum are their sums (see :func:`_content_checksum`), and file bytes
come from a directory listing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def _content_checksum(df: DataFrame) -> tuple[dict[str, int], int]:
    """One job: ``({output file: rows}, checksum)`` for a DataFrame read
    back from parquet.

    The checksum is order-insensitive: the decimal(38,0) sum of the rows'
    ``xxhash64`` (overflow-proof under ANSI mode).  Grouping by
    ``input_file_name()`` gives each file's row count and hash sum in the
    same pass; the per-file decimal sums add up, as exact Python ints, to
    the whole-table sum, and an empty table has no group, so 0 rows and
    checksum 0."""
    per_file = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        )
        .collect()
    )
    rows_by_file = {os.path.basename(r["f"]): int(r["n"]) for r in per_file}
    return rows_by_file, sum(int(r["h"]) for r in per_file)


def _file_metrics(path: str, rows_by_file: dict[str, int]) -> list[dict]:
    """Per-partition (output file) metrics: bytes from a listing of
    ``path``, rows from :func:`_content_checksum`'s per-file counts."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_") or name.startswith("."):
            continue
        full = os.path.join(path, name)
        out.append(
            {
                "file": name,
                "bytes": os.path.getsize(full),
                "rows": rows_by_file.get(name, 0),
            }
        )
    return out


@dataclass
class StageResult:
    name: str
    df: DataFrame
    skipped: bool
    manifest: dict = field(default_factory=dict)


class CheckpointedPipeline:
    """Runs named stages with skip-if-complete semantics."""

    def __init__(self, spark: SparkSession, base_dir: str, config_fingerprint: str):
        self.spark = spark
        self.base_dir = base_dir
        self.config_fingerprint = config_fingerprint
        os.makedirs(base_dir, exist_ok=True)
        self._checksums: dict[str, int] = {}
        self.events: list[dict] = []

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _read_manifest(self, name: str) -> dict | None:
        p = os.path.join(self._stage_dir(name), MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def run_stage(
        self,
        name: str,
        fn,
        inputs: list[str] = (),
        extra_metrics: dict | None = None,
    ) -> StageResult:
        """``fn() -> DataFrame``; ``inputs`` are upstream stage names whose
        checksums become this stage's lineage."""
        stage_dir = self._stage_dir(name)
        lineage = {up: self._checksums.get(up) for up in inputs}

        manifest = self._read_manifest(name)
        if (
            manifest is not None
            and manifest.get("config_fingerprint") == self.config_fingerprint
            and manifest.get("lineage") == {k: v for k, v in lineage.items()}
        ):
            df = self.spark.read.parquet(stage_dir)
            self._checksums[name] = manifest["checksum"]
            self.events.append({"stage": name, "skipped": True, "rows": manifest["rows"]})
            return StageResult(name, df, skipped=True, manifest=manifest)

        t0 = time.time()
        df = fn()
        tmp_dir = stage_dir + ".tmp"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp_dir)

        # the schema is known: passing it skips parquet schema inference,
        # which is a Spark job per read
        reader = self.spark.read.schema(df.schema)
        rows_by_file, checksum = _content_checksum(reader.parquet(tmp_dir))
        rows = sum(rows_by_file.values())
        manifest = {
            "stage": name,
            "config_fingerprint": self.config_fingerprint,
            "lineage": lineage,
            "rows": rows,
            "checksum": checksum,
            "partitions": _file_metrics(tmp_dir, rows_by_file),
            "wall_sec": round(time.time() - t0, 3),
            "metrics": extra_metrics or {},
        }
        with open(os.path.join(tmp_dir, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1)
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.rename(tmp_dir, stage_dir)

        self._checksums[name] = checksum
        self.events.append(
            {"stage": name, "skipped": False, "rows": rows, "wall_sec": manifest["wall_sec"]}
        )
        return StageResult(name, reader.parquet(stage_dir), skipped=False, manifest=manifest)
