"""Storage seam: parquet stage tables with snapshot manifests.

North-rule target is Iceberg; without Iceberg jars each stage writes a
plain parquet directory plus a ``<stage>.manifest.json`` snapshot record
(stage name, config fingerprint, row count, wall time, per-partition
lineage taken from the written files' footers).  Swapping
``format("parquet")`` for ``format("iceberg")`` + snapshot-id bookkeeping
is localized to this module (SURVEY.md §7.1).

Resume contract: a stage is reusable iff its directory has Spark's
``_SUCCESS`` marker AND the manifest's config hash matches the current run
config.  Stage writes are idempotent (overwrite).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def config_hash(cfg: dict[str, Any]) -> str:
    return hashlib.sha256(
        json.dumps(cfg, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class StageStore:
    def __init__(self, root: str, cfg_hash: str):
        self.root = root
        self.cfg_hash = cfg_hash
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def has(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        ok = os.path.exists(os.path.join(self._dir(stage), "_SUCCESS")) and os.path.exists(mp)
        if not ok:
            return False
        with open(mp) as f:
            manifest = json.load(f)
        return manifest.get("config_hash") == self.cfg_hash

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self._dir(stage))

    def record_metrics(self, name: str, metrics: dict) -> None:
        """Side-channel metrics file (e.g. a curation funnel) next to the
        stage manifests, keyed by the same config hash."""
        with open(os.path.join(self.root, f"{name}.metrics.json"), "w") as f:
            json.dump({"config_hash": self.cfg_hash, **metrics}, f, indent=1)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def write(
        self, df: DataFrame, stage: str, extra_metrics: dict | None = None
    ) -> DataFrame:
        """Materialize a stage and return it re-read from disk (cuts
        lineage, making every downstream stage restartable from disk).

        The parquet write is the stage's only Spark job: ``rows`` and the
        per-partition lineage come from the written part files' footers
        (see :func:`_written_partitions`), and the re-read takes the
        writer's schema instead of inferring it."""
        t0 = time.monotonic()
        path = self._dir(stage)
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)
        partitions = _written_partitions(path)
        manifest = {
            "stage": stage,
            "snapshot_id": f"{stage}-{self.cfg_hash}",
            "config_hash": self.cfg_hash,
            "rows": sum(p["rows"] for p in partitions),
            "wall_ms": wall_ms,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": partitions,
            "metrics": extra_metrics or {},
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        return df.sparkSession.read.schema(df.schema).parquet(path)


def _written_partitions(path: str) -> list[dict]:
    """Per-partition lineage of a parquet directory: one
    ``{"partition_id", "rows"}`` entry per write task, in task order.

    Spark names each task's output ``part-<task partition id>-…``, and every
    parquet footer records its row count, so this reads footers on the
    driver and runs no Spark job (Iceberg keeps the same per-file record
    count in its manifests). A task whose partition was empty writes no
    file and has no entry."""
    rows: dict[int, int] = {}
    for name in os.listdir(path):
        m = _PART_FILE.match(name)
        if m:
            pid = int(m.group(1))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return [{"partition_id": pid, "rows": n} for pid, n in sorted(rows.items())]
