"""Resumable rollup stages with per-partition lineage + metrics.

Every stage of the tier cascade writes to its own directory with a
``_lineage.json`` manifest recording the stage params and their
fingerprint, a ``complete`` flag, the stage metrics (total rows, wall
seconds) and, for a partitioned stage, the row count of each
partition. It holds no content digest: resume trusts the fingerprint
and the flag, it does not re-hash the data. On resume, a stage whose
manifest is complete and whose fingerprint matches is read back from
disk instead of recomputed — a kill at ANY point leaves only missing
or incomplete stages, which re-run idempotently (parquet overwrite is
atomic at the directory level via Spark's commit protocol).

Bit-identity of resume vs cold run is tested in tests/test_tiers.py.

Scale notes: manifests are O(#partitions) JSON, written driver-side
AFTER the distributed write commits; the data itself never flows
through the driver. Partition columns default to the series-bucket
date so a 10^12-turn backfill can be killed/resumed at day granularity.
"""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class CheckpointedPipeline:
    """Named stages over a shared checkpoint root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- lineage helpers ----------------------------------------------------

    def _stage_dir(self, name: str) -> Path:
        return self.root / name

    def _manifest_path(self, name: str) -> Path:
        return self._stage_dir(name) / "_lineage.json"

    def manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not p.exists():
            return None
        try:
            return json.loads(p.read_text())
        except json.JSONDecodeError:
            return None  # torn write = incomplete stage

    def is_complete(self, name: str, params: dict) -> bool:
        m = self.manifest(name)
        return bool(m) and m.get("fingerprint") == _fingerprint(params) and m.get("complete")

    # -- stages --------------------------------------------------------------

    def stage(
        self,
        name: str,
        build,
        *,
        params: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage.

        ``build() -> DataFrame`` is only invoked on a cache miss. The
        stage result is always served from parquet so downstream stages
        see identical bytes whether this run computed it or a previous
        one did.
        """
        params = dict(params or {})
        out_dir = str(self._stage_dir(name) / "data")
        if self.is_complete(name, params):
            return self.spark.read.parquet(out_dir)
        t0 = time.time()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_dir)
        stored = self.spark.read.parquet(out_dir)
        per_part = []
        if partition_by:
            rows = (
                stored.groupBy(*partition_by).agg(F.count("*").alias("rows")).collect()
            )
            per_part = [
                {**{c: str(r[c]) for c in partition_by}, "rows": r["rows"]}
                for r in rows
            ]
        n = stored.count()
        manifest = {
            "stage": name,
            "fingerprint": _fingerprint(params),
            "params": {k: str(v) for k, v in params.items()},
            "complete": True,
            "metrics": {"rows": n, "wall_s": round(time.time() - t0, 3)},
            "partitions": per_part,
        }
        self._manifest_path(name).write_text(json.dumps(manifest, indent=1))
        return stored

    def invalidate(self, name: str) -> None:
        p = self._manifest_path(name)
        if p.exists():
            p.unlink()
