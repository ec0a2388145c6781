"""Snapshot-based stage checkpointing (north_rule: resume-from-checkpoint).

The reference's only persistence is its final RDF file write
(BaseOntologyDelegate.java:208-220); a crash mid-run loses everything.
Here every pipeline stage materializes to a partitioned table keyed by
``run_id`` — rerunning the driver skips stages whose snapshot already
committed (SURVEY.md §4.2 "Resume-from-checkpoint").

Format: a parquet directory per stage with an atomic
``_STAGE_COMMITTED`` marker that mimics a table-format snapshot commit:
readers only trust directories where the marker exists, so a killed
mid-write stage is re-run, not half-read. Writes go through Spark's own
job commit protocol (task temp → rename), so a marker is only laid down
after a fully committed write. A freshly written stage is read back
with the schema it was written with (no footer-inference job); a
resumed stage infers it from the files.

Filesystem access goes through the Hadoop FileSystem API, so the store
works unchanged on file://, hdfs://, s3a://, etc. — not just the local
disk this sandbox uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_STAGE_COMMITTED"


class StageStore:
    """Materialize-or-reload pipeline stages under ``root/run_id/stage``."""

    def __init__(self, spark: SparkSession, root: str, run_id: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        root_path = self._jpath(self.root)
        self._fs = root_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _path(self, stage: str) -> str:
        return f"{self.root}/{self.run_id}/{stage}"

    def _marker(self, stage: str):
        return self._jpath(f"{self._path(stage)}/{_MARKER}")

    def exists(self, stage: str) -> bool:
        return bool(self._fs.exists(self._marker(stage)))

    def materialize(
        self,
        stage: str,
        df_or_thunk,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Return the stage's DataFrame, computing+persisting it only if
        no committed snapshot exists. ``df_or_thunk`` may be a DataFrame
        or a zero-arg callable returning one (lazier: a resumed run never
        even builds the skipped stage's plan)."""
        path = self._path(stage)
        if not self.exists(stage):
            df = df_or_thunk() if callable(df_or_thunk) else df_or_thunk
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
            # commit marker AFTER the job's own _SUCCESS commit —
            # created atomically via the filesystem's create()
            out = self._fs.create(self._marker(stage), True)
            out.write(bytearray(self.run_id.encode("utf-8")))
            out.close()
            if not partition_by:
                # the written schema is known: skip the footer-inference
                # job a schema-less read would run
                return self.spark.read.schema(df.schema).parquet(path)
        return self.spark.read.parquet(path)

    def invalidate(self, stage: str) -> None:
        marker = self._marker(stage)
        if self._fs.exists(marker):
            self._fs.delete(marker, False)
