"""S3/S4: pipes — auto-ingest of landing-dir files into a stage table.

Snowflake pipe (reference customer-...sql:51-56): S3 event -> COPY INTO
stage table; pausable (``pipe_execution_paused``, customer-...sql:68),
resumable (``system$pipe_force_resume``, customer-...sql:179), with
``system$pipe_status`` (customer-...sql:209).

``refresh()`` polls the directory and runs the manifest-diff COPY
(``copy_into``); the task cycle's pause/resume brackets make the batch
stable (T5), and ``EntityPipelines.run_forever`` is the schedule that
calls it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..plans.catalog import ManagedTable
from .copy_into import CopyManifest, copy_into, list_stage


class Pipe:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        landing_dir: str,
        stage_table: ManagedTable,
        schema: T.StructType,
        file_format=None,
    ):
        from .file_format import CSV_FORMAT

        self.spark = spark
        self.name = name
        self.landing_dir = landing_dir
        self.stage_table = stage_table
        self.schema = schema
        self.file_format = file_format or CSV_FORMAT
        self.paused = False
        self.manifest = CopyManifest(f"{stage_table.path}.__copy_manifest.json")

    def refresh(self) -> int:
        """Poll landing dir; load new files into the stage table.
        Returns number of files loaded (0 while paused)."""
        if self.paused:
            return 0
        df, new_files = copy_into(
            self.spark, self.landing_dir, self.schema, self.manifest,
            file_format=self.file_format,
        )
        if df is None:
            return 0
        self.spark.sparkContext.setJobDescription(f"pipe {self.name} ingest")
        try:
            self.stage_table.append(df, action="INSERT")
        finally:
            self.spark.sparkContext.setJobDescription(None)
        self.manifest.mark(new_files)
        return len(new_files)

    # -- S4 lifecycle ------------------------------------------------------
    def pause(self) -> None:
        """alter pipe ... set pipe_execution_paused = true (customer-...sql:68)."""
        self.paused = True

    def resume(self) -> None:
        """system$pipe_force_resume (customer-...sql:179)."""
        self.paused = False

    def status(self) -> dict:
        """system$pipe_status (customer-...sql:209)."""
        return {
            "name": self.name,
            "executionState": "PAUSED" if self.paused else "RUNNING",
            # the listing COPY loads from: no dotfiles (an upload in
            # flight), no subdirectories
            "pendingFileCount": len(
                set(list_stage(self.landing_dir)) - self.manifest.loaded()
            ),
        }
