"""Structured Streaming form of the scrub pipeline.

The reference is strictly batch (SURVEY.md §2.10) and the north rule's
"resumable from checkpoint" is satisfied by the batch lineage protocol in
``pipeline/run.py`` — but a continuously-ingested image+caption corpus is the
natural production shape at 10^12 rows, so the engine also exposes the scrub
stage as a streaming transform:

    readStream(parquet dir, Iceberg-style layout)
      -> scrub_decisions (the batch decisions transform itself — stateless,
         so the batch/stream plans are identical above the source)
      -> writeStream parquet sink, exactly-once via checkpoint + file-sink log

``Trigger.AvailableNow`` drains everything present then stops — the
batch-resume semantics expressed through Spark's own checkpoint machinery:
kill it mid-run, restart with the same checkpoint dir, and the file-source
offset log + sink commit log guarantee no duplicates and full coverage.
No watermarks/state: the scrub is per-row; dedup/windowing belong to
downstream consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.toxicity import ToxicityConfig
from ..operators.scrub import DEFAULT_SCRUB, ScrubConfig
from ..pipeline.run import scrub_decisions


def scrub_file_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
    cfg: ScrubConfig = DEFAULT_SCRUB,
    toxicity: ToxicityConfig | None = None,
) -> DataFrame:
    """Streaming DataFrame of scrub decisions over a growing parquet dir.

    The stream is ``scrub_decisions`` over a file-source stream, so the two
    share one schema and one column-pruned scan: only caption-side columns
    are read; image bytes never enter the stream.
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(input_dir)
        reader = reader.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return scrub_decisions(
        reader.parquet(input_dir), cfg=cfg, toxicity=toxicity
    )


def start_scrub_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    toxicity: ToxicityConfig | None = None,
) -> StreamingQuery:
    """Start the scrub stream with exactly-once parquet sink semantics."""
    decisions = scrub_file_stream(spark, input_dir, toxicity=toxicity)
    writer = (
        decisions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
