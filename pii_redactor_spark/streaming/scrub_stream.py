"""Structured Streaming form of the scrub pipeline.

The reference is strictly batch (SURVEY.md §2.10) and the north rule's
"resumable from checkpoint" is satisfied by the batch lineage protocol in
``pipeline/run.py`` — but a continuously-ingested image+caption corpus is the
natural production shape at 10^12 rows, so the engine also exposes the scrub
stage as a streaming transform:

    readStream(parquet dir, its current schema)
      -> scrub_decisions (the batch decisions transform itself — stateless,
         so the batch/stream plans are identical above the source, and the
         scan reads caption-side columns only, never ``bytes``)
      -> writeStream parquet sink, exactly-once via checkpoint + file-sink log

``start_scrub_stream`` always runs under ``Trigger.AvailableNow``, which
drains everything present then stops — the
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
from ..pipeline.run import scrub_decisions


def scrub_file_stream(
    spark: SparkSession,
    input_dir: str,
    toxicity: ToxicityConfig | None = None,
) -> DataFrame:
    """Streaming DataFrame of scrub decisions over a growing parquet dir.

    The stream is ``scrub_decisions`` over a file-source stream whose
    schema is the directory's current parquet schema, so the two share one
    schema and one column-pruned scan: only caption-side columns are read;
    image bytes never enter the stream (pinned in tests/test_streaming.py).
    """
    schema = spark.read.parquet(input_dir).schema
    return scrub_decisions(
        spark.readStream.schema(schema).parquet(input_dir), toxicity=toxicity
    )


def start_scrub_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the scrub stream under ``Trigger.AvailableNow`` with
    exactly-once parquet sink semantics: it drains what is present, then
    stops; a restart on the same checkpoint picks up only new files."""
    return (
        scrub_file_stream(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
