"""Per-layer measurements for the traced run.

Each function drives the engine only through its public functions, over the
seed's inputs, and returns per-layer metrics named ``<layer>.<what>``:

* ``pipeline_op`` / ``textfile_op``: one op with spans around the calls
  into ``sources.storage``, ``pipeline.run``, ``sources.textfile`` and
  ``DataFrame.collect``.
* ``ledger``: steps L0-L4, each forced with no sink (L4 writes):
  empty input -> pruned scan -> identity iterator pandas UDF ->
  ``scrub_decisions`` -> ``write_partitioned`` of it.
* ``storage_layers``, ``textfile_layers``, ``core_layers``: the remaining
  layer timings, the core ones in-process on one core.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterator

import pandas as pd
import pyarrow.parquet as pq

from probes import JobGroup, arrow_eval_metrics, dir_bytes, force

MS = 1e-3
CORE_CAPTIONS = 10_000  # one Arrow batch at the session's maxRecordsPerBatch
CORE_REPEATS = 3


def _pipeline_targets(spark):
    from pii_redactor_spark.pipeline import run
    from pii_redactor_spark.sources import storage, textfile

    return [
        (storage, "read_table"), (storage, "write_partitioned"),
        (storage, "append_table"), (storage, "commit_snapshot"),
        (storage, "committed_parts"), (run, "todo_prefixes"),
        (textfile, "read_text_lines"),
        # the session's concrete DataFrame class, which defines collect
        (type(spark.range(0)), "collect"),
    ]


def pipeline_op(spark, tracer, images: str, out: str) -> dict:
    """One traced decisions-mode ``run_pipeline`` op and the layer metrics
    it yields."""
    from pii_redactor_spark.pipeline.run import run_pipeline

    with tracer.wrapping(_pipeline_targets(spark)), JobGroup(spark, "run") as jobs, \
            tracer.span("run_pipeline") as op:
        res = run_pipeline(spark, images, out, materialize_bytes=False)
    data = pq.read_table(f"{out}/data", columns=["keep", "has_pii"]).to_pandas()
    size, files = dir_bytes(f"{out}/data", ".parquet")
    return {
        "wall_s": op["end"] - op["start"],
        "rows": res["n_in"],
        "run.todo_s": tracer.seconds("run.todo_prefixes", op),
        # opening the input and each group's written data: file listing
        # and schema
        "storage.open_s": tracer.seconds("storage.read_table", op),
        "run.groups": res["processed_groups"],
        "run.spark_jobs": len(jobs.jobs()),
        # the group's counter collect, outside the todo computation
        "run.counters_s": tracer.seconds(
            "DataFrame.collect", op, outside="run.todo_prefixes"
        ),
        # lineage append plus manifest snapshot
        "storage.commit_s": tracer.seconds("storage.commit_snapshot", op)
        + tracer.seconds("storage.append_table", op),
        "storage.bytes_written": size,
        "storage.files_written": files,
        # rows detected and spliced, then dropped by the quality gate
        "scrub.wasted_rows_frac": float(
            ((~data["keep"]) & data["has_pii"]).sum() / max(len(data), 1)
        ),
    }


def textfile_op(spark, tracer, lines: str, out: str) -> dict:
    from pii_redactor_spark.sources.textfile import scrub_text_file

    with tracer.wrapping(_pipeline_targets(spark)), JobGroup(spark, "text") as jobs, \
            tracer.span("scrub_text_file") as op:
        scrub_text_file(spark, lines, out, ordered=True)
    return {"wall_s": op["end"] - op["start"],
            "textfile.shuffle_bytes": jobs.shuffle_write_bytes()}


def _identity_udf():
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    # Built in a function so cloudpickle ships it by value to the workers.
    @pandas_udf(StringType())
    def identity(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from batches

    return identity


def ledger(spark, tracer, images: str, tmp: str) -> dict:
    """Absolute seconds of steps L0-L4 and the scrub step's Arrow metrics."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.pipeline.run import scrub_decisions
    from pii_redactor_spark.sources import storage

    src = storage.read_table(spark, images)
    pruned = src.select("image_id", "phash_prefix", "caption")
    steps = [
        ("L0", scrub_decisions(src.where(F.lit(False)))),
        ("L1", pruned),
        ("L2", pruned.withColumn("caption", _identity_udf()(F.col("caption")))),
        ("L3", scrub_decisions(src)),
    ]
    out = {}
    with tracer.span("ledger"):
        for name, df in steps:
            with tracer.span(f"ledger.{name}") as s:
                force(df)
            out[name] = s["end"] - s["start"]
        with tracer.span("ledger.L4") as s:
            storage.write_partitioned(
                scrub_decisions(src), tmp, ["phash_prefix"]
            )
        out["L4"] = s["end"] - s["start"]
    arrow = arrow_eval_metrics(steps[3][1])
    return {
        "abs": out,
        "scrub.python_boot_s": arrow["pythonBootTime"] * MS,
        "scrub.python_init_s": arrow["pythonInitTime"] * MS,
        "scrub.python_total_s": arrow["pythonTotalTime"] * MS,
        "scrub.arrow_bytes_sent": arrow["pythonDataSent"],
        "scrub.arrow_bytes_received": arrow["pythonDataReceived"],
    }


def storage_layers(spark, tracer, images: str, decisions_out: str, tmp: str) -> dict:
    from pii_redactor_spark.sources import storage

    with tracer.span("storage.scan") as scan:
        force(storage.read_table(spark, images))
    decisions = storage.read_table(spark, f"{decisions_out}/data")
    with tracer.span("storage.write") as write:
        storage.write_partitioned(decisions, tmp, ["phash_prefix"])
    return {"storage.scan_s": scan["end"] - scan["start"],
            "storage.write_s": write["end"] - write["start"]}


def textfile_layers(spark, tracer, lines: str) -> dict:
    from pii_redactor_spark.sources.textfile import read_text_lines, redact_lines

    with tracer.span("textfile.read") as read:
        force(read_text_lines(spark, lines))
    with open(lines, encoding="utf-8") as f:
        head = [next(f).rstrip("\n") for _ in range(CORE_CAPTIONS)]
    redact_lines(head[:100])  # per-process lazy tables
    with tracer.span("textfile.redact_lines", lines=len(head)) as red:
        redact_lines(head)
    return {"textfile.read_s": read["end"] - read["start"],
            "textfile.redact_lines_s": red["end"] - red["start"]}


def core_layers(tracer, captions: list[str]) -> dict:
    """Median over ``CORE_REPEATS`` of each scrub sub-stage, in-process on
    one core, over one batch of the seed's captions."""
    from pii_redactor_spark.core.classify import classify_entity
    from pii_redactor_spark.core.detect import (
        DEFAULT_CONFIDENCE_THRESHOLD,
        detect_spans,
        guard_flags_batch,
    )
    from pii_redactor_spark.core.langid import classify_batch
    from pii_redactor_spark.core.quality import (
        DEFAULT_QUALITY,
        flat_codes,
        heuristics_batch,
        trigram_lm,
    )
    from pii_redactor_spark.core.redact import redact_simple, redact_typed
    from pii_redactor_spark.operators.scrub import scrub_batch

    texts = captions[:CORE_CAPTIONS]
    scrub_batch(texts[:100])  # per-process lazy tables and the trigram LM
    lm = trigram_lm()
    times: dict[str, list[float]] = {}

    def timed(stage, fn, *args):
        with tracer.span(f"core.{stage}", texts=len(texts)) as s:
            result = fn(*args)
        times.setdefault(stage, []).append(s["end"] - s["start"])
        return result

    def detect(flags):
        return [detect_spans(t, DEFAULT_CONFIDENCE_THRESHOLD, g)
                for t, g in zip(texts, flags)]

    def classify(spans):
        return [[(s, e, classify_entity(t[s:e])) for s, e, _k, _c in sp]
                for t, sp in zip(texts, spans)]

    def redact(typed):
        return [(redact_typed(t, ty), redact_simple(t, ty))
                for t, ty in zip(texts, typed)]

    for _ in range(CORE_REPEATS):
        flat = timed("flat_codes", flat_codes, texts)
        timed("langid", classify_batch, texts, flat)
        timed("heuristics", heuristics_batch, texts, DEFAULT_QUALITY, flat)
        timed("lm", lm.bits_per_char, texts, flat)
        flags = timed("guards", guard_flags_batch, len(texts), *flat)
        spans = timed("detect", detect, flags)
        typed = timed("classify", classify, spans)
        timed("redact", redact, typed)
        timed("scrub_batch", scrub_batch, texts)
    return {f"core.{k}_s": statistics.median(v) for k, v in times.items()}
