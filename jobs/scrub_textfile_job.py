"""spark-submit entry for the newline-delimited text-file scrub.

The reference's ``BatchProcessor.process_file``
(``/root/reference/src/inference.py:512-539``) as a Spark job:

    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/pii_redactor_spark.zip \
        jobs/scrub_textfile_job.py --input in.txt --output out_dir \
        [--replacement TOKEN] [--no-preserve-format] [--unordered] \
        [--confidence-threshold 0.5] [--encoding latin-1] \
        [--drop-blank-lines]

One part file per input split (``spark.sql.files.maxPartitionBytes``).
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--replacement", default="[REDACTED]")
    p.add_argument("--no-preserve-format", action="store_true")
    p.add_argument("--unordered", action="store_true")
    p.add_argument("--confidence-threshold", type=float, default=0.5)
    p.add_argument("--encoding", default="UTF-8")
    p.add_argument("--drop-blank-lines", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from pii_redactor_spark.operators.scrub import ScrubConfig
    from pii_redactor_spark.session import ENGINE_CONF
    from pii_redactor_spark.sources.textfile import scrub_text_file

    spark = (
        SparkSession.builder.appName("pii-scrub-textfile")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    cfg = ScrubConfig(
        confidence_threshold=args.confidence_threshold,
        replacement=args.replacement,
        preserve_format=not args.no_preserve_format,
    )
    scrub_text_file(
        spark, args.input, args.output, cfg, ordered=not args.unordered,
        encoding=args.encoding,
        blank_lines="drop" if args.drop_blank_lines else "error",
    )
    spark.stop()


if __name__ == "__main__":
    main()
