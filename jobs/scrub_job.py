"""spark-submit entry point for the quality-filter + PII-scrub pipeline.

The north rule requires the job to be submitted via ``spark-submit
--py-files`` on a multi-executor cluster.  Usage:

    python tools/make_pyfiles.py                       # build dist/pii_redactor_spark.zip
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/pii_redactor_spark.zip \
        jobs/scrub_job.py --input <images_table> --output <out_dir> \
        [--mode decisions|materialize] [--salt-partitions N] \
        [--prefixes-per-commit K] \
        [--toxicity-blocklist tok1,tok2|@lexicon.txt] \
        [--toxicity-threshold F] [--toxicity-mask S] \
        [--image-quality] [--image-min-side N] [--image-max-aspect F] \
        [--image-fmt-allow png,jpeg]

Everything cluster-shaped is inherited from the session Spark gives us (no
``.master()`` call here — spark-submit owns deployment); this script only
declares the job.  ``decisions`` mode (default) is the at-scale form: image
bytes are never read (column pruning) and the output is the small decisions
table.  ``materialize`` runs the resumable partition-committed pipeline that
rewrites kept rows (used by the correctness gates).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_blocklist(spec: str) -> tuple[str, ...]:
    """``a,b,c`` inline, or ``@/path`` = one token per line (blank lines and
    ``#`` comments skipped).  Duplicates collapse; order is preserved."""
    if spec.startswith("@"):
        with open(spec[1:], encoding="utf-8") as f:
            raw = [ln.strip() for ln in f]
        toks = [t for t in raw if t and not t.startswith("#")]
    else:
        toks = [t.strip() for t in spec.split(",") if t.strip()]
    if not toks:
        # isin() over zero tokens silently matches nothing — the stage would
        # "run" while scoring, masking, and dropping nothing.  A blocklist
        # that resolves empty is a misconfiguration (wrong file, all
        # comments), not a request for a no-op.
        raise ValueError(f"toxicity blocklist resolved empty: {spec!r}")
    return tuple(dict.fromkeys(toks))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", choices=["decisions", "materialize"],
                   default="decisions")
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--prefixes-per-commit", type=int, default=64)
    # PIIRedactor / redact() dials (reference inference.py:68,356-360)
    p.add_argument("--confidence-threshold", type=float, default=0.5)
    p.add_argument("--replacement", default="[REDACTED]")
    p.add_argument("--no-preserve-format", action="store_true")
    # Toxicity stage (opt-in): comma-separated tokens, or @/path/to/file
    # with one token per line (the deployment shape for curated lexicons).
    p.add_argument("--toxicity-blocklist", default=None)
    p.add_argument("--toxicity-threshold", type=float, default=0.03)
    p.add_argument("--toxicity-mask", default="[TOXIC]")
    # Image-metadata quality gate (opt-in; metadata-only, never reads bytes)
    p.add_argument("--image-quality", action="store_true")
    p.add_argument("--image-min-side", type=int, default=64)
    p.add_argument("--image-max-aspect", type=float, default=4.0)
    p.add_argument("--image-fmt-allow", default="png,jpeg")
    # Image-metadata PII scrub (opt-in; materialize mode only — the one
    # transform that must rewrite bytes)
    p.add_argument("--scrub-image-metadata", action="store_true")
    args = p.parse_args(argv)
    if args.scrub_image_metadata and args.mode != "materialize":
        p.error("--scrub-image-metadata requires --mode materialize "
                "(decisions mode never touches image bytes)")

    # Import AFTER spark-submit has placed --py-files on sys.path.
    from pyspark.sql import SparkSession

    from pii_redactor_spark.functions.toxicity import ToxicityConfig
    from pii_redactor_spark.operators.scrub import ScrubConfig
    from pii_redactor_spark.pipeline.run import run_pipeline
    from pii_redactor_spark.session import ENGINE_CONF

    toxicity = None
    if args.toxicity_blocklist:
        toxicity = ToxicityConfig(
            blocklist=parse_blocklist(args.toxicity_blocklist),
            threshold=args.toxicity_threshold,
            mask=args.toxicity_mask,
        )

    image_quality = None
    if args.image_quality:
        from pii_redactor_spark.operators.vision import ImageQualityConfig

        image_quality = ImageQualityConfig(
            min_side=args.image_min_side,
            max_aspect=args.image_max_aspect,
            fmt_allow=tuple(
                t.strip() for t in args.image_fmt_allow.split(",") if t.strip()
            ),
        )

    spark = (
        SparkSession.builder.appName("pii-scrub")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    t0 = time.perf_counter()
    # Both modes run the resumable partition-committed lineage loop
    # (pipeline/run.py); `decisions` additionally never reads or writes the
    # image bytes (column-pruned — the at-scale default).
    summary = run_pipeline(
        spark,
        args.input,
        args.output,
        prefixes_per_commit=args.prefixes_per_commit,
        salt_partitions=args.salt_partitions,
        materialize_bytes=(args.mode == "materialize"),
        scrub_cfg=ScrubConfig(
            confidence_threshold=args.confidence_threshold,
            replacement=args.replacement,
            preserve_format=not args.no_preserve_format,
        ),
        toxicity=toxicity,
        image_quality=image_quality,
        scrub_metadata=args.scrub_image_metadata,
    )
    summary["mode"] = args.mode
    summary["rows"] = summary["n_in"]
    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    print("SCRUB_JOB_SUMMARY " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
