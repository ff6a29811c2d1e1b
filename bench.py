"""Benchmark harness for the driver: headline queries at $SPARK_GRAFT_SF_DIR.

Prints two JSON lines.  The last is the headline, kept short (at most
2,000 characters) so a reader that keeps only the tail of stdout still
parses it:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "cpus": N, "scrub_docs_per_sec": N, "prev_total_ratio": N}
The line before it holds the legs (``scrub_by_length``, ``image_decode``,
``dedup_scale``, ``ann_scale``, ``audio_scale``) and ``prev_delta``.

Queries are forced with a noop write (full execution, no driver collect cost).
The flagship ``doc_scrub`` runs the complete langid + quality + PII-scrub
pandas-UDF stage over the documents table — the engine's core workload; its
throughput is also reported (docs/sec) alongside the per-query seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "doc_scrub",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "top_customers_per_nation",
    "events_hourly",
    "events_running_total",
    "events_sessions",
    "doc_minhash_buckets",
    "doc_simhash_buckets",
    "doc_exact_dedup",
    "part_supplier_revenue",
    "embedding_topk",
    "embedding_lsh_hist",
    # round-3 capability (the substring/decontamination queries stay in
    # the correctness gate but out of the headline: their 40-char string
    # indexes pay multi-shuffle fixed costs that dwarf the 5k-row bench
    # corpus — see BASELINE.md round-3 notes)
    "doc_repetition_stats",
]


def force(df) -> int:
    """Fully execute a plan; returns row count via a cheap count over cached
    physical results is avoided — noop write executes every operator."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    from pii_redactor_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(
        app_name="pii-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    # Warm up the JVM + all Python workers once with the full UDF stage: a
    # 100 TB job amortizes worker startup over hours; the bench should
    # measure steady-state throughput, not one-time fork+import cost.
    force(qs["doc_scrub"](spark, SF_DIR))

    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        force(qs[name](spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 3)

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    by_length = _scrub_by_length_bucket(spark)
    image_decode = _image_decode_bench(spark)
    dedup_scale = _dedup_scale_bench(spark)
    ann_scale = _ann_scale_bench(spark)
    audio_scale = _audio_scale_bench(spark)
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "scrub_docs_per_sec": round(n_docs / timings["doc_scrub"], 1),
    }
    legs = {
        name: leg for name, leg in (
            ("scrub_by_length", by_length),
            ("image_decode", image_decode),
            ("dedup_scale", dedup_scale),
            ("ann_scale", ann_scale),
            ("audio_scale", audio_scale),
        ) if leg is not None
    }
    prev = _previous_round_timings()
    if prev:
        legs["prev_delta"] = {
            name: round(timings[name] - prev[name], 3)
            for name in timings if name in prev
        }
        prev_total = sum(v for k, v in prev.items() if k in timings)
        if prev_total:
            out["prev_total_ratio"] = round(
                sum(v for k, v in timings.items() if k in prev) / prev_total,
                3,
            )
    spark.stop()
    print(json.dumps(legs))
    print(json.dumps(out))


# Char-length bucket edges over the documents table (corpus spans ~44-580
# chars at bench SFs); the reference benchmarks the same short/medium/long/
# very_long shape per text (perf_test.py:204-233).
LENGTH_BUCKETS = [
    ("short", 0, 150),
    ("medium", 150, 300),
    ("long", 300, 450),
    ("very_long", 450, None),
]


def _scrub_by_length_bucket(spark) -> dict[str, dict]:
    """Scrub throughput by caption-length bucket — the reference's
    benchmark_text_lengths analog (perf_test.py:204-233) and the skew
    evidence the north rule asks for: docs/sec must degrade smoothly with
    length, not cliff on the long tail."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators.scrub import (
        parallelize_for_udf,
        scrub_udf,
    )

    # cache the repartitioned text once: the per-bucket loop then times
    # ONLY the scrub UDF, not 4 repeated full-table scan+shuffle passes
    docs = parallelize_for_udf(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    ).cache()
    docs.count()  # materialize before any timer starts
    out: dict[str, dict] = {}
    for name, lo, hi in LENGTH_BUCKETS:
        cond = F.length("text") >= lo
        if hi is not None:
            cond = cond & (F.length("text") < hi)
        sub = docs.where(cond)
        row = sub.agg(
            F.count("*").alias("n"), F.sum(F.length("text")).alias("chars")
        ).collect()[0]
        n, chars = row["n"], row["chars"]
        if not n:
            continue
        t0 = time.perf_counter()
        force(sub.withColumn("_s", scrub_udf(F.col("text"))).select("_s.keep"))
        dt = time.perf_counter() - t0
        out[name] = {
            "n_docs": n,
            "sec": round(dt, 3),
            "docs_per_sec": round(n / dt, 1),
            # the honest cross-bucket comparator: per-doc rates are
            # fixed-overhead dominated at bench scale (each bucket pays
            # one small job), chars/sec is the work-normalized number
            "chars_per_sec": round(chars / dt, 1),
        }
    docs.unpersist()
    return out


def _exif_scrub_split(spark, images_path, imgs, mix, rows) -> dict:
    """Build (cached) an Exif-tagged variant of the image corpus and time
    the metadata-PII scrub over it.  Tagging is deterministic from
    image_id; the cache (``fixtures/cache.py``) is keyed on exif.py, this
    function's source and the image fixture's files, so a scrubber,
    tag-layout or fixture change regenerates instead of timing stale
    bytes."""
    import hashlib
    import inspect

    from pii_redactor_spark.fixtures import exif as exif_mod
    from pii_redactor_spark.fixtures.cache import cached
    from pii_redactor_spark.operators.vision import scrub_image_metadata

    exif_dir = f"/root/repo/.cache/bench_img_exif_{rows}"

    def build():
        def tag(batches):
            import struct as _struct
            import zlib as _zlib

            import pandas as pd

            E = exif_mod

            def ifds_for(h):
                return {
                    "ifd0": {
                        0x013B: E.ExifTag(
                            0x013B, E.TYPE_ASCII, f"artist-{h % 97}"
                        ),
                        E.TAG_ORIENTATION: E.ExifTag(
                            E.TAG_ORIENTATION, E.TYPE_SHORT, [1 + h % 8]
                        ),
                    },
                    "exif": {
                        0xA431: E.ExifTag(
                            0xA431, E.TYPE_ASCII, f"SN-{h:08d}"
                        ),
                    },
                    "gps": {
                        1: E.ExifTag(1, E.TYPE_ASCII, "N"),
                        2: E.ExifTag(
                            2, E.TYPE_RATIONAL,
                            [(h % 90, 1), (h % 60, 1), (h % 6000, 100)],
                        ),
                    },
                }

            for pdf in batches:
                recs = []
                for iid, data, fmt in zip(
                    pdf["image_id"], pdf["bytes"], pdf["fmt"]
                ):
                    data = bytes(data)
                    h = int(
                        hashlib.md5(str(iid).encode()).hexdigest()[:8], 16
                    )
                    # every container gets its native PII carrier: APP1
                    # for JPEG, eXIf chunk for PNG, EXIF RIFF chunk for
                    # WebP, a comment extension for GIF
                    if fmt == "jpeg":
                        data = E.insert_exif(data, ifds_for(h))
                    elif fmt == "png":
                        tiff = E.build_tiff(ifds_for(h))
                        chunk = (
                            _struct.pack(">I", len(tiff)) + b"eXIf" + tiff
                            + _struct.pack(
                                ">I", _zlib.crc32(b"eXIf" + tiff)
                            )
                        )
                        data = data[:33] + chunk + data[33:]
                    elif fmt == "webp":
                        tiff = b"Exif\x00\x00" + E.build_tiff(ifds_for(h))
                        pad = b"\x00" if len(tiff) & 1 else b""
                        body = (
                            data[12:] + b"EXIF"
                            + _struct.pack("<I", len(tiff)) + tiff + pad
                        )
                        data = (b"RIFF"
                                + _struct.pack("<I", 4 + len(body))
                                + b"WEBP" + body)
                    elif fmt == "gif":
                        note = f"shot by artist-{h % 97}".encode()
                        ext = (b"\x21\xfe" + bytes([len(note)]) + note
                               + b"\x00")
                        packed = data[10]
                        cut = 13 + (
                            3 * (2 << (packed & 0x07))
                            if packed & 0x80 else 0
                        )
                        data = data[:cut] + ext + data[cut:]
                    recs.append((iid, data, fmt))
                yield pd.DataFrame(
                    recs, columns=["image_id", "bytes", "fmt"]
                )

        imgs.select("image_id", "bytes", "fmt").mapInPandas(
            tag, "image_id string, bytes binary, fmt string"
        ).write.mode("overwrite").parquet(os.path.join(exif_dir, "images"))

    data_path = cached(
        exif_dir, "images", build,
        sources=inspect.getsource(exif_mod)
        + inspect.getsource(_exif_scrub_split),
        params=(rows,), inputs=[images_path],
    )
    tagged = spark.read.parquet(data_path)
    force(scrub_image_metadata(tagged.limit(512)).select("image_id"))
    t0 = time.perf_counter()
    force(scrub_image_metadata(tagged).select("image_id"))
    dt = time.perf_counter() - t0
    from pyspark.sql import functions as F

    res = scrub_image_metadata(tagged)
    counts = res.agg(
        F.sum(F.col("had_gps").cast("long")).alias("gps"),
        F.sum(
            ((F.col("flag") == "ok") & (F.col("removed") != "")).cast("long")
        ).alias("scrubbed"),
    ).collect()[0]
    gps_tagged = sum(
        mix.get(f, 0) for f in ("jpeg", "png", "webp")
    )
    return {
        "n_images": rows,
        "sec": round(dt, 3),
        "images_per_sec": round(rows / dt, 1),
        "gps_tagged_rows": gps_tagged,
        "gps_found_and_removed": int(counts["gps"]),
        "rows_with_metadata_removed": int(counts["scrubbed"]),
    }


def _image_decode_bench(spark) -> dict | None:
    """Pixel-path throughput — the image-axis companion to
    scrub_by_length: decode_stats (mapInPandas over the binary column,
    bytes never on the driver) over a cached deterministic PNG fixture
    table.  The fixture cache is keyed on the generator-source fingerprint
    (``ensure_cached_fixture``), so a generator change regenerates instead
    of silently timing stale content; generation time is excluded from the
    measurement.  Returns None (and omits the field) if anything fails —
    the headline bench must never die on the image leg."""
    try:
        from pyspark.sql import functions as F

        from pii_redactor_spark.fixtures.images import ensure_cached_fixture
        from pii_redactor_spark.operators.vision import decode_stats

        rows = int(os.environ.get("BENCH_IMAGE_ROWS", "20000"))
        images_path = ensure_cached_fixture(
            spark, f"/root/repo/.cache/bench_img_{rows}", rows
        )
        imgs = spark.read.parquet(images_path).select(
            "image_id", "bytes", "fmt", "phash"
        )
        # warm the python workers on a slice so the timing is steady-state
        force(decode_stats(imgs.limit(512)))
        t0 = time.perf_counter()
        force(decode_stats(imgs).select("image_id"))
        dt = time.perf_counter() - t0
        # self-describing composition (round-4 verdict #8): the number
        # changed meaning when the lossy rows became real JFIF, so pin the
        # measured format mix + codec identity into the artifact
        mix = {
            r["fmt"]: r["n"]
            for r in imgs.groupBy("fmt").agg(
                F.count("*").alias("n")
            ).collect()
        }
        out = {
            "n_images": rows,
            "sec": round(dt, 3),
            "images_per_sec": round(rows / dt, 1),
            "png_frac": round(mix.get("png", 0) / max(rows, 1), 4),
            "jpeg_frac": round(mix.get("jpeg", 0) / max(rows, 1), 4),
            "gif_frac": round(mix.get("gif", 0) / max(rows, 1), 4),
            "webp_frac": round(mix.get("webp", 0) / max(rows, 1), 4),
            "codec": "fixtures.jpeg baseline T.81 (pure NumPy) + "
                     "fixtures.codecs PNG + fixtures.gif GIF89a + "
                     "fixtures.webp VP8L",
        }
        # per-codec splits (round 4 added jpeg_only when the lossy rows
        # became real JFIF; round 5 adds gif/webp so each pure-Python
        # entropy decoder's rate is visible on its own)
        for split_fmt in ("jpeg", "gif", "webp"):
            sub = imgs.where(F.col("fmt") == split_fmt)
            n_sub = mix.get(split_fmt, 0)
            if not n_sub:
                continue
            t0 = time.perf_counter()
            force(decode_stats(sub).select("image_id"))
            dt = time.perf_counter() - t0
            out[f"{split_fmt}_only"] = {
                "n_images": n_sub,
                "sec": round(dt, 3),
                "images_per_sec": round(n_sub / dt, 1),
            }
        # --- exif-scrub split (round 5): the image-modality PII pass.
        # An Exif-tagged variant of the SAME corpus (every JPEG row gets
        # GPS + serial + artist tags spliced in, derived from image_id —
        # cached, keyed on exif.py's source) is scrubbed with
        # scrub_image_metadata.  The claim under test: metadata scrub is
        # byte surgery, never a DCT, so its rate must sit far above
        # jpeg_only decode on the same rows.
        out["exif_scrub"] = _exif_scrub_split(
            spark, images_path, imgs, mix, rows
        )
        return out
    except Exception as exc:
        import traceback

        print(f"# image_decode leg failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def _dedup_scale_bench(spark) -> dict | None:
    """At-scale timing for the dedup/decontamination family (round-3
    verdict #2): the max_df salted-chain cap, winnowed substring sketch,
    broadcast bench-set semi-join, and LSH+components dedup are the parts
    of these operators that only matter beyond the 5k-doc sf corpus, so
    they are timed here on a cached 200k-doc synthetic corpus with the
    planted structure they exist for (near-dup clusters, a 30%-hot
    boilerplate prefix, unique bodies — fixtures/dedup_corpus.py).

    Also records the bounded-task evidence: the largest (shingle, salt)
    chain-window group in rows and text bytes — the quantity the salting
    exists to bound (an unsalted window would see the full hot posting
    list, ~0.3*n rows, in ONE task).  Returns None on any failure; the
    headline bench never dies on this leg.  ``BENCH_DEDUP_ROWS=0`` skips
    it."""
    try:
        from pii_redactor_spark.fixtures.dedup_corpus import (
            bench_slice,
            ensure_cached_dedup_corpus,
        )
        from pii_redactor_spark.operators.dedup import (
            CHAIN_SALT_BUCKETS,
            decontaminate,
            dedupe_near,
            sparse_jaccard_pairs,
            substring_dup_pairs,
            with_shingles,
        )

        rows = int(os.environ.get("BENCH_DEDUP_ROWS", "200000"))
        if rows <= 0:
            return None
        path = ensure_cached_dedup_corpus(
            spark, f"/root/repo/.cache/dedup_fx_{rows}", rows
        )
        docs = spark.read.parquet(path)

        out: dict = {"n_docs": rows}

        def leg(name, thunk):
            # build INSIDE the timer: dedupe_near's iterative components
            # run eagerly at DataFrame-construction time (localCheckpoint
            # + convergence counts), so constructing outside would leave
            # the real work untimed
            t0 = time.perf_counter()
            n = thunk().count()
            dt = time.perf_counter() - t0
            out[name] = {
                "sec": round(dt, 3),
                "docs_per_sec": round(rows / dt, 1),
                "out_rows": n,
            }

        from pyspark.sql import functions as F

        leg("sparse_jaccard_capped", lambda: sparse_jaccard_pairs(
            docs, "doc_id", "text", k=3, max_df=1000))
        leg("substring_dup_winnowed", lambda: substring_dup_pairs(
            docs, window=40, winnow=8, max_df=100))
        leg("decontaminate", lambda: decontaminate(
            docs, bench_slice(spark, rows)))
        leg("dedupe_near", lambda: dedupe_near(docs, min_jaccard=0.7))

        # bounded-task evidence: biggest (shingle, salt) chain group vs
        # the hot posting list an unsalted window would funnel into one
        # task (~0.3*rows for the boilerplate shingles)
        sh = with_shingles(docs, "text", 3).select(
            "doc_id",
            F.length("text").alias("_len"),
            F.explode("shingles").alias("shingle"),
        )
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > 1000)
        )
        grp = (
            sh.join(hot, "shingle", "left_semi")
            .withColumn(
                "_salt",
                F.pmod(F.xxhash64("doc_id"), F.lit(CHAIN_SALT_BUCKETS)),
            )
            .groupBy("shingle", "_salt")
            .agg(F.count("*").alias("n"), F.sum("_len").alias("b"))
            .agg(F.max("n").alias("max_rows"), F.max("b").alias("max_bytes"))
            .collect()[0]
        )
        out["max_hot_chain_group_rows"] = int(grp["max_rows"] or 0)
        out["max_hot_chain_group_bytes"] = int(grp["max_bytes"] or 0)
        out["unsalted_would_be_rows"] = int(rows * 0.3)
        return out
    except Exception as exc:
        import traceback

        print(f"# dedup_scale leg failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def _ann_scale_bench(spark) -> dict | None:
    """At-scale timing for the embedding/ANN family (round-4 verdict #3):
    LSH filter-then-verify near-dup, SemDeDup's within-cell join, and the
    IVF-partitioned store are the operators whose cost model only shows
    beyond the 500-5k-vector sf tables, so they are timed here on a
    cached 1M-vector corpus with planted cluster structure
    (fixtures/ann_corpus.py).  Reports vectors/sec, measured recall
    (planted-pair recall for LSH, recall@10 vs exact brute force for the
    IVF store at nprobe 4 and 16), and the max on-disk IVF cell bytes —
    the partition-pruning bound.  ``BENCH_ANN_ROWS=0`` skips; any failure
    returns None (the headline bench never dies on this leg)."""
    try:
        from pyspark.sql import functions as F

        from pii_redactor_spark.fixtures.ann_corpus import (
            CLUSTER_SIZE,
            ensure_cached_ann_corpus,
            query_vector,
        )
        from pii_redactor_spark.operators.similarity import (
            brute_force_topk,
            cosine,
            dot,
            ivf_assign,
            ivf_topk_partitioned,
            neardup_pairs_lsh,
            write_ivf_partitioned,
        )

        rows = int(os.environ.get("BENCH_ANN_ROWS", "1000000"))
        if rows <= 0:
            return None
        path = ensure_cached_ann_corpus(
            spark, f"/root/repo/.cache/ann_fx_{rows}", rows
        )
        vecs = spark.read.parquet(path)
        out: dict = {"n_vectors": rows, "dim": 64}

        # --- LSH near-dup: filter-then-verify at threshold 0.95 ---------
        # planted ground truth: members 0 and 1 of every cluster
        # (cosine ~0.998); regular clustermates sit at ~0.94, below the
        # threshold, so the true pair count is exactly n_clusters.
        n_planes, n_tables = 16, 2
        t0 = time.perf_counter()
        pairs = neardup_pairs_lsh(
            vecs, threshold=0.95, dim=64, n_planes=n_planes,
            n_tables=n_tables,
        )
        planted = pairs.where(
            (F.col("id_a") % CLUSTER_SIZE < 2)
            & (F.col("id_b") % CLUSTER_SIZE < 2)
            & (F.col("id_a") == F.col("id_b") - 1)
        ).count()
        dt = time.perf_counter() - t0
        n_true = rows // CLUSTER_SIZE
        out["lsh_neardup"] = {
            "sec": round(dt, 3),
            "vectors_per_sec": round(rows / dt, 1),
            "n_planes": n_planes,
            "n_tables": n_tables,
            "planted_pair_recall": round(planted / n_true, 4),
        }

        # --- SemDeDup within-cell join at a scale-sized codebook --------
        # cells grow with n (~n/30 occupancy target) so the self-join cost
        # stays sum(|cell|^2), never n^2 — the operator's 100 TB story.
        n_cells = max(1024, rows // 32)
        t0 = time.perf_counter()
        assigned = ivf_assign(vecs, dim=64, n_cells=n_cells).select(
            "vec_id", "embedding", "ivf_cell"
        )
        nz = assigned.where(dot(F.col("embedding"), F.col("embedding")) > 0)
        a = nz.select("ivf_cell", F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("va"))
        b = nz.select("ivf_cell", F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"))
        dup = (
            a.join(b, "ivf_cell")
            .where(F.col("id_a") < F.col("id_b"))
            .where(cosine(F.col("va"), F.col("vb")) >= 0.9)
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
        )
        survivors = vecs.select("vec_id").join(dup, "vec_id", "left_anti")
        n_surv = survivors.count()
        dt = time.perf_counter() - t0
        max_cell = (
            assigned.groupBy("ivf_cell").agg(F.count("*").alias("n"))
            .agg(F.max("n").alias("m")).collect()[0]["m"]
        )
        out["semdedup"] = {
            "sec": round(dt, 3),
            "vectors_per_sec": round(rows / dt, 1),
            "n_cells": n_cells,
            "survivors": n_surv,
            "max_cell_rows": int(max_cell),
        }

        # --- IVF-partitioned store: build once, probe at 4 and 16 -------
        store = f"/root/repo/.cache/ann_ivf_{rows}"
        n_store_cells = 1024
        t0 = time.perf_counter()
        write_ivf_partitioned(vecs, store, dim=64, n_cells=n_store_cells)
        build_dt = time.perf_counter() - t0
        import glob as _glob
        cell_bytes = [
            sum(os.path.getsize(f)
                for f in _glob.glob(os.path.join(d, "*.parquet")))
            for d in _glob.glob(os.path.join(store, "ivf_cell=*"))
        ]
        q_cluster = 5
        qv = query_vector(q_cluster)
        exact = {
            r["vec_id"]
            for r in brute_force_topk(vecs, qv, k=10).collect()
        }
        ivf = {"build_sec": round(build_dt, 3),
               "build_vectors_per_sec": round(rows / build_dt, 1),
               "n_cells": n_store_cells,
               "max_cell_bytes": max(cell_bytes) if cell_bytes else 0}
        for nprobe in (4, 16):
            t0 = time.perf_counter()
            got = {
                r["vec_id"]
                for r in ivf_topk_partitioned(
                    spark, store, qv, k=10, nprobe=nprobe, dim=64,
                    n_cells=n_store_cells,
                ).collect()
            }
            dt = time.perf_counter() - t0
            ivf[f"nprobe_{nprobe}"] = {
                "sec": round(dt, 3),
                "recall_at_10": round(len(got & exact) / 10, 2),
            }
        out["ivf_store"] = ivf
        return out
    except Exception as exc:
        import traceback

        print(f"# ann_scale leg failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def _audio_scale_bench(spark) -> dict | None:
    """At-scale timing for the audio family (round 5): WAV decode +
    signal stats (``audio_stats``), the metadata-only quality gate, ASR
    chunking, and resample-to-16k over a cached synthetic corpus with
    planted gate-triggering rows AND ~1% corrupt rows, so the poison
    guard is inside the measured path like a real web scrape.  Reports
    clips/sec and — the work-normalized number, since clip lengths span
    0.12 s to 5 min — audio-seconds decoded per second.
    ``BENCH_AUDIO_ROWS=0`` skips; any failure returns None (the headline
    bench never dies on this leg)."""
    try:
        from pyspark.sql import functions as F

        from pii_redactor_spark.fixtures.audio_corpus import (
            ensure_cached_audio_corpus,
        )
        from pii_redactor_spark.operators.audio import (
            audio_quality_flags,
            audio_stats,
            chunk_audio,
            resample_audio,
        )

        rows = int(os.environ.get("BENCH_AUDIO_ROWS", "20000"))
        if rows <= 0:
            return None
        path = ensure_cached_audio_corpus(
            spark, f"/root/repo/.cache/audio_fx_{rows}", rows
        )
        clips = spark.read.parquet(path).select("audio_id", "bytes")
        # composition pin (same self-description contract as image_decode:
        # cross-round numbers change meaning when the codec mix changes) —
        # measured, not the generator's expectations
        comp = {
            r["c"]: r["n"]
            for r in clips.groupBy(
                F.substring("bytes", 1, 4).cast("string").alias("c")
            ).agg(F.count("*").alias("n")).collect()
        }
        out: dict = {
            "n_clips": rows,
            "composition": {
                "wav_frac": round(comp.get("RIFF", 0) / rows, 4),
                "flac_frac": round(comp.get("fLaC", 0) / rows, 4),
                "other_frac": round(
                    (rows - comp.get("RIFF", 0) - comp.get("fLaC", 0))
                    / rows, 4,
                ),
                "codec": "wav.py(pcm+g711+adpcm)+flac.py",
            },
        }

        # warm the Python workers so the timing is steady-state
        force(audio_stats(clips.limit(256)))

        # --- decode + stats (the ingest pass every later gate reads) ----
        t0 = time.perf_counter()
        stats = audio_stats(clips)
        agg = stats.agg(
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum("duration_ms").alias("total_ms"),
        ).collect()[0]
        dt = time.perf_counter() - t0
        audio_s = (agg["total_ms"] or 0) / 1000.0
        out["decode_stats"] = {
            "sec": round(dt, 3),
            "clips_per_sec": round(rows / dt, 1),
            "audio_sec_per_sec": round(audio_s / dt, 1),
            "n_ok": int(agg["n_ok"] or 0),
            "n_poison": rows - int(agg["n_ok"] or 0),
            "total_audio_sec": round(audio_s, 1),
        }

        # --- FLAC-only split (same honesty contract as jpeg_only on the
        # image leg: the compressed-codec slice is the slow path, and the
        # mixed number changes meaning when the mix changes) ------------
        n_flac = int(comp.get("fLaC", 0))
        if n_flac:
            flac_clips = clips.filter(
                F.substring("bytes", 1, 4) == F.lit(b"fLaC")
            )
            t0 = time.perf_counter()
            fagg = audio_stats(flac_clips).agg(
                F.sum("duration_ms").alias("total_ms")
            ).collect()[0]
            dt = time.perf_counter() - t0
            out["decode_stats"]["flac_only"] = {
                "n_clips": n_flac,
                "sec": round(dt, 3),
                "clips_per_sec": round(n_flac / dt, 1),
                "audio_sec_per_sec": round(
                    (fagg["total_ms"] or 0) / 1000.0 / dt, 1
                ),
            }

        # --- metadata-only gate: rides the SAME decode pass (cheap agg
        # on top), so its marginal cost is what the plan claims: ~zero --
        t0 = time.perf_counter()
        kept = (
            audio_stats(clips)
            .withColumn("keep", F.size(audio_quality_flags()) == 0)
            .agg(F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()[0]["k"]
        )
        dt = time.perf_counter() - t0
        out["quality_gate"] = {
            "sec": round(dt, 3),
            "clips_per_sec": round(rows / dt, 1),
            "n_keep": int(kept or 0),
            "keep_frac": round(int(kept or 0) / rows, 4),
        }

        # --- ASR chunking (decode + window + re-encode per chunk) -------
        t0 = time.perf_counter()
        # count() (not the noop force, which returns no rows): the chunk
        # count is the leg's sanity output, and counting a mapInPandas
        # result executes the full decode+window+re-encode path anyway
        n_chunks = chunk_audio(clips, chunk_ms=500).count()
        dt = time.perf_counter() - t0
        out["chunk_500ms"] = {
            "sec": round(dt, 3),
            "clips_per_sec": round(rows / dt, 1),
            "out_chunks": n_chunks,
        }

        # --- resample to 16 kHz (decode + interp + re-encode) -----------
        t0 = time.perf_counter()
        force(resample_audio(clips, 16_000).select("audio_id"))
        dt = time.perf_counter() - t0
        out["resample_16k"] = {
            "sec": round(dt, 3),
            "clips_per_sec": round(rows / dt, 1),
            "audio_sec_per_sec": round(audio_s / dt, 1),
        }

        # --- spectral fingerprint + pigeonhole near-dup join ------------
        # ground truth: every DUP_STRIDE-th row is a planted -46 dB
        # re-encode of its predecessor; recall is measured over planted
        # pairs whose BOTH sides survive decode + the degeneracy filter
        # (all-floor fingerprints — digital silence — are semantic
        # near-dups of each other and would pair quadratically; a real
        # pipeline drops them at the quality gate first, so the join
        # runs on non-degenerate fingerprints only, and the filter is
        # itself part of the measured path)
        from pii_redactor_spark.fixtures.audio_corpus import DUP_STRIDE
        from pii_redactor_spark.operators.audio import (
            audio_fingerprints,
            audio_neardup_pairs,
        )

        t0 = time.perf_counter()
        fps = audio_fingerprints(clips).where(F.col("ok"))
        pc = F.bit_count("fingerprint")
        solid = fps.where((pc >= 8) & (pc <= 56)).localCheckpoint()
        n_solid = solid.count()
        fp_dt = time.perf_counter() - t0
        t0 = time.perf_counter()
        pairs = audio_neardup_pairs(solid, max_hamming=4).localCheckpoint()
        n_pairs = pairs.count()
        join_dt = time.perf_counter() - t0
        # recall ground truth: planted pairs whose BOTH sides survive the
        # filters and whose base is not 'silence' (a noisy re-encode of
        # digital silence is a different random noise floor — no
        # fingerprint should call those dups, and the quality gate drops
        # silence rows before dedup anyway)
        num = F.substring("audio_id", 3, 10).cast("long")
        ids = solid.select(num.alias("i"))
        bases = (
            spark.read.parquet(path)
            .where(F.col("kind") != "silence")
            .select(num.alias("i"))
        )
        planted = (
            ids.where(F.col("i") % DUP_STRIDE == DUP_STRIDE - 1)
            .join(ids.selectExpr("i + 1 AS i"), "i", "inner")
            .join(bases.selectExpr("i + 1 AS i"), "i", "left_semi")
            .count()
        )
        pa = F.substring("id_a", 3, 10).cast("long")
        pb = F.substring("id_b", 3, 10).cast("long")
        hit = (
            pairs.where(
                (pb == pa + 1) & (pa % DUP_STRIDE == DUP_STRIDE - 2)
            )
            .join(bases.selectExpr("i AS _ba"),
                  pa == F.col("_ba"), "left_semi")
            .count()
        )
        out["fingerprint_neardup"] = {
            "fingerprint_sec": round(fp_dt, 3),
            "fingerprint_clips_per_sec": round(rows / fp_dt, 1),
            "join_sec": round(join_dt, 3),
            "n_solid": n_solid,
            "pairs_found": n_pairs,
            "planted_pairs": planted,
            "planted_recall": round(hit / planted, 4) if planted else None,
        }
        return out
    except Exception as exc:
        import traceback

        print(f"# audio_scale leg failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def _previous_round_timings() -> dict[str, float]:
    """Per-query seconds from the latest BENCH_r{N}.json, for mechanical
    regression visibility round-over-round.  Round-1 names map onto their
    round-2 successors."""
    import glob
    import re

    renames = {"doc_scrub_nosql": "doc_scrub",
               "embedding_lsh_nosql": "embedding_lsh_hist"}
    here = os.path.dirname(os.path.abspath(__file__))
    candidates = [
        (re.search(r"BENCH_r(\d+)\.json$", p), p)
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
    ]
    benches = [p for m, p in sorted(
        ((m, p) for m, p in candidates if m),
        key=lambda mp: int(mp[0].group(1)),
    )]
    if not benches:
        return {}
    try:
        with open(benches[-1]) as f:
            doc = json.load(f)
        prev = (doc.get("parsed") or doc).get("queries", {})
        if not prev and isinstance(doc.get("tail"), str):
            # driver artifacts sometimes carry parsed=null with a
            # truncated "tail" string; the queries map usually survives
            # intact inside it
            m = re.search(r'"queries":\s*(\{[^{}]*\})', doc["tail"])
            if m:
                prev = json.loads(m.group(1))
    except (OSError, json.JSONDecodeError, AttributeError):
        return {}
    return {renames.get(k, k): float(v) for k, v in prev.items()}


if __name__ == "__main__":
    main()
