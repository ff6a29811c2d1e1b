"""Toxicity word-list stage: scoring, masking, pipeline wiring, plan shape.

The north rule names "PII/toxicity-scrub" as one stage; these pin the
toxicity half (functions/toxicity.py): token-fraction scoring, in-place
masking, the keep-gate AND, and that the whole thing stays a JVM projection
(no Python nodes, no shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.functions.toxicity import (
    DEFAULT_TOXICITY_THRESHOLD,
    ToxicityConfig,
    mask_toxic,
    toxic_hits,
    toxicity_score,
    with_toxicity,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("d1", "the slow fox and the dup line", True),
            ("d2", "clean caption with no hits", True),
            ("d3", "slow slow slow junk", True),
            ("d4", "", True),
            ("d5", "dropped already", False),
        ],
        "doc_id string, text string, keep boolean",
    )


def test_scores_and_hits(df):
    r = {x["doc_id"]: x for x in df.select(
        "doc_id",
        toxic_hits("text").alias("n"),
        toxicity_score("text").alias("s"),
    ).collect()}
    assert r["d1"]["n"] == 2 and abs(r["d1"]["s"] - 2 / 7) < 1e-12
    assert r["d2"]["n"] == 0 and r["d2"]["s"] == 0.0
    assert r["d3"]["n"] == 4 and r["d3"]["s"] == 1.0
    # empty text: split -> [""], denominator 1, score total (no NaN/null)
    assert r["d4"]["n"] == 0 and r["d4"]["s"] == 0.0


def test_mask_preserves_join_structure(df):
    r = {x["doc_id"]: x["m"] for x in df.select(
        "doc_id", mask_toxic("text").alias("m")).collect()}
    assert r["d1"] == "the [TOXIC] fox and the [TOXIC] line"
    assert r["d2"] == "clean caption with no hits"   # untouched
    assert r["d3"] == "[TOXIC] [TOXIC] [TOXIC] [TOXIC]"
    assert r["d4"] == ""


def test_with_toxicity_gates_keep_and_masks(df):
    out = with_toxicity(df, "text", mask_cols=("text",), keep_col="keep")
    rows = {x["doc_id"]: x for x in out.collect()}
    # d3 is 100% toxic -> flagged, keep flipped to False
    assert rows["d3"]["toxic_flag"] and not rows["d3"]["keep"]
    # d2 clean -> keep unchanged True
    assert not rows["d2"]["toxic_flag"] and rows["d2"]["keep"]
    # d5 was already dropped; stays dropped regardless of flag
    assert not rows["d5"]["keep"]
    # masking applied in place
    assert "[TOXIC]" in rows["d1"]["text"]


def test_custom_config(df):
    cfg = ToxicityConfig(blocklist=("clean",), threshold=0.5, mask="<X>")
    out = with_toxicity(df, "text", cfg=cfg, mask_cols=("text",))
    rows = {x["doc_id"]: x for x in out.collect()}
    assert rows["d2"]["n_toxic"] == 1
    assert rows["d2"]["text"].startswith("<X> caption")
    assert not rows["d2"]["toxic_flag"]          # 1/5 < 0.5
    assert rows["d1"]["n_toxic"] == 0


def test_threshold_boundary(spark):
    # score == threshold must flag (>= semantics, matching the oracle SQL)
    text = " ".join(["slow"] * 3 + ["ok"] * 97)    # score exactly 3/100
    df = spark.createDataFrame([(text,)], "text string")
    r = with_toxicity(df, "text").collect()[0]
    assert abs(r["toxicity"] - DEFAULT_TOXICITY_THRESHOLD) < 1e-12
    assert r["toxic_flag"]


def test_plan_is_pure_projection(df):
    out = with_toxicity(df, "text", mask_cols=("text",), keep_col="keep")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "FlatMapGroupsInPandas"):
        assert bad not in plan, f"toxicity stage introduced {bad}:\n{plan}"


def test_joined_path_matches_expression_path(spark, df):
    """with_toxicity_joined (broadcast-join scale path for big lexicons)
    must agree with the isin-expression path on every output column."""
    from pii_redactor_spark.functions.toxicity import with_toxicity_joined

    lex = spark.createDataFrame([("slow",), ("dup",), ("junk",)],
                                "token string")
    expr = with_toxicity(df, "text").select(
        "doc_id", "n_toxic", "toxicity", "toxic_flag",
        mask_toxic("text").alias("masked"),
    )
    joined = with_toxicity_joined(df, "text", lex, "doc_id").select(
        "doc_id", "n_toxic", "toxicity", "toxic_flag", "masked",
    )
    e = {r["doc_id"]: r.asDict() for r in expr.collect()}
    j = {r["doc_id"]: r.asDict() for r in joined.collect()}
    assert set(e) == set(j)
    for k in e:
        assert e[k] == j[k], f"{k}: {e[k]} != {j[k]}"


def test_joined_path_plan_shape(spark, df):
    """The lexicon join must be a broadcast hash join (no corpus shuffle on
    the token column) and stay free of Python eval nodes."""
    from pii_redactor_spark.functions.toxicity import with_toxicity_joined

    lex = spark.createDataFrame([("slow",)], "token string")
    out = with_toxicity_joined(df, "text", lex, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The token join (corpus-sized probe side) must be broadcast; the scored
    # join-back on the id is corpus-sized on BOTH sides, so a shuffle join
    # is correct there — only Python nodes and cartesian shapes are banned.
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("BatchEvalPython", "ArrowEvalPython",
                "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"joined toxicity path has {bad}:\n{plan}"


def test_parse_blocklist(tmp_root):
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    from scrub_job import parse_blocklist

    assert parse_blocklist("a, b ,a,c") == ("a", "b", "c")
    path = f"{tmp_root}/lex.txt"
    with open(path, "w", encoding="utf-8") as f:
        f.write("# curated lexicon\nslow\n\ndup\nslow\n")
    assert parse_blocklist(f"@{path}") == ("slow", "dup")
    empty = f"{tmp_root}/empty_lex.txt"
    with open(empty, "w", encoding="utf-8") as f:
        f.write("# only comments\n\n")
    for bad in (",", " , ", f"@{empty}"):
        with pytest.raises(ValueError):
            parse_blocklist(bad)


def test_streaming_scrub_carries_toxicity(spark, tmp_root):
    """scrub_file_stream(toxicity=...) emits the same extra columns as the
    batch decisions table and gates keep identically (availableNow drain)."""
    from pii_redactor_spark.fixtures.captions import CaptionConfig
    from pii_redactor_spark.fixtures.images import write_fixture_tables
    from pii_redactor_spark.streaming.scrub_stream import scrub_file_stream

    images_path, _ = write_fixture_tables(
        spark, f"{tmp_root}/tox_stream_fx", 48, CaptionConfig(), partitions=2
    )
    tok = (
        spark.read.parquet(images_path)
        .select(F.explode(F.split("caption", " ")).alias("t"))
        .where(F.length("t") > 2)
        .groupBy("t").count().orderBy(F.desc("count"))
        .first()["t"]
    )
    cfg = ToxicityConfig(blocklist=(tok,), threshold=0.0001)
    out_dir = f"{tmp_root}/tox_stream_out"
    q = (
        scrub_file_stream(spark, images_path, toxicity=cfg)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{tmp_root}/tox_stream_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert {"n_toxic", "toxicity", "toxic_flag"} <= set(got.columns)
    agg = got.agg(
        F.sum("n_toxic").alias("hits"),
        F.sum(F.when(F.col("toxic_flag") & F.col("keep"), 1)
              .otherwise(0)).alias("kept_flagged"),
    ).collect()[0]
    assert agg["hits"] > 0 and agg["kept_flagged"] == 0


def test_pipeline_decisions_carry_toxicity(spark, tmp_root):
    """scrub_decisions(toxicity=...) emits the three columns and gates keep;
    default (None) emits none — byte-stable existing behavior."""
    from pii_redactor_spark.fixtures.captions import CaptionConfig
    from pii_redactor_spark.fixtures.images import write_fixture_tables
    from pii_redactor_spark.pipeline.run import scrub_decisions
    from pii_redactor_spark.sources import storage

    images_path, _ = write_fixture_tables(
        spark, f"{tmp_root}/tox_fx", 64, CaptionConfig(), partitions=4
    )
    src = storage.read_table(spark, images_path)
    base = scrub_decisions(src)
    assert "toxicity" not in base.columns

    # blocklist a token guaranteed present in some synthetic captions
    tok = (
        src.select(F.explode(F.split("caption", " ")).alias("t"))
        .where(F.length("t") > 2)
        .groupBy("t").count().orderBy(F.desc("count"))
        .first()["t"]
    )
    cfg = ToxicityConfig(blocklist=(tok,), threshold=0.0001)
    out = scrub_decisions(src, toxicity=cfg)
    assert {"n_toxic", "toxicity", "toxic_flag"} <= set(out.columns)
    agg = out.agg(
        F.sum(F.col("n_toxic")).alias("hits"),
        F.sum(F.when(F.col("toxic_flag") & ~F.col("keep"), 1)
              .otherwise(0)).alias("dropped_flagged"),
        F.sum(F.when(F.col("toxic_flag") & F.col("keep"), 1)
              .otherwise(0)).alias("kept_flagged"),
    ).collect()[0]
    assert agg["hits"] > 0
    assert agg["kept_flagged"] == 0          # every flagged row is dropped
    assert agg["dropped_flagged"] > 0
    # masked outputs contain the mask wherever the raw caption had the token
    masked = out.where(F.col("n_toxic") > 0).select("scrubbed").first()
    assert "[TOXIC]" in masked["scrubbed"]


def test_null_text_does_not_poison_keep(spark):
    """NULL text must not NULL-out the keep decision through the gate AND
    (rows would vanish from both kept and dropped counters)."""
    df = spark.createDataFrame(
        [("n1", None, True), ("n2", "slow slow", True)],
        "doc_id string, text string, keep boolean",
    )
    rows = {r["doc_id"]: r for r in
            with_toxicity(df, "text", keep_col="keep").collect()}
    assert rows["n1"]["toxic_flag"] is False
    assert rows["n1"]["keep"] is True          # unchanged, not NULL
    assert rows["n2"]["keep"] is False


def test_joined_path_null_text_flag_total(spark):
    from pii_redactor_spark.functions.toxicity import with_toxicity_joined

    df = spark.createDataFrame(
        [("n1", None), ("n2", "slow ok")], "doc_id string, text string"
    )
    lex = spark.createDataFrame([("slow",)], "token string")
    rows = {r["doc_id"]: r for r in
            with_toxicity_joined(df, "text", lex, "doc_id").collect()}
    assert rows["n1"]["toxic_flag"] is False      # total, not NULL
    assert rows["n1"]["n_toxic"] == 0             # NULL scores as empty text
    assert rows["n1"]["toxicity"] == 0.0
    assert rows["n2"]["toxic_flag"] is True


def test_expressions_total_under_legacy_sizeofnull(spark):
    """Round-3 advice: under spark.sql.ansi.enabled=false +
    legacy.sizeOfNull (size(NULL) = -1), the old expressions scored NULL
    captions n_toxic=-1, toxicity=1.0 — silently dropping every
    NULL-caption row through the keep gate.  The NULL→'' fold in _tokens
    must make all three columns total and zero under BOTH regimes."""
    df = spark.createDataFrame(
        [("n1", None, True), ("n2", "slow slow", True)],
        "doc_id string, text string, keep boolean",
    )
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
    }
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
        rows = {r["doc_id"]: r for r in
                with_toxicity(df, "text", keep_col="keep").collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert rows["n1"]["n_toxic"] == 0
    assert rows["n1"]["toxicity"] == 0.0
    assert rows["n1"]["toxic_flag"] is False
    assert rows["n1"]["keep"] is True
    assert rows["n2"]["keep"] is False
