"""Smoke test for bench.py: it ends its stdout with a short headline JSON
line, after a line that holds the legs, so a reader that keeps only the
tail of the output still parses the headline."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = "/root/repo"


HEADLINE_KEYS = {"metric", "value", "unit", "queries", "sf", "cpus",
                 "scrub_docs_per_sec", "prev_total_ratio"}


def test_bench_emits_one_json_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_IMAGE_ROWS="2000",
        BENCH_DEDUP_ROWS="5000",
        BENCH_ANN_ROWS="4000",
        BENCH_AUDIO_ROWS="2000",
    )
    proc = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, timeout=420, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    # the headline is the last line and fits the 2,000 characters a
    # tail-keeping reader retains; the legs are on the line before it
    assert len(lines[-1]) <= 2000, len(lines[-1])
    out = json.loads(lines[-1])
    assert set(out) <= HEADLINE_KEYS, set(out) - HEADLINE_KEYS
    assert HEADLINE_KEYS - {"prev_total_ratio"} <= set(out), out
    legs = json.loads(lines[-2])
    assert out["unit"] == "sec"
    assert out["value"] > 0
    assert set(out["queries"]) >= {"doc_scrub", "pricing_summary"}
    assert all(v >= 0 for v in out["queries"].values())
    # the image-axis leg must be present and sane (pixel decode path)
    assert legs["image_decode"]["n_images"] == 2000
    assert legs["image_decode"]["images_per_sec"] > 0
    # the dedup-at-scale leg must be present and sane (round-3 verdict #2)
    ds = legs["dedup_scale"]
    assert ds["n_docs"] == 5000
    for op in ("sparse_jaccard_capped", "substring_dup_winnowed",
               "decontaminate", "dedupe_near"):
        assert ds[op]["docs_per_sec"] > 0, op
    # bounded-task evidence: the salted chain group stays far below the
    # hot posting list an unsalted window would see
    assert 0 < ds["max_hot_chain_group_rows"] < ds["unsalted_would_be_rows"]
    # the ANN-at-scale leg must be present and sane (round-4 verdict #3)
    ann = legs["ann_scale"]
    assert ann["n_vectors"] == 4000
    assert ann["lsh_neardup"]["planted_pair_recall"] >= 0.5
    assert ann["semdedup"]["survivors"] > 0
    assert ann["ivf_store"]["nprobe_16"]["recall_at_10"] >= \
        ann["ivf_store"]["nprobe_4"]["recall_at_10"] - 0.2
    assert ann["ivf_store"]["nprobe_16"]["recall_at_10"] >= 0.8
    assert ann["ivf_store"]["max_cell_bytes"] > 0
    # the audio-at-scale leg must be present and sane (round 5)
    au = legs["audio_scale"]
    assert au["n_clips"] == 2000
    assert au["decode_stats"]["clips_per_sec"] > 0
    assert au["decode_stats"]["audio_sec_per_sec"] > 0
    # planted ~1% corrupt rows survive as poison accounting, not crashes
    assert 0 < au["decode_stats"]["n_poison"] < 2000 * 0.05
    assert 0 < au["quality_gate"]["n_keep"] < 2000
    # 0.12-3 s clips at 500 ms windows => strictly more chunks than clips
    assert au["chunk_500ms"]["out_chunks"] > au["decode_stats"]["n_ok"]
    assert au["resample_16k"]["clips_per_sec"] > 0
    # fingerprint near-dup: planted noisy re-encodes must be recovered
    fn = au["fingerprint_neardup"]
    assert fn["fingerprint_clips_per_sec"] > 0
    assert fn["planted_pairs"] > 50  # ~5% of 2000, minus losses
    assert fn["planted_recall"] >= 0.8
    # the join must not blow up quadratically on degenerate content
    assert fn["pairs_found"] < 2000 * 10
