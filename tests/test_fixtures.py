"""Fixture tests: codec integrity, determinism, span ground truth."""

from __future__ import annotations

import numpy as np
import pytest

from pii_redactor_spark.core.detect import detect_spans
from pii_redactor_spark.fixtures.captions import CaptionConfig, make_caption, rng_for
from pii_redactor_spark.fixtures.codecs import (
    decode_image,
    decode_lossy,
    decode_png,
    encode_lossy,
    encode_png,
    phash64,
    phash_prefix,
    psnr,
)
from pii_redactor_spark.fixtures.images import generate_batch, make_pixels


def test_png_roundtrip_lossless():
    rng = np.random.default_rng(1)
    px = make_pixels(rng, 33, 17)  # non-multiple-of-8 sizes too
    out = decode_png(encode_png(px))
    np.testing.assert_array_equal(px, out)


def test_lossy_roundtrip_psnr_above_40db():
    rng = np.random.default_rng(2)
    px = make_pixels(rng, 64, 64)
    recon = decode_lossy(encode_lossy(px))
    value = psnr(px, recon)
    assert value >= 40.0, value
    assert value != float("inf")  # it IS lossy


def test_psnr_identical_is_inf():
    px = np.zeros((8, 8, 3), dtype=np.uint8)
    assert psnr(px, px) == float("inf")


def test_phash_deterministic_and_discriminative():
    rng = np.random.default_rng(3)
    a = make_pixels(rng, 32, 32)
    b = make_pixels(rng, 32, 32)
    assert phash64(a) == phash64(a)
    assert phash64(a) != phash64(b)
    assert 0 <= phash_prefix(phash64(a)) < 256


def test_rng_keyed_by_id_not_order():
    r1 = make_caption("img000000000042")
    r2 = make_caption("img000000000042")
    assert r1 == r2
    assert make_caption("img000000000043") != r1


def test_caption_spans_are_exact():
    """True spans must slice to the recorded entity text."""
    for i in range(300):
        cap = make_caption(f"img{i:012d}")
        for e in cap["entities"]:
            assert cap["caption"][e["start"]:e["end"]] == e["text"]


def test_detection_recovers_true_spans():
    """The rules engine must find exactly the generated spans on template rows."""
    mism = 0
    total = 0
    for i in range(400):
        cap = make_caption(f"img{i:012d}")
        if cap["kind"] != "template":
            continue
        truth = {(e["start"], e["end"]) for e in cap["entities"]}
        found = {(s, e) for s, e, _t, _c in detect_spans(cap["caption"])}
        total += max(len(truth), 1)
        if truth != found:
            mism += 1
    assert mism == 0, f"{mism} caption(s) with span mismatch"


def test_generate_batch_images_and_labels():
    images, labels = generate_batch([f"img{i:012d}" for i in range(50)],
                                    CaptionConfig())
    assert len(images) == len(labels) == 50
    assert set(images.columns) >= {"image_id", "bytes", "w", "h", "fmt",
                                   "caption", "phash", "phash_prefix"}
    # pixels decode and match declared dims
    for _, row in images.head(10).iterrows():
        px = decode_image(row["bytes"], row["fmt"])
        assert px.shape == (row["h"], row["w"], 3)
    # junk rows are dropped, template rows kept
    joined = images.merge(labels, on="image_id")
    junk = joined[joined["kind"] == "junk"]
    assert (~junk["keep_expected"]).all()
    tmpl = joined[joined["kind"] == "template"]
    assert tmpl["keep_expected"].mean() > 0.95


def test_fixture_gif_rows_exact_and_present():
    """Round 5: ~10% of fixture rows are GIF89a.  GIF is palette-bound, so
    those rows carry posterized (<= 64-color) pixels and must round-trip
    byte-exact through the real LZW codec; the jpeg band must be untouched
    by the format-routing change (same single rng draw)."""
    images, _ = generate_batch([f"img{i:012d}" for i in range(300)],
                               CaptionConfig())
    mix = images["fmt"].value_counts(normalize=True)
    assert 0.05 < mix.get("gif", 0) < 0.16, dict(mix)
    assert 0.14 < mix.get("jpeg", 0) < 0.27, dict(mix)
    assert 0.05 < mix.get("webp", 0) < 0.16, dict(mix)
    webp_rows = images[images["fmt"] == "webp"]
    for _, row in webp_rows.head(4).iterrows():
        px = decode_image(row["bytes"], "webp")
        assert px.shape == (row["h"], row["w"], 3)
        assert phash64(px) == row["phash"]  # VP8L keeps true pixels exactly
    gif_rows = images[images["fmt"] == "gif"]
    for _, row in gif_rows.head(8).iterrows():
        px = decode_image(row["bytes"], "gif")
        assert px.shape == (row["h"], row["w"], 3)
        assert len(np.unique(px.reshape(-1, 3), axis=0)) <= 64
        assert set(np.unique(px)) <= {32, 96, 160, 224}
        assert phash64(px) == row["phash"]


def test_labels_scrub_consistent_with_truth():
    _, labels = generate_batch([f"img{i:012d}" for i in range(100, 200)],
                               CaptionConfig())
    for _, row in labels.iterrows():
        if row["kind"] == "template" and not row["entities"]:
            assert not row["has_pii_expected"]
        if row["has_pii_expected"]:
            assert "[" in row["scrubbed_expected"]


def test_fixture_cache_keyed_on_config(spark, tmp_root):
    """Round-3 advice: the cache marker must include the CaptionConfig
    (and partition layout), not just fingerprint:n_rows — two callers
    sharing an out_dir with different cfg must not silently reuse the
    first caller's fixture."""
    from pii_redactor_spark.fixtures.images import (
        ensure_cached_fixture,
        fixture_is_fresh,
    )

    out = f"{tmp_root}/cache_fx"
    ensure_cached_fixture(spark, out, 40, CaptionConfig(), partitions=2)
    assert fixture_is_fresh(out, 40, CaptionConfig(), partitions=2)
    # different row count, config, or layout each invalidate
    assert not fixture_is_fresh(out, 41, CaptionConfig(), partitions=2)
    skew = CaptionConfig(heavy_language=("he", 0.7))
    assert not fixture_is_fresh(out, 40, skew, partitions=2)
    assert not fixture_is_fresh(out, 40, CaptionConfig(), partitions=4)
    # a second caller with the skew cfg regenerates rather than reusing
    ensure_cached_fixture(spark, out, 40, skew, partitions=2)
    assert fixture_is_fresh(out, 40, skew, partitions=2)
    assert not fixture_is_fresh(out, 40, CaptionConfig(), partitions=2)
    langs = (
        spark.read.parquet(f"{out}/labels")
        .groupBy("lang_expected").count().collect()
    )
    he = {r["lang_expected"]: r["count"] for r in langs}.get("he", 0)
    assert he >= 20  # the skew fixture really is the one on disk


def test_dedup_bench_corpus_structure(spark):
    """The at-scale dedup bench corpus must actually contain the planted
    structures its legs exist to exercise: near-dup clusters (high
    within-cluster Jaccard), a hot boilerplate prefix on ~30% of docs,
    and a contaminating bench slice."""
    from pii_redactor_spark.fixtures.dedup_corpus import (
        BOILERPLATE,
        CLUSTER_SIZE,
        bench_slice,
        dedup_bench_corpus,
    )
    from pyspark.sql import functions as F

    n = 2_000
    docs = dedup_bench_corpus(spark, n)
    assert docs.count() == n
    # deterministic under parallelism: same rows from 1 vs 8 partitions
    one = {r["doc_id"]: r["text"]
           for r in docs.coalesce(1).collect()}
    eight = {r["doc_id"]: r["text"]
             for r in docs.repartition(8).collect()}
    assert one == eight
    # ~30% boilerplate prefix
    boiler = sum(t.startswith(BOILERPLATE) for t in one.values())
    assert abs(boiler / n - 0.3) < 0.01
    # within-cluster token overlap is near-total (one mutation per member)
    toks0 = set(one[3].split())    # members 3,4: no boilerplate (id%10>=3)
    toks1 = set(one[4].split())
    inter = len(toks0 & toks1)
    assert inter / len(toks0 | toks1) > 0.85
    # across clusters: near-disjoint bodies
    other = set(one[3 + CLUSTER_SIZE].split())
    assert len(toks0 & other) < 10
    # bench slice re-generates base texts => real contamination, with NO
    # phantom rows (round-4 review: clustered ids must use the cluster
    # seed, or ~22% of the slice matches nothing)
    from pii_redactor_spark.operators.dedup import contaminated_ids

    bench = bench_slice(spark, n, limit=20)
    bench_ids = {r["doc_id"] for r in bench.collect()}
    hit = {
        r["doc_id"]
        for r in contaminated_ids(docs, bench, "text", "doc_id").collect()
    }
    # every slice row contaminates its own source doc...
    assert bench_ids <= hit, bench_ids - hit
    # ...and clustered slice ids take out their whole cluster
    clustered_bench = sorted(i for i in bench_ids if i < 40)
    assert clustered_bench, "slice misses the clustered range"
    for b in clustered_bench:
        members = set(range(b // CLUSTER_SIZE * CLUSTER_SIZE,
                            b // CLUSTER_SIZE * CLUSTER_SIZE + CLUSTER_SIZE))
        assert members <= hit, (b, members - hit)


def test_ann_bench_corpus_structure(spark):
    """The 1M-vector ANN bench fixture (round-5): deterministic under any
    partitioning, clustered with the documented cosine bands — regular
    clustermates ~0.94 (SemDeDup's prune band), planted members 0/1
    ~0.998 (the LSH recall ground truth), cross-cluster low."""
    import numpy as np

    from pii_redactor_spark.fixtures.ann_corpus import (
        CLUSTER_SIZE,
        ann_bench_corpus,
        query_vector,
    )

    n = 10 * CLUSTER_SIZE
    a = ann_bench_corpus(spark.range(0).sparkSession, n).orderBy("vec_id")
    rows = a.collect()
    b = (
        ann_bench_corpus(spark, n)
        .repartition(7)
        .orderBy("vec_id")
        .collect()
    )
    assert [r["embedding"] for r in rows] == [r["embedding"] for r in b]

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    labels = {r["vec_id"]: r["label"] for r in rows}
    assert labels[0] == labels[CLUSTER_SIZE - 1] != labels[CLUSTER_SIZE]

    def cos(u, v):
        return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))

    # planted tight pair: members 0 and 1 of each cluster
    assert cos(vecs[0], vecs[1]) > 0.99
    assert cos(vecs[CLUSTER_SIZE], vecs[CLUSTER_SIZE + 1]) > 0.99
    # regular clustermates: the 0.9-0.97 semantic band
    assert 0.85 < cos(vecs[2], vecs[3]) < 0.98
    # cross-cluster: unrelated directions
    assert abs(cos(vecs[2], vecs[CLUSTER_SIZE + 2])) < 0.6
    # the query vector is near its cluster but not any stored row
    q = np.array(query_vector(0))
    assert cos(q, vecs[2]) > 0.85
    assert all(not np.allclose(q, v) for v in vecs.values())


def test_cache_rebuilds_on_every_trigger(tmp_path):
    """``fixtures/cache.py``: the same key serves the cache; a changed
    parameter, source or input file, a deleted data directory, and a build
    that raised before its marker each rebuild; an unreadable source
    raises instead of keying the cache on a constant."""
    import os
    import shutil

    from pii_redactor_spark.fixtures.cache import cached, source_digest

    (tmp_path / "gen.py").write_text("v1")
    inp = tmp_path / "input.txt"
    inp.write_text("a")
    cache_dir = str(tmp_path / "cache")
    builds = []

    def build():
        builds.append(1)
        os.makedirs(os.path.join(cache_dir, "data"), exist_ok=True)

    def boom():
        raise RuntimeError("build died")

    def get(params=(1,), builder=build):
        return cached(cache_dir, "data", builder,
                      sources=source_digest(str(tmp_path), ["gen.py"]),
                      params=params, inputs=[str(inp)])

    assert get() == os.path.join(cache_dir, "data") and len(builds) == 1
    get()
    assert len(builds) == 1  # same key: served
    get(params=(2,))
    assert len(builds) == 2  # changed parameter
    (tmp_path / "gen.py").write_text("v2")
    get(params=(2,))
    assert len(builds) == 3  # changed source
    inp.write_text("ab")
    get(params=(2,))
    assert len(builds) == 4  # rewritten input
    shutil.rmtree(os.path.join(cache_dir, "data"))
    get(params=(2,))
    assert len(builds) == 5  # deleted data directory
    with pytest.raises(RuntimeError, match="build died"):
        get(params=(3,), builder=boom)
    get(params=(2,))
    assert len(builds) == 6  # the failed build dropped the old marker
    get(params=(2,))
    assert len(builds) == 6
    with pytest.raises(RuntimeError, match="cannot key a cache"):
        source_digest(str(tmp_path), ["gen.py", "missing.py"])


def test_image_metadata_rebuilds_on_derivation_change(spark, tmp_path,
                                                      monkeypatch):
    """The contract's image-metadata table is keyed on its derivation's
    code: an edited ``_derive_image_metadata`` rebuilds the table instead
    of serving the one the old code wrote."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    sf = tmp_path / "sf"
    spark.createDataFrame(
        [(1, "a caption about a lake", "en", "s", 22),
         (2, "another caption, short", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sf / "documents.parquet"))
    first = entry._image_metadata(spark, str(sf))
    n = first.count()
    assert n > 0 and first.where(F.col("w") == 7).count() == 0
    derive = entry._derive_image_metadata

    def edited(spark, sf):
        return derive(spark, sf).withColumn("w", F.lit(7))

    monkeypatch.setattr(entry, "_derive_image_metadata", edited)
    again = entry._image_metadata(spark, str(sf))
    assert again.count() == n
    assert again.where(F.col("w") != 7).count() == 0


def test_image_metadata_cache_drops_gone_sf_dirs(spark, tmp_path):
    """A derived metadata table's cache directory goes once its sf dir is
    gone: deriving the table for another sf removes it, and serves that
    sf's own table."""
    import hashlib
    import os
    import shutil

    import __spark_entry__ as entry

    def sf_dir(name, n):
        sf = tmp_path / name
        spark.createDataFrame(
            [(i, f"caption {name} {i}", "en", "s", 12) for i in range(n)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(str(sf / "documents.parquet"))
        return str(sf)

    def cache_dir(sf):
        return os.path.join(
            os.path.dirname(os.path.abspath(entry.__file__)), ".cache",
            "image_meta", hashlib.sha256(sf.encode()).hexdigest()[:16],
        )

    a = sf_dir("a", 2)
    assert entry._image_metadata(spark, a).count() == 2
    assert os.path.isdir(cache_dir(a))
    shutil.rmtree(a)
    b = sf_dir("b", 3)
    ids = {r["image_id"] for r in entry._image_metadata(spark, b).collect()}
    assert not os.path.exists(cache_dir(a))
    assert ids == {0, 1, 2}



def _package_imports(pkg, modules) -> set[str]:
    """The package files reached from ``modules`` (dotted, package-relative)
    through relative imports anywhere in their code, transitively; package
    ``__init__`` files are not followed."""
    import ast
    import os

    seen, todo = set(), list(modules)
    while todo:
        mod = todo.pop()
        rel = mod.replace(".", "/") + ".py"
        if rel in seen or not os.path.isfile(os.path.join(pkg, rel)):
            continue
        seen.add(rel)
        base = mod.split(".")[:-1]
        with open(os.path.join(pkg, rel)) as f:
            for node in ast.walk(ast.parse(f.read())):
                if isinstance(node, ast.ImportFrom) and node.level:
                    stem = base[:len(base) + 1 - node.level]
                    stem += node.module.split(".") if node.module else []
                    todo += [".".join(stem + [a.name]) for a in node.names]
                    todo.append(".".join(stem))
    return seen


def test_oracle_keys_follow_only_imported_modules(tmp_path, monkeypatch):
    """Each oracle is keyed on the package files its builder imports,
    transitively: the scrub oracle's ``core`` imports and what they import,
    the embedding oracle's none.  An edit to a ``core`` module the scrub
    oracle does not import keeps its cache; one it reaches rebuilds it."""
    import os
    import re
    import shutil

    from pii_redactor_spark.fixtures import oracle_cache as oc

    src = open(oc.__file__).read()
    named = re.findall(r"from \.\.core\.(\w+) import", src)
    named += re.findall(r"from \.\.core import (\w+)", src)
    roots = {f"core.{m}" for m in named}
    want = {"fixtures/oracle_cache.py", *_package_imports(oc._PACKAGE, roots)}
    assert set(oc._SCRUB_SOURCES) == want
    assert oc._EMBEDDING_SOURCES == ("fixtures/oracle_cache.py",)

    pkg = tmp_path / "pkg"
    shutil.copytree(oc._PACKAGE, pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    monkeypatch.setattr(oc, "_PACKAGE", str(pkg))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"input")
    builds = []

    def build(src, out):
        builds.append(out)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            f.write("built")

    def call():
        oc._oracle_cache(str(sf), str(tmp_path / "cache"), "scrub", "t",
                         "documents.parquet", build, oc._SCRUB_SOURCES)

    call()
    for name in ("reference_impl.py", "detect.py"):
        with open(pkg / "core" / name, "a") as f:
            f.write("\n# an edit\n")
    call()
    assert len(builds) == 1
    with open(pkg / "core" / "quality.py", "a") as f:  # via core.langid
        f.write("\n# an edit\n")
    call()
    assert len(builds) == 2
