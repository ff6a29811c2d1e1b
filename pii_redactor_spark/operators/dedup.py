"""Deduplication operators: exact, MinHash-LSH, SimHash — the training-data
pipeline's near-dup stack, built entirely from JVM-side primitives.

Scale shape (10^12 rows):

* exact:    one hash-groupBy shuffle on a content fingerprint.
* MinHash:  signatures are per-row narrow work (higher-order functions over
            the shingle array, xxhash64 with per-permutation seeds — stable,
            seeded, no UDF); LSH banding explodes each row into `bands`
            (band_id, band_hash) keys and candidate pairs come from
            equi-joins inside band buckets — the only shuffle is keyed on
            the band hash, so the candidate set (not n^2) drives cost.
* SimHash:  64-bit fingerprint via explode + 64 partial-agg vote sums (one
            shuffle keyed on doc id); near-dup candidates by the pigeonhole
            band trick — hamming distance <= 3 guarantees one of 4 16-bit
            chunks matches exactly, so candidates come from 4 equi-joins.

Every approximate path ends in `exact_jaccard` verification of candidates —
the filter-then-verify contract the exact all-pairs query pins at test scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Salt fan-out for the hot-shingle chain pass (sparse_jaccard_pairs): each
# hot posting list is windowed in CHAIN_SALT_BUCKETS independent tasks.
CHAIN_SALT_BUCKETS = 32

# --- exact -------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate-group statistics by content hash (md5)."""
    return (
        df.withColumn("fp", F.md5(text_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .agg(
            F.count("*").alias("dup_groups"),
            F.coalesce(F.sum("n_copies"), F.lit(0)).alias("dup_docs"),
        )
    )


def dedupe_exact(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per content hash: the min id (deterministic
    under any parallelism, unlike dropDuplicates which keeps an arbitrary
    row)."""
    w_min = (
        df.withColumn("fp", F.md5(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_min, id_col, "left_semi")


# --- shingling ---------------------------------------------------------------


def with_shingles(df: DataFrame, text_col: str = "text",
                  k: int = 3) -> DataFrame:
    """Distinct word k-gram shingle array per row (JVM higher-order fns).

    The shingle expression is TOTAL (guarded by an inline IF): Spark may
    evaluate a projection on rows the accompanying filter would drop
    (e.g. around a Generate), and an unguarded ``sequence(1, size-k+1)``
    turns DESCENDING for short rows, driving ``element_at`` out of
    bounds."""
    # Tokenize ONCE into a projected column: inlining split() into every
    # element_at re-tokenizes the text ~3k times per row (measured as the
    # dominant cost of the gram stage); Catalyst does not collapse the
    # alias back in because it is referenced many times.
    gram = " , ".join(f"element_at(_toks, i + {j})" for j in range(k))
    return (
        df.withColumn("_toks", F.split(F.col(text_col), " "))
        .where(F.expr(f"size(_toks) >= {k}"))
        .withColumn(
            "shingles",
            F.expr(
                f"IF(size(_toks) >= {k}, "
                f"array_distinct(transform(sequence(1, size(_toks) - {k - 1}),"
                f" i -> concat_ws(' ', {gram}))), "
                f"CAST(array() AS array<string>))"
            ),
        )
        .drop("_toks")
    )


# --- MinHash-LSH -------------------------------------------------------------


def minhash_signature(shingles: Column, n_hashes: int) -> Column:
    """n_hashes-permutation MinHash signature as an array<bigint>.

    Permutation i = xxhash64 of (shingle, i) (stable across
    runs/executors); min over the shingle set per permutation.  The lambda
    takes one parameter: ``F.transform`` reads a two-parameter one as
    ``(element, index)``."""

    def perm(i: int):
        return lambda s: F.xxhash64(s, F.lit(i))

    return F.array(
        *[F.array_min(F.transform(shingles, perm(i))) for i in range(n_hashes)]
    )


def _explode_keys(
    df: DataFrame, alias: str, keys: list[Column], keep: tuple
) -> DataFrame:
    """``keep`` columns plus one row per struct in ``keys``, its fields as
    columns."""
    keyed = df.select(*keep, F.explode(F.array(*keys)).alias(alias))
    return keyed.select(*keyed.columns[:-1], f"{alias}.*")


def with_band_keys(
    df: DataFrame, sig_col: str, n_hashes: int, bands: int,
    *keep: str | Column,
) -> DataFrame:
    """The one LSH band-key rule: ``keep`` columns plus one row per band,
    ``(band, bhash)`` with ``bhash`` the xxhash64 of the band's
    ``n_hashes // bands`` signature rows.  Two signatures share a bucket
    iff they agree on every row of that band."""
    r = n_hashes // bands
    return _explode_keys(df, "bb", [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.element_at(sig_col, b * r + i) for i in range(1, r + 1)]
            ).alias("bhash"),
        )
        for b in range(bands)
    ], keep)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Rows whose signatures agree on ALL rows of at least one band collide;
    with n_hashes=64, bands=16 (r=4) the collision curve crosses ~50% around
    Jaccard 0.5.  Output: (id_a, id_b) distinct, id_a < id_b.
    """
    sig = with_shingles(df, text_col, k).select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col("shingles"), n_hashes).alias("sig"),
    )
    banded = with_band_keys(sig, "sig", n_hashes, bands, "_id")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard (the second
    stage of filter-then-verify)."""
    sh = with_shingles(df, text_col, k).select(
        F.col(id_col).alias("_id"), "shingles"
    )
    return (
        candidates.join(sh.withColumnRenamed("shingles", "sh_a"),
                        candidates.id_a == sh._id)
        .drop("_id")
        .join(
            with_shingles(df, text_col, k).select(
                F.col(id_col).alias("_id"),
                F.col("shingles").alias("sh_b"),
            ),
            candidates.id_b == F.col("_id"),
        )
        .drop("_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def sparse_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT Jaccard for every pair sharing >= 1 shingle — no theta join.

    The inverted-index (AllPairs family) shape: explode distinct shingles,
    self equi-join on the shingle, and count collisions per pair — because
    shingle arrays are distinct within a doc, the collision count IS
    ``|A ∩ B|``, and ``|A ∪ B| = |A| + |B| − |A ∩ B|``, so Jaccard needs no
    second pass over the arrays.  Pairs sharing nothing (Jaccard 0) are
    simply absent, which is exactly what a near-dup consumer wants.

    Scale shape: the only shuffles are keyed on the shingle (join) and the
    pair (agg) — cost is driven by the inverted-index collision count, not
    n².  Hot shingles (stop-phrases, boilerplate) are the skew risk: one
    shingle shared by ``m`` docs contributes ``m·(m−1)/2`` join rows on a
    single key, which AQE can only split, not shrink.

    ``max_df`` is the prefix-filtering cap for that.  RARE shingles
    (document frequency <= max_df) behave exactly as before: all pairs
    within the posting list become candidates, so no rare key ever
    carries more than ``max_df·(max_df−1)/2`` candidate rows.  HOT
    shingles are not dropped outright (that would zero recall for any
    near-dup cluster larger than max_df — a mass-duplicated template's
    shared shingles ALL exceed the cap): instead each hot posting list
    contributes a SPANNING CHAIN of exactly ``m−1`` candidate rows
    instead of ``m·(m−1)/2``, linear in the index size.  The chain is
    SALTED (round-3 advice): a window partitioned by the bare shingle
    would funnel each hot posting list — the very keys the cap exists to
    tame — through one unsplittable task (AQE can split join keys but
    not window partitions), so the list is first bucketed by
    ``pmod(xxhash64(id), CHAIN_SALT_BUCKETS)``; id-adjacent pairs are
    chained WITHIN each (shingle, salt) bucket (~m/S rows per window
    task) and ``B−1`` bridge edges between adjacent per-bucket minima
    (a window over <= S rows per shingle) reconnect the buckets —
    still ``m−1`` edges total, still spanning the whole posting list.
    When a hot posting list consists of one near-dup cluster, every
    chain pair verifies and connectivity — what the downstream
    ``connected_components`` consumer needs — is preserved; when
    dissimilar docs interleave the list, chain edges between them fail
    exact verification, so such a cluster can fragment into chain runs
    (recall is still strictly better than dropping hot shingles, never
    worse) and boilerplate-only chains die entirely.  Every candidate from either source is
    re-scored with exact set Jaccard over the full (uncapped) shingle
    arrays, so emitted pairs are always exact; what the cap trades away
    is *pair enumeration completeness* among docs sharing only hot
    shingles (inherently quadratic output no bounded plan can emit).
    ``max_df=None`` keeps the uncapped exact-at-every-pair form (the
    contract-query oracle shape, guarded by row count at the call site —
    see ``__spark_entry__.SPARSE_JACCARD_EXACT_MAX``).
    """
    sh = with_shingles(df, text_col, k).select(
        F.col(id_col).alias("_id"),
        F.size("shingles").alias("_size"),
        F.explode("shingles").alias("shingle"),
    )
    if max_df is not None:
        from pyspark.sql import Window

        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        rare = df_counts.where(F.col("_df") <= max_df).select("shingle")
        capped = sh.join(rare, "shingle", "left_semi")
        a, b = capped.alias("a"), capped.alias("b")
        rare_pairs = a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        ).select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        hot = df_counts.where(F.col("_df") > max_df).select("shingle")
        hot_postings = sh.join(hot, "shingle", "left_semi").withColumn(
            "_salt", F.pmod(F.xxhash64("_id"), F.lit(CHAIN_SALT_BUCKETS))
        )
        w = Window.partitionBy("shingle", "_salt").orderBy("_id")
        within_pairs = (
            hot_postings.withColumn("_prev", F.lag("_id").over(w))
            .where(F.col("_prev").isNotNull())
            .select(
                F.col("_prev").alias("id_a"), F.col("_id").alias("id_b")
            )
        )
        # bridges: adjacent per-bucket minima in salt order — <= S rows
        # per shingle through this window, never the posting list itself
        bucket_min = hot_postings.groupBy("shingle", "_salt").agg(
            F.min("_id").alias("_lo")
        )
        wb = Window.partitionBy("shingle").orderBy("_salt")
        bridge_pairs = (
            bucket_min.withColumn("_prev", F.lag("_lo").over(wb))
            .where(F.col("_prev").isNotNull())
            .select(
                F.least("_prev", "_lo").alias("id_a"),
                F.greatest("_prev", "_lo").alias("id_b"),
            )
        )
        candidates = rare_pairs.union(within_pairs).union(
            bridge_pairs
        ).distinct()
        return exact_jaccard(candidates, df, id_col, text_col, k)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._size").alias("size_a"),
            F.col("b._size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate clusters end-to-end: LSH candidates → exact-Jaccard
    verified edges → connected components → ``(id, cluster_id)`` rows for
    every member of a multi-doc cluster (``cluster_id`` = min member id).

    Components run as iterative min-label propagation: each round joins the
    symmetric edge list against current labels and takes the per-vertex min
    — two equi-joins keyed on the doc id per round, converging in
    O(log(component diameter)) rounds (near-dup clusters are tiny and
    dense, so typically 2–3).  ``localCheckpoint`` truncates the growing
    plan each round — without it the lineage doubles per iteration and the
    driver, not the data, becomes the bottleneck.  The convergence probe is
    one count per round on a labels-sized (not edges-sized) frame.
    """
    cand = minhash_lsh_candidates(df, id_col, text_col, n_hashes, bands, k)
    edges = (
        exact_jaccard(cand, df, id_col, text_col, k)
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b")
    )
    return connected_components(edges, id_col=id_col, max_iter=max_iter)


def connected_components(
    edges: DataFrame, id_col: str = "doc_id", max_iter: int = 50
) -> DataFrame:
    """Connected components of an ``(id_a, id_b)`` edge list by iterative
    min-label propagation WITH pointer jumping; returns
    ``(id_col, cluster_id)`` for every vertex appearing in an edge
    (cluster_id = min member id).

    Each round does (1) a neighbor-min hop — every vertex takes the min of
    its own and its neighbors' labels (two equi-joins keyed on the vertex
    id) — and (2) a pointer jump — ``label(v) ← label(label(v))`` (one
    more self equi-join), which halves the depth of every label chain.
    The hop alone needs O(component diameter) rounds (a 10k-vertex path =
    10k rounds); the jump compresses chains geometrically, so convergence
    is O(log n) rounds on ANY component shape — the large-star/small-star
    bound, from one extra bounded equi-join per round.  Invariant: a
    vertex's label is always the id of some member of its own component
    and never increases, so the fixpoint is the component min everywhere.

    ``localCheckpoint`` truncates the growing plan each round — without it
    the lineage doubles per iteration and the driver, not the data,
    becomes the bottleneck.  The convergence probe is one count per round
    on a labels-sized (not edges-sized) frame.  A component that somehow
    still fails to converge within ``max_iter`` RAISES instead of
    returning split clusters."""
    sym = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("id_a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("label").alias("nmin"))
        )
        hopped = (
            labels.join(neighbor_min, labels.id == neighbor_min.id_a, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                "label",
            )
        )
        # pointer jump: follow the (updated) label one step — labels are
        # vertex ids, so the map joins onto itself; the root's own label is
        # its fixpoint, hence the plain inner-join-with-fallback via left.
        jump_map = hopped.select(
            F.col("id").alias("_jid"), F.col("new_label").alias("_jlabel")
        )
        updated = (
            hopped.join(
                jump_map, hopped.new_label == jump_map._jid, "left"
            )
            .select(
                "id",
                F.coalesce(F.col("_jlabel"), F.col("new_label")).alias(
                    "new_label"
                ),
                "label",
            )
        ).localCheckpoint()
        changed = updated.where(F.col("new_label") != F.col("label")).count()
        labels = updated.select(
            "id", F.col("new_label").alias("label")
        ).localCheckpoint()
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(raise max_iter)"
        )
    return labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def dedupe_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
) -> DataFrame:
    """Drop near-duplicates: keep one representative (the min id) per
    near-dup cluster, plus every unclustered doc — the training-corpus
    dedup pass.  One LEFT ANTI join against the non-representative member
    list; deterministic under any parallelism."""
    members = neardup_clusters(df, id_col, text_col, min_jaccard)
    losers = members.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(losers, id_col, "left_anti")


# --- SimHash -----------------------------------------------------------------


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per row: explode tokens, xxhash64 each, one hash-agg
    of 64 +/-1 vote sums keyed on the row id, recombine sign bits."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    bits = None
    for b in range(64):
        term = F.when(F.col(f"s{b}") > 0,
                      F.lit(1).cast("long") * F.lit(2 ** b if b < 63
                                                    else -(2 ** 63))
                      ).otherwise(F.lit(0).cast("long"))
        bits = term if bits is None else bits + term
    return votes.select(F.col("_id").alias(id_col), bits.alias("simhash"))


def with_chunk_keys(
    df: DataFrame, fp_col: str, max_hamming: int, *keep: str | Column
) -> DataFrame:
    """The one pigeonhole chunk-key rule: ``keep`` columns plus one row per
    chunk, ``(chunk, cval)``, splitting the 64-bit ``fp_col`` into
    ``max_hamming + 1`` disjoint chunks.  Two fingerprints within
    ``max_hamming`` bits agree exactly on at least one chunk."""
    width = 64 // (max_hamming + 1)
    return _explode_keys(df, "cc", [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(fp_col, c * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("cval"),
        )
        for c in range(max_hamming + 1)
    ], keep)


def simhash_candidates(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidate pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming + 1) chunks; any
    pair within distance max_hamming agrees exactly on >= 1 chunk, so
    candidates come from chunk-equality joins, then the exact popcount
    filter runs only on collisions."""
    chunks = with_chunk_keys(
        sim, "simhash", max_hamming, F.col(id_col).alias("_id"), "simhash"
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- benchmark decontamination ----------------------------------------------


def ngram_hashes(df: DataFrame, text_col: str = "text", n: int = 5,
                 id_col: str | None = None) -> DataFrame:
    """Distinct word n-gram 64-bit hashes per row (JVM higher-order fns +
    xxhash64 — the compact join key for contamination checks)."""
    sh = with_shingles(df, text_col, k=n)
    cols = ([F.col(id_col)] if id_col else []) + [
        F.explode("shingles").alias("_gram")
    ]
    return sh.select(*cols).withColumn(
        "gram_hash", F.xxhash64("_gram")
    ).drop("_gram")


def contaminated_ids(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Train doc ids sharing at least one word n-gram with the benchmark
    corpus (the GPT-3/PaLM decontamination rule).

    Scale shape: the benchmark side is tiny relative to a 10^12-row train
    corpus, so its distinct gram-hash set BROADCASTS and the train side
    is filtered by a broadcast hash semi-join — the train table is never
    shuffled; the only wide op is the final distinct on the (small)
    contaminated-id set.  Hash collisions (xxhash64, ~2^-64 per pair)
    can only ADD a contaminated id — conservative in the right direction
    for decontamination.
    """
    bench_grams = ngram_hashes(bench, text_col, n).distinct()
    train_grams = ngram_hashes(train, text_col, n, id_col=id_col)
    return (
        train_grams.join(F.broadcast(bench_grams), "gram_hash", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Drop every train doc sharing an n-gram with the benchmark set: one
    broadcast semi-join + one LEFT ANTI join; deterministic, no shuffle
    of the train rows."""
    bad = contaminated_ids(train, bench, text_col, id_col, n)
    return train.join(bad, id_col, "left_anti")


# --- exact substring duplication (winnowing) ---------------------------------


def _window_subs_expr(text_col: str, window: int) -> str:
    """Total expression: array of every ``window``-char substring."""
    return (
        f"IF(char_length({text_col}) >= {window}, "
        f"transform(sequence(1, char_length({text_col}) - {window - 1}),"
        f" i -> substring({text_col}, i, {window})), "
        f"CAST(array() AS array<string>))"
    )


def substring_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 40,
    winnow: int | None = None,
) -> DataFrame:
    """(id, sub) postings of ``window``-char substrings per doc.

    ``winnow=None``: every distinct window (the exact index).
    ``winnow=w``: the winnowing sketch (Schleimer et al., MOSS): keep a
    substring only where its xxhash64 is the minimum of some ``w``
    consecutive windows — bounds postings to ~2·len/w per doc while
    GUARANTEEING that any exact shared substring of length >=
    ``window + w - 1`` still shares at least one selected posting (both
    docs select the same minimal window inside it).  Selection is by
    hash, but the emitted posting is the SUBSTRING itself, so downstream
    equality is exact — winnowing trades recall on shorter overlaps,
    never precision.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.expr(_window_subs_expr(text_col, window)).alias("_all"),
    )
    if winnow is None:
        return base.select(
            "_id", F.explode(F.array_distinct("_all")).alias("sub")
        )
    # Winnowing as a WINDOW pass, not nested array lambdas: posexplode
    # the windows, hash each once, take the sliding forward-min of
    # (hash, sub) over `winnow` rows per doc, and keep one selection per
    # complete group.  (A lambda formulation with slice()/array_min()
    # re-inlines the whole window-array construction into every slice —
    # Catalyst's projection collapsing turns it O(n²·w) per row; the
    # window form is one shuffle keyed on the doc id and O(n·w) row
    # work.)  Docs with fewer than `winnow` windows keep group 0 only —
    # the global min, winnowing's boundary case.  Tie-break is the
    # smallest (hash, substring) pair — deterministic, and identical in
    # any two docs sharing the run, so the recall guarantee holds.
    from pyspark.sql import Window

    ex = base.select(
        "_id", F.posexplode("_all").alias("pos", "sub")
    ).withColumn("_h", F.xxhash64("sub"))
    grp = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, winnow - 1)
    )
    whole = Window.partitionBy("_id")
    return (
        ex.withColumn("_pick", F.min(F.struct("_h", "sub")).over(grp))
        .withColumn("_maxpos", F.max("pos").over(whole))
        .where(
            F.col("pos")
            <= F.greatest(
                F.col("_maxpos") - F.lit(winnow - 1), F.lit(0)
            )
        )
        .select("_id", F.col("_pick.sub").alias("sub"))
        .distinct()
    )


def substring_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 40,
    winnow: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Distinct doc pairs sharing an exact ``window``-char substring —
    cross-document boilerplate/quotation detection (the long-substring
    dedup modality of Lee et al., "Deduplicating Training Data", distinct
    from whole-doc near-dup Jaccard).

    Scale shape: inverted index keyed on the substring — one equi-join,
    no theta join.  ``winnow`` bounds per-doc postings (recall floor:
    shared runs >= window + winnow - 1 chars always collide); ``max_df``
    prefix-filters substrings hotter than the cap (same skew bound as
    ``sparse_jaccard_pairs``; a substring shared by half the corpus is
    boilerplate to report separately, not to pair-enumerate).
    """
    posts = substring_postings(df, text_col, id_col, window, winnow)
    if max_df is not None:
        rare = (
            posts.groupBy("sub").agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("sub")
        )
        posts = posts.join(rare, "sub", "left_semi")
    a, b = posts.alias("a"), posts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
