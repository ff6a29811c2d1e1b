"""Driver-contract conformance: queries() vs oracle_sql() via DuckDB.

Mimics the grading driver: run each Spark query and its DuckDB oracle on the
same parquet tables, compare row count, column names, and an order-insensitive
value multiset (``tools/check_contract.py::norm_cell``: exact on every
float).  Runs at sf0.001 in CI; the driver reruns at sf0.01.
"""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_contract import frame_rows as _multiset

SF_DIR = "/root/testdata/sf0.001"

# The materialized scrub oracle must be built for the same scale factor the
# queries run at (the driver uses sf0.01; this suite uses sf0.001).
import os  # noqa: E402

os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    spark_df = q(spark, SF_DIR).toPandas()
    oracle_df = ddb.sql(entrymod.oracle_sql()[name]).df()
    s_cols, s_rows = _multiset(spark_df)
    o_cols, o_rows = _multiset(oracle_df)
    assert s_cols == o_cols, f"{name}: columns {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: rows {len(s_rows)} vs {len(o_rows)}"
    )
    mism = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatching rows; first: "
        f"{s_rows[mism[0]]} vs {o_rows[mism[0]]}"
    )


# Every query with a money column: each such column is built by
# __spark_entry__.money on the Spark side and money_sql in the oracle.
MONEY_QUERIES = (
    "brand_size_revenue", "cheapest_supplier_per_part",
    "customer_spend_deciles", "events_hourly", "events_running_total",
    "events_session_windows", "events_sessions", "events_type_pivot",
    "events_value_band_join", "forecast_revenue", "important_part_value",
    "local_supplier_volume", "nation_market_share", "nation_pair_volume",
    "orders_monthly_growth", "part_supplier_revenue", "pricing_summary",
    "promo_revenue_share", "returned_item_revenue", "revenue_cube",
    "revenue_rollup", "shipping_priority", "small_qty_order_revenue",
    "supplier_balance_share", "supplier_nation_profit", "top_revenue_supplier",
    "valuable_idle_customers",
)
MONEY_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def ddb_money():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{MONEY_SF_DIR}/{t}.parquet')"
        )
    return con


def test_money_columns_exact(spark, ddb_money):
    """Every money query equals its DuckDB oracle exactly at sf0.01 (the
    contract suite runs at sf0.001, where sums are smaller), and the two
    queries that group lineitem by nation do so at 7, 32 and 200 shuffle
    partitions: a money answer must not depend on summation order."""
    runs = [(name, None) for name in MONEY_QUERIES] + [
        (name, n)
        for name in ("nation_pair_volume", "supplier_nation_profit")
        for n in (7, 32, 200)
    ]
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    default = spark.conf.get("spark.sql.shuffle.partitions")
    bad = []
    try:
        for name, n in runs:
            spark.conf.set("spark.sql.shuffle.partitions", n or default)
            got = _multiset(qs[name](spark, MONEY_SF_DIR).toPandas())
            want = _multiset(ddb_money.sql(oracles[name]).df())
            assert got[0] == want[0], (name, got[0], want[0])
            assert len(got[1]) == len(want[1]), (name, n)
            diff = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
            if diff:
                bad.append((name, n, len(diff), diff[0]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert not bad, bad


def _cents(x: Fraction) -> float:
    """Exact rational ``x`` rounded half away from zero to whole cents."""
    c = math.floor(abs(x) * 100 + Fraction(1, 2))
    return (c if x >= 0 else -c) / 100


def test_money_helper_pair_agrees(spark):
    """``money``, ``money_units`` and their SQL twins on a crafted frame,
    against exact rational arithmetic in Python: every mode (a ``rate``
    of ``1 - disc`` and of ``disc``, a ``per`` of 7, of ``COUNT`` and of
    an integer ``SUM``, a running window) over seeded random whole-cent
    rows, plus groups that land on a half cent, a negative average
    balance and a ``/ 7`` divisor.  Spark, DuckDB and the reference must
    give the same floats."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        # g, id, price, disc, bal, qty
        ("a", 0, 2.05, 0.10, -0.02, 1.0),
        ("a", 1, 1.00, 0.00, -0.01, 2.0),
        ("b", 2, 0.15, 0.10, -1.51, 3.0),
        ("b", 3, 10.00, 0.00, -0.01, 1.0),
        ("b", 4, 0.01, 0.00, 0.00, 1.0),
    ]
    rng = random.Random(7)
    for i in range(5, 400):
        rows.append((
            f"r{rng.randrange(40)}", i, rng.randint(1, 10**7) / 100,
            rng.randint(0, 10) / 100, rng.randint(-10**6, 10**6) / 100,
            float(rng.randint(1, 50)),
        ))
    exact = {}  # g -> (id, price, disc, bal, qty) as Fractions
    for g, i, *vals in rows:
        exact.setdefault(g, []).append(
            (i, *(Fraction(repr(v)) for v in vals))
        )
    want, want_run = [], []
    for g, rs in sorted(exact.items()):
        price = sum(r[1] for r in rs)
        rev = sum(r[1] * (1 - r[2]) for r in rs)
        bal = sum(r[3] for r in rs)
        want.append((
            g, _cents(rev), _cents(sum(r[1] * r[2] for r in rs)),
            _cents(bal / len(rs)), _cents(price / 7),
            _cents(price / sum(r[4] for r in rs)), float(bal),
            int(rev * 10000),
        ))
        run = Fraction(0)
        for r in sorted(rs):
            run += r[1] * (1 - r[2])
            want_run.append((g, int(r[0]), _cents(run)))

    e = entrymod
    sdf = spark.createDataFrame(
        rows,
        "g string, id long, price double, disc double, bal double, "
        "qty double",
    )
    got = sorted(tuple(r) for r in sdf.groupBy("g").agg(
        e.money("price", rate=1 - F.col("disc")),
        e.money("price", rate=F.col("disc")),
        e.money("bal", per=F.count("bal")),
        e.money("price", per=7),
        e.money("price", per=F.sum(F.round(F.col("qty")).cast("long"))),
        e.money("bal"),
        e.money_units("price", rate=1 - F.col("disc")),
    ).collect())
    w = Window.partitionBy("g").orderBy("id")
    got_run = sorted(tuple(r) for r in sdf.select(
        "g", "id", e.money("price", rate=1 - F.col("disc"), over=w)
    ).collect())

    con = duckdb.connect()
    con.sql("CREATE TABLE t (g VARCHAR, id BIGINT, price DOUBLE, "
            "disc DOUBLE, bal DOUBLE, qty DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", rows)
    duck = sorted(
        (g, *(float(v) for v in vals), int(u))
        for g, *vals, u in con.sql(f"""
            SELECT g,
                   {e.money_sql("price", rate="1 - disc")},
                   {e.money_sql("price", rate="disc")},
                   {e.money_sql("bal", per="COUNT(bal)")},
                   {e.money_sql("price", per="7")},
                   {e.money_sql(
                       "price", per="SUM(CAST(ROUND(qty) AS BIGINT))")},
                   {e.money_sql("bal")},
                   {e.money_units_sql("price", rate="1 - disc")}
            FROM t GROUP BY g
        """).fetchall()
    )
    duck_run = sorted(
        (g, i, float(v)) for g, i, v in con.sql(f"""
            SELECT g, id, {e.money_sql(
                "price", rate="1 - disc",
                over="PARTITION BY g ORDER BY id")}
            FROM t
        """).fetchall()
    )
    assert got == want
    assert duck == want
    assert got_run == want_run
    assert duck_run == want_run
    # a: 1.845 + 1.00 = 2.845 (as doubles 2.8449999999999998, which
    #    ROUND(SUM(double), 2) takes to 2.84 in both engines) -> 2.85;
    #    -0.03 / 2 = -0.015 -> -0.02; 3.05 / 7 = 0.4357... -> 0.44
    # b: 0.135 + 10.00 + 0.01 = 10.145 -> 10.15; -1.52 / 3 = -0.5066...
    #    -> -0.51; 10.16 / 7 = 1.4514... -> 1.45
    assert [(g, rev, avg, p7) for g, rev, _, avg, p7, *_ in got[:2]] == [
        ("a", 2.85, -0.02, 0.44), ("b", 10.15, -0.51, 1.45)
    ]


def test_every_query_runs(spark):
    """Queries without oracles still run and return sane rows."""
    oracles = entrymod.oracle_sql()
    for name, q in entrymod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.count() > 0
    assert "scrubbed" in df.columns
    assert rows


def test_props_json_oracle_edge_semantics(spark, ddb):
    """The events_props_json oracle mirrors from_json(props, 'k INT') type
    strictness OFF the fixture's happy path: quoted numbers, non-integer
    numerics, malformed JSON, out-of-INT-range values, and NULL must all
    yield NULL on both sides (and never abort the oracle query)."""
    from pyspark.sql import functions as F

    vals = [
        '{"k": 69}', '{"k": "42"}', '{"k": 1.5}', '{"k": -3}',
        'not json', '{"k": 99999999999}', None,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "props string")
    got_spark = [
        r.k
        for r in sdf.select(
            F.from_json("props", "k INT").getField("k").alias("k")
        ).collect()
    ]
    ddb_expr = """
        SELECT CASE WHEN JSON_VALID(props)
                     AND JSON_TYPE(props, '$.k') IN ('BIGINT', 'UBIGINT')
                    THEN TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT)
               END AS k
        FROM probe ORDER BY rowid
    """
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE probe (props VARCHAR)"
    )
    con.executemany("INSERT INTO probe VALUES (?)", [(v,) for v in vals])
    got_ddb = [
        None if row[0] is None or (isinstance(row[0], float) and math.isnan(row[0])) else int(row[0])
        for row in con.sql(ddb_expr).fetchall()
    ]
    assert got_spark == got_ddb == [69, None, None, -3, None, None, None]


def test_toxicity_oracle_null_caption_parity(spark, tmp_root):
    """Round-4 review: the engine folds NULL text to '' (0 / 0.0 / '')
    while DuckDB's string_split(NULL) propagates NULL — the oracle SQL
    carries a COALESCE for parity.  The sf testdata has no NULL texts,
    so this pins the divergence case directly: both sides must agree on
    a table CONTAINING a NULL caption."""
    import duckdb as _dd

    sf_dir = f"{tmp_root}/null_sf"
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, "slow day", "en", "s", 8),
         (2, None, "en", "s", 0),
         (3, "fine text here", "en", "s", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    con = _dd.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    for name in ("doc_toxicity_scrub", "doc_toxicity_joined"):
        s_cols, s_rows = _multiset(
            entrymod.queries()[name](spark, sf_dir).toPandas()
        )
        o_cols, o_rows = _multiset(con.sql(entrymod.oracle_sql()[name]).df())
        assert s_cols == o_cols, name
        assert s_rows == o_rows, (name, s_rows, o_rows)
        # and the NULL row really scored as empty text, not NULL
        null_row = [r for r in s_rows if r[s_cols.index("doc_id")] == "2"][0]
        assert null_row[s_cols.index("n_toxic")] == "0", null_row


def test_image_oracle_null_metadata_parity(spark, tmp_root):
    """ADVICE r4: for a NULL-text document the engine flags
    'null_metadata' with keep=false, while the old oracle's concat_ws
    yielded '' and keep evaluated NULL — the same NULL-parity bug class
    round 4 fixed for toxicity.  Pin the divergence case directly: both
    sides must agree on a table CONTAINING a NULL caption (the md5-derived
    metadata is NULL end-to-end for that row on both engines)."""
    import duckdb as _dd

    sf_dir = f"{tmp_root}/null_img_sf"
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, "a perfectly ordinary caption about a lake", "en", "s", 42),
         (2, None, "en", "s", 0),
         (3, "another caption, short", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = _dd.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    name = "image_quality_flags"
    s_cols, s_rows = _multiset(
        entrymod.queries()[name](spark, sf_dir).toPandas()
    )
    o_cols, o_rows = _multiset(con.sql(entrymod.oracle_sql()[name]).df())
    assert s_cols == o_cols, (name, s_cols, o_cols)
    assert s_rows == o_rows, (name, s_rows, o_rows)
    # and the NULL row really flagged null_metadata with keep=false
    null_row = [r for r in s_rows if r[s_cols.index("image_id")] == "2"][0]
    assert null_row[s_cols.index("flags_csv")] == "null_metadata", null_row
    assert null_row[s_cols.index("keep")] == "false", null_row


def test_audio_oracle_null_metadata_parity(spark, tmp_root):
    """Audio axis (round 5): same NULL-parity contract as the image and
    toxicity axes — a NULL-text document must flag 'null_metadata' with
    keep=false on BOTH engines (F.get / DuckDB list[NULL] both yield
    NULL metadata; the oracle's concat_ws + COALESCE mirror the engine's
    array_compact + size==0)."""
    import duckdb as _dd

    sf_dir = f"{tmp_root}/null_audio_sf"
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, "a perfectly ordinary caption about a lake", "en", "s", 42),
         (2, None, "en", "s", 0),
         (3, "another caption, short", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = _dd.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    for name in ("audio_quality_flags", "audio_corpus_stats"):
        s_cols, s_rows = _multiset(
            entrymod.queries()[name](spark, sf_dir).toPandas()
        )
        o_cols, o_rows = _multiset(con.sql(entrymod.oracle_sql()[name]).df())
        assert s_cols == o_cols, (name, s_cols, o_cols)
        assert s_rows == o_rows, (name, s_rows, o_rows)
    s_cols, s_rows = _multiset(
        entrymod.queries()["audio_quality_flags"](spark, sf_dir).toPandas()
    )
    null_row = [r for r in s_rows if r[s_cols.index("audio_id")] == "2"][0]
    assert null_row[s_cols.index("flags_csv")] == "null_metadata", null_row
    assert null_row[s_cols.index("keep")] == "false", null_row
