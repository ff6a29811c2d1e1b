"""Self-check the driver contract: run every __spark_entry__ query on Spark
and its oracle SQL on DuckDB at sf0.01, compare row count, column names, and
values (columns sorted by name, rows sorted by stringified tuple — the
driver's documented comparison).

Usage: python tools/check_contract.py [sf_dir] [query ...]

Set ``CHECK_CONTRACT_JSON=<path>`` to also write a machine-readable
per-query result map (the committed tri-scale artifact
``CORRECTNESS_FULL.json`` is three such runs merged by
``tools/full_correctness.py``).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    """One cell of the contract comparison, as a string.  Exact and typed:
    a float is its ``repr`` (a DuckDB Decimal converts to float first), so
    a one-cent difference on any sum shows, and the int 5 (``"5"``) differs
    from the float 5.0 (``"5.0"``); NULL and NaN differ; timestamps drop
    their zone."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return "NULL" if v != v else v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by name, and the rows of normalized cells, sorted."""
    cols = sorted(df.columns)
    rows = sorted(
        tuple(norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    return cols, rows


def frame_fingerprint(df: pd.DataFrame):
    cols, rows = frame_rows(df)
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest(), rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as entry
    from pii_redactor_spark.session import get_spark

    spark = get_spark(app_name="contract-check", master="local[8]",
                      shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            failures.append(name)
            results[name] = {"status": "spark_error", "err": str(e)[:300]}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, no oracle)")
            results[name] = {"status": "rows_only", "spark_rows": len(sdf)}
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failures.append(name)
            results[name] = {"status": "oracle_error", "err": str(e)[:300]}
            continue
        sn, sc, sh, srows = frame_fingerprint(sdf)
        on_, oc, oh, orows = frame_fingerprint(odf)
        # dtype comparison (schema strictness insurance): int-width families
        for c in sorted(set(sdf.columns) & set(odf.columns)):
            a, b = str(sdf[c].dtype), str(odf[c].dtype)
            fam = lambda d: ("int" if "int" in d else
                             "float" if "float" in d or "double" in d else d)
            if fam(a) == fam(b) and a != b:
                print(f"     dtype-width {name}.{c}: spark={a} duckdb={b}")
            elif fam(a) != fam(b):
                print(f"     DTYPE-FAMILY {name}.{c}: spark={a} duckdb={b}")
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            failures.append(name)
            results[name] = {"status": "columns_mismatch"}
        elif sn != on_:
            print(f"FAIL {name}: rows spark={sn} oracle={on_}")
            failures.append(name)
            results[name] = {"status": "rows_mismatch",
                             "spark_rows": sn, "oracle_rows": on_}
        elif sh != oh:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL {name}: value hash mismatch; first diffs: {diff}")
            failures.append(name)
            results[name] = {"status": "hash_mismatch", "spark_rows": sn}
        else:
            print(f"ok   {name}: {sn} rows match")
            results[name] = {"status": "match", "rows": sn}

    spark.stop()
    json_path = os.environ.get("CHECK_CONTRACT_JSON")
    if json_path:
        import json as _json
        with open(json_path, "w") as f:
            _json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
