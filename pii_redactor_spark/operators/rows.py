"""The one poison-row policy for the per-row media operators.

Every image and audio operator that decodes or rewrites a blob row by row
is a plain ``row(*values) -> [tuples]`` plus an ``on_error(*values) ->
[tuples]`` fallback: the normal case and the exception case of the same
row (Tuplex, VLDB 2019).  ``map_rows`` owns everything around them — the
``mapInPandas`` batch loop, the single ``except Exception`` site and the
output frame — so a malformed row (truncated stream, foreign codec, NULL
bytes, out-of-range field) takes its operator's fallback and never
kills the stage.  A fallback must not raise: it sees the same values
that just failed, so it copies them or emits NULLs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Row = Callable[..., list[tuple]]

# Output rows buffered before a frame is emitted.  Fan-out operators
# (chunk_audio: hundreds of windows per clip) would otherwise hold a whole
# Arrow batch's fan-out in one pandas frame.
_FLUSH_ROWS = 2048


def guard(row: Row, on_error: Row) -> Row:
    """``row`` with ``on_error`` taking over when it raises."""

    def guarded(*values) -> list[tuple]:
        try:
            return row(*values)
        except Exception:
            return on_error(*values)

    return guarded


def map_rows(df: DataFrame, schema: str, row: Row, on_error: Row) -> DataFrame:
    """``df.mapInPandas`` over ``guard(row, on_error)``: each input row's
    column values in ``df``'s order in, zero or more ``schema`` tuples out.

    Frames are built with ``object`` columns, so Python ints reach Arrow
    as ints: a bigint column holding a NULL beside 64-bit values is never
    widened through float64.
    """
    names = StructType.fromDDL(schema).names
    guarded = guard(row, on_error)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list[tuple] = []
        for pdf in batches:
            for values in pdf.itertuples(index=False, name=None):
                out += guarded(*values)
                if len(out) >= _FLUSH_ROWS:
                    yield pd.DataFrame(out, columns=names, dtype=object)
                    out = []
        yield pd.DataFrame(out, columns=names, dtype=object)

    return df.mapInPandas(gen, schema=schema)
