"""collect_arrow (DataFrame.toArrow) value parity with collect().

perfbench delivers every olap_mix result through collect_arrow; its
timings are only meaningful if the Arrow path materializes exactly the
rows the declared collect() protocol does. Pinned over a type-diverse
slice of the headline set: decimals/doubles (d1), dates+timestamps (h4),
strings/json (h8), longs + window ranks (k6), set ops (g3).
"""

from __future__ import annotations

import datetime
import math

import pytest

from marasa_spark.collect import collect_arrow
from marasa_spark.registry import queries_map

QIDS = ["d1_agg_hash", "h4_fn_datetime", "h8_fn_json", "k6_sim_cosine_topk", "g3_intersect"]


def _norm(v):
    """Normalize a cell for cross-container comparison: tz-aware datetimes
    (Arrow attaches the session tz; Row is naive-in-session-tz) to naive
    UTC, floats through repr (bit-compare doubles, including -0.0/NaN)."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", v.isoformat())
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, list):
        return ("l", tuple(_norm(x) for x in v))
    return v


@pytest.mark.parametrize("qid", QIDS)
def test_collect_arrow_matches_collect(spark, sf_dir, qid):
    df = queries_map()[qid](spark, sf_dir)
    rows = df.collect()
    tbl = collect_arrow(df)
    assert tbl.column_names == df.columns
    arrow_rows = tbl.to_pylist()
    assert len(arrow_rows) == len(rows)
    want = sorted(tuple(_norm(v) for v in r) for r in rows)
    got = sorted(
        tuple(_norm(d[c]) for c in tbl.column_names) for d in arrow_rows
    )
    assert got == want
