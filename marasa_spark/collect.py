"""Arrow-backed result materialization (round 12, VERDICT r11 #1).

Classic-mode ``DataFrame.collect()`` is a single-threaded JVM-pickle →
py4j socket → Python-unpickle path: every row is materialized as a pickled
tuple and rebuilt as a ``Row`` object in the driver. At sf0.1 that protocol
is ~50% of the headline bench wall (q_string_date: 1.29 s collect vs
0.28 s noop) and ~2.5 s of k9's warm 2.9 s — pure transfer, no compute.

Spark 4 exposes ``DataFrame.toArrow()``: the JVM serializes the result as
Arrow record batches (columnar, no per-row object construction) and the
driver receives a ``pyarrow.Table``. For numeric/temporal-heavy results
this is the guide §6 "Arrow for driver transfers" point applied to the
engine's own result path.

``collect_arrow`` is the engine-layer entry so call sites (perfbench's
request loop, future writers) share one implementation and one fallback
policy. perfbench times it per request (``collect.arrow_ms``, and the
transfer share over a noop sink as ``collect.transfer_ms``); bench.py's
headline line keeps the declared collect() methodology.

Value parity with collect() is pinned in tests/test_collect_arrow.py:
same rows, same values, same column order — only the container differs
(pyarrow.Table vs list[Row]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def collect_arrow(df: DataFrame):
    """Materialize ``df`` to the driver as a ``pyarrow.Table``.

    Same eager, full-result semantics as ``collect()`` (every column of
    every row crosses to the driver) over the Arrow transfer path. Raises
    whatever ``toArrow`` raises — no silent row-path fallback, because a
    fallback would silently re-introduce the 5-10× protocol cost this
    exists to remove; callers that can tolerate the row path should call
    ``collect()`` explicitly.
    """
    return df.toArrow()
