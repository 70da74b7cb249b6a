"""Cross-engine determinism helpers.

Rounding: Spark's ``round()`` rounds the *shortest decimal representation*
of a double HALF_UP (Java ``BigDecimal.valueOf``), DuckDB rounds the binary
double value — for values landing exactly on ``.xx5`` in decimal (common
for price/quantity divisions) the two differ by one ulp of the target scale
(measured: round(5198.985, 2) → 5198.99 Spark vs 5198.98 DuckDB).

Fix: round with pure IEEE arithmetic — ``floor(x * 10^n + 0.5) / 10^n`` —
emitted identically on both engines. Same input bits + same IEEE op
sequence → bit-identical results, no decimal-string semantics involved.
(Convention: halves round toward +inf, including for negatives — applied
consistently on both sides.)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column
from pyspark.sql import functions as F

# <repo>/_scratch, next to the package (listed in .gitignore)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "_scratch",
)

_swept_this_process = False


def _newest_mtime(root: str) -> float:
    """Staleness keys on the NEWEST mtime found inside the dir (walk), not
    the dir's own creation mtime — a long-lived session that made its
    scratch >2h ago but is still writing/reading files in it is live, and
    sweeping it would race a concurrent process into its open files."""
    newest = os.path.getmtime(root)
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, fn)))
            except OSError:
                pass
    return newest


def sweep_stale_scratch(force: bool = False) -> int:
    """Remove scratch dirs abandoned by dead processes (no file touched in
    2h). Runs ONCE per process — on the first ``fresh_scratch`` call —
    rather than on every query build: the walk is O(dirs × files) stat
    calls, which belongs in process startup, not the query path. Dirs
    belonging to the current pid are never swept (they may back a
    long-lived cached read). Returns the number of dirs removed."""
    global _swept_this_process
    if _swept_this_process and not force:
        return 0
    _swept_this_process = True
    import time

    cutoff = time.time() - 2 * 3600
    own_suffix = f"_p{os.getpid()}"
    removed = 0
    try:
        for name in os.listdir(SCRATCH):
            stale = f"{SCRATCH}/{name}"
            if name.endswith(own_suffix) or not os.path.isdir(stale):
                continue
            try:
                if _newest_mtime(stale) < cutoff:
                    shutil.rmtree(stale, ignore_errors=True)
                    removed += 1
            except OSError:
                pass
    except OSError:
        pass
    return removed


def fresh_scratch(kind: str, sf_dir: str, create: bool = False) -> str:
    """A clean per-(operator, scale-factor) scratch directory for the
    file-writing operators (log sinks, csv/json round-trips, stream
    staging). Removes any previous contents so re-runs are idempotent.

    The path carries the process id so a concurrent test run and a
    driver/bench run executing the same operator never clobber each other's
    half-written files. Directories abandoned by DEAD processes are swept
    once per process by :func:`sweep_stale_scratch` (not per call — the
    stale walk used to run on every query build and was flagged as I/O in
    the query path)."""
    sweep_stale_scratch()
    tag = sf_dir.rstrip("/").split("/")[-1]
    d = f"{SCRATCH}/{kind}_{tag}_p{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    if create:
        os.makedirs(d)
    return d


def r2(col: Column, n: int = 2) -> Column:
    """IEEE-deterministic round-half-up of a double column to n decimals."""
    m = F.lit(float(10**n))
    return F.floor(col * m + F.lit(0.5)) / m


def r2sql(expr: str, n: int = 2) -> str:
    """The DuckDB/ANSI-SQL twin of :func:`r2` (identical op sequence).

    The scale factor is CAST to DOUBLE explicitly: a bare ``100.0`` literal
    parses as DECIMAL in both engines — DuckDB still computes the division
    in double, but Spark's SQL front-end would switch to decimal division
    and change the result type (breaking DataFrame↔SQL parity)."""
    m = f"CAST({10**n} AS DOUBLE)"
    return f"floor(({expr}) * {m} + CAST(0.5 AS DOUBLE)) / {m}"
