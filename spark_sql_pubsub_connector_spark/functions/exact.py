"""Exact (integer-scaled) aggregation over fixed-decimal doubles.

The driver's correctness gate hash-compares Spark results against
DuckDB. Plain ``sum(double)`` is NOT portable across engines: the two
sum in different orders (sequential vs pairwise, partial aggregates),
so the low bits differ, and ``round(sum(x), k)`` flips whenever the
true value sits on a rounding boundary — which fixed-decimal business
data hits constantly (e.g. ``avg`` of 2-decimal values over n=8 ends
in ...25 at 4 decimals).

Recipe: snap each term to an integer at its exact decimal scale
(``round(x * 10^s)`` — float noise is ~1e-6 of the grid, so the snap is
unambiguous; per-row scaled values are ≤~1e10, well inside the
double's exact-integer range), sum exactly and order-independently,
then divide back to double. Every engine performs the identical
IEEE-754 division on the identical integer, so results are bit-equal
with NO tolerance.

Overflow headroom — measured, two tiers:

- ``esum``/``eavg`` accumulate in BIGINT (~9.2e18): at scale=4 that is
  ~9.2e14 data units per aggregate group — 255× above the deepest
  scale this repo measures (1000× ≈ sf100: a q01-class group sums to
  ~3.6e16 scaled units), but a true-100 TB q01-class group
  (~1e11 lineitem rows × ~3.8e4 avg price × 1e4 scale ≈ 3.8e19)
  CROSSES it. Spark raises loudly under ANSI rather than corrupting.
- ``esum_wide``/``eavg_wide`` (and ``sql_*_wide``) accumulate in
  DECIMAL(38,0) / DuckDB HUGEINT — exact to ~1e38, and bit-identical
  to the narrow path below 2^63 (both engines' integer→double casts
  are correctly rounded; pinned cross-engine past 2^63 by
  ``test_exact_aggs_survive_past_int64``). The wide accumulator was
  MEASURED at +141% warm wall on q01's agg (Spark's >18-digit decimal
  sum buffer leaves the compact-long fast path), so the narrow form
  stays the default at bench scales; switch call sites to the wide
  form when deploying past ~sf25,000 per group (PARITY.md §3,
  "Exact-accumulator cost", records the measurement).

The SQL-text twins (`sql_esum`/`sql_eavg`) keep the DuckDB oracle
expression structurally identical to the Spark plan.

Deployment knob: set ``SPARK_GRAFT_EXACT_ACC=wide`` (env, read at
import; or call :func:`set_accumulator_mode`) and every ``esum``/
``eavg`` call site AND its SQL oracle twin switch to the DECIMAL(38,0)/
HUGEINT accumulator in lockstep — a true-100 TB deployment is a config
change, not a per-query hand edit. The lockstep holds at RUNTIME, not
just env-at-import: every sql_esum/sql_eavg-bearing oracle in the
registry is a zero-arg factory (``oracle=lambda: f"..."``) that
re-composes per access, so a set_accumulator_mode() flip moves the
Spark plan and the DuckDB oracle together (ADVICE r13 fix; pinned
corpus-wide by ``test_mode_knob_flips_every_registered_oracle`` and
oracle-green in both modes on q01 + q100 by ``test_exact_agg_mode_knob``
/ ``test_mode_knob_q100_oracle_green_both_modes``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column

_ACC_MODES = ("bigint", "wide")
_ACC_MODE = os.environ.get("SPARK_GRAFT_EXACT_ACC", "bigint").strip().lower()
if _ACC_MODE not in _ACC_MODES:
    raise ValueError(
        f"SPARK_GRAFT_EXACT_ACC must be one of {_ACC_MODES}, got {_ACC_MODE!r}"
    )


def accumulator_mode() -> str:
    """Current accumulator mode: 'bigint' (default) or 'wide'."""
    return _ACC_MODE


def set_accumulator_mode(mode: str) -> str:
    """Flip esum/eavg and their SQL twins between the BIGINT and
    DECIMAL(38,0)/HUGEINT accumulators in lockstep; returns the
    previous mode (so tests can restore it)."""
    global _ACC_MODE
    if mode not in _ACC_MODES:
        raise ValueError(f"accumulator mode must be one of {_ACC_MODES}, got {mode!r}")
    prev = _ACC_MODE
    _ACC_MODE = mode
    return prev


def _scaled(expr: Column | str, scale: int, acc: str = "long") -> Column:
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.round(col * (10**scale), 0).cast(acc)


def esum(expr: Column | str, scale: int = 2) -> Column:
    """Exact sum of a fixed-decimal double, returned as double.
    Honors the module accumulator mode (see docstring)."""
    if _ACC_MODE == "wide":
        return esum_wide(expr, scale)
    return F.sum(_scaled(expr, scale)).cast("double") / F.lit(10**scale)


def eavg(expr: Column | str, scale: int = 2) -> Column:
    """Exact-sum-based average: (sum_scaled / 10^s) / n, all IEEE-deterministic.
    Honors the module accumulator mode (see docstring)."""
    if _ACC_MODE == "wide":
        return eavg_wide(expr, scale)
    return (
        F.sum(_scaled(expr, scale)).cast("double") / F.lit(10**scale)
    ) / F.count(F.lit(1)).cast("double")


def esum_wide(expr: Column | str, scale: int = 2) -> Column:
    """``esum`` with a DECIMAL(38,0) accumulator: bit-identical below
    2^63, exact to ~1e38 — the true-100 TB escalation (see module
    docstring for the measured cost)."""
    acc = _scaled(expr, scale, acc="decimal(38,0)")
    return F.sum(acc).cast("double") / F.lit(10**scale)


def eavg_wide(expr: Column | str, scale: int = 2) -> Column:
    acc = _scaled(expr, scale, acc="decimal(38,0)")
    return (F.sum(acc).cast("double") / F.lit(10**scale)) / F.count(
        F.lit(1)
    ).cast("double")


def sql_esum(expr: str, scale: int = 2, alias: str | None = None) -> str:
    if _ACC_MODE == "wide":
        return sql_esum_wide(expr, scale, alias)
    s = 10**scale
    sql = f"CAST(sum(CAST(round(({expr}) * {s}, 0) AS BIGINT)) AS DOUBLE) / {s}"
    return f"{sql} AS {alias}" if alias else sql


def sql_eavg(expr: str, scale: int = 2, alias: str | None = None) -> str:
    if _ACC_MODE == "wide":
        return sql_eavg_wide(expr, scale, alias)
    s = 10**scale
    sql = (
        f"(CAST(sum(CAST(round(({expr}) * {s}, 0) AS BIGINT)) AS DOUBLE) / {s})"
        f" / CAST(count(*) AS DOUBLE)"
    )
    return f"{sql} AS {alias}" if alias else sql


def sql_esum_wide(expr: str, scale: int = 2, alias: str | None = None) -> str:
    s = 10**scale
    sql = f"CAST(sum(CAST(round(({expr}) * {s}, 0) AS HUGEINT)) AS DOUBLE) / {s}"
    return f"{sql} AS {alias}" if alias else sql


def sql_eavg_wide(expr: str, scale: int = 2, alias: str | None = None) -> str:
    s = 10**scale
    sql = (
        f"(CAST(sum(CAST(round(({expr}) * {s}, 0) AS HUGEINT)) AS DOUBLE) / {s})"
        f" / CAST(count(*) AS DOUBLE)"
    )
    return f"{sql} AS {alias}" if alias else sql
