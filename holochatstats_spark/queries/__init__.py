"""Query registry: every operator from SURVEY.md §2, as a named query.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the
same parquet tables. The driver hash-compares the two at sf0.01 — so both
sides alias every computed column identically, cast aggregates to matching
types, and round floating aggregates to a fixed scale so order-of-summation
noise cannot flip the hash.

Determinism contract for every query:
- total ORDER BY with a unique tie-break key wherever LIMIT/top-k applies;
- floats rounded (2dp for money-ish sums, 6dp for unit-scale similarities);
- counts/sums-of-ints cast to BIGINT on both sides (DuckDB's SUM(int)
  yields HUGEINT otherwise).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from holochatstats_spark.session import ensure_session_defaults


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    survey: str = ""  # SURVEY.md §2 operator ids this query exercises
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    survey: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_defaults(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Query(
            name=name,
            build=wrapped,
            oracle=oracle,
            survey=survey,
            doc=(fn.__doc__ or "").strip(),
            tags=tuple(tags),
        )
        return wrapped

    return deco


# The driver's correctness artifact evaluates queries() in dict order and
# caps at ~50 rows per round — so ordering is load-bearing: queries whose
# last driver-verified row is oldest go FIRST, so every operator keeps
# accumulating a fresh driver row across rounds even though each round
# truncates the tail. The rotation is programmatic: we parse every
# CORRECTNESS_r*.json at the repo root and sort the registry by the round
# each query last appeared in (never recorded => round 0 => front of the
# queue), tie-broken by registration order.


def _last_recorded_round() -> dict[str, int]:
    """Map query name -> newest round whose CORRECTNESS_r*.json has a
    SUCCESSFUL row for it. Only the repo root (derived from __file__) is
    scanned — never cwd, so registry order is caller-independent. A row
    counts as recorded only if it did not fail: err must be absent or the
    designed ``no_oracle`` rows-only marker, and hash_match must not be
    False — an errored/mismatched query should bubble back to the front of
    the gate queue, not look freshly verified."""
    import json
    import re
    from pathlib import Path

    last: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    try:
        artifacts = sorted(root.glob("CORRECTNESS_r*.json"))
    except OSError:
        artifacts = []
    for path in artifacts:
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict):
                if row.get("err") not in (None, "no_oracle"):
                    continue
                if row.get("hash_match") is False:
                    continue
            last[name] = max(last.get(name, 0), rnd)
    return last


def gate_order(registry: dict[str, Query]) -> list[str]:
    """Registry names sorted least-recently-driver-recorded first."""
    last = _last_recorded_round()
    reg_pos = {n: i for i, n in enumerate(registry)}
    return sorted(registry, key=lambda n: (last.get(n, 0), reg_pos[n]))


def load_all_queries() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY), returning
    the registry reordered least-recently-driver-recorded first (see
    gate_order)."""
    from holochatstats_spark.queries import (  # noqa: F401
        chat_pipeline,
        forecast,
        multimodal,
        neardup,
        overlap,
        relational,
        similarity,
        temporal,
        textops,
        vector,
    )

    return {n: REGISTRY[n] for n in gate_order(REGISTRY)}
