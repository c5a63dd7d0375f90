"""Declarative data-quality checks (Deequ/dbt-test-style) over any frame.

The pipeline validator (`pipeline/validator.py`) guards the *ledger
contract* (counts, seals, authority); this module is the generic,
user-facing constraint layer a warehouse team points at any table:
null discipline, domains, ranges, key uniqueness, referential integrity,
arbitrary row predicates.

Scale design — the part that matters at 100 TB:

- Every ROW-LEVEL check (not-null, in-set, in-range, regex, custom
  predicate) compiles to one conditional-sum column inside a SINGLE
  aggregate over a SINGLE scan. Ten row checks on a 100 TB table cost
  one pass, not ten — the Deequ "analyzer batching" idea expressed as a
  plain multi-column agg that whole-stage codegen fuses.
- ``unique`` is one more column of that aggregate, count(*) −
  count(distinct key); ``ref_integrity`` needs a join (left anti against
  the dimension's distinct keys — broadcast when the dimension is
  bounded), one more scan per referential check, its orphan counts
  joined onto the aggregate.
- Results are tiny (one row per check and group), so collecting them
  is driver-cheap regardless of input size.

``run_checks`` returns a DataFrame (check, n_violations) — queryable,
joinable, sinkable like any other frame; ``assert_checks`` is the
pipeline-gate form that raises on the first violation summary.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RowCheck:
    """A named row predicate; a row violating it counts once."""

    name: str
    predicate: Column  # True ⇒ row passes


def not_null(col: str) -> RowCheck:
    return RowCheck(f"not_null({col})", F.col(col).isNotNull())


def in_set(col: str, values: tuple) -> RowCheck:
    # NULL is a domain violation too: NULL IN (...) is NULL, not False —
    # coalesce pins it to a definite fail so the count is total.
    return RowCheck(
        f"in_set({col})", F.coalesce(F.col(col).isin(*values), F.lit(False))
    )


def in_range(col: str, lo, hi) -> RowCheck:
    return RowCheck(
        f"in_range({col})",
        F.coalesce(F.col(col).between(F.lit(lo), F.lit(hi)), F.lit(False)),
    )


def matches(col: str, regex: str) -> RowCheck:
    return RowCheck(
        f"matches({col})",
        F.coalesce(F.col(col).rlike(regex), F.lit(False)),
    )


def custom(name: str, predicate: Column) -> RowCheck:
    return RowCheck(name, F.coalesce(predicate, F.lit(False)))


@dataclass(frozen=True)
class UniqueCheck:
    """Key uniqueness; violations = rows beyond the first per duplicate
    key = count(*) − count(distinct key). Rows with a NULL key component
    are excluded from the distinct count by SQL semantics on BOTH
    engines; pair with ``not_null`` on the key columns to cover them."""

    cols: tuple[str, ...]

    @property
    def name(self) -> str:
        return f"unique({','.join(self.cols)})"


def unique(*cols: str) -> UniqueCheck:
    return UniqueCheck(tuple(cols))


@dataclass(frozen=True)
class RefCheck:
    """Referential integrity: every non-null FK tuple must exist in the
    dimension's PK set. Violations = fact rows with no match."""

    fk_cols: tuple[str, ...]
    dim: DataFrame
    pk_cols: tuple[str, ...]
    broadcast_dim: bool = True

    @property
    def name(self) -> str:
        return f"ref({','.join(self.fk_cols)})"


def ref_integrity(fk_cols: tuple[str, ...] | list[str], dim: DataFrame,
                  pk_cols: tuple[str, ...] | list[str],
                  broadcast_dim: bool = True) -> RefCheck:
    return RefCheck(tuple(fk_cols), dim, tuple(pk_cols), broadcast_dim)


Check = RowCheck | UniqueCheck | RefCheck


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate all checks; return (check string, n_violations long).

    ``run_checks_by`` with no grouping columns (a global aggregate: one
    row even on empty input). Output row order is the check declaration
    order (stable for consumers that diff runs).
    """
    order = {c.name: i for i, c in enumerate(checks)}
    mapping = F.create_map(*[x for k, i in order.items() for x in (F.lit(k), F.lit(i))])
    out = run_checks_by(df, checks, [])
    return out.orderBy(mapping[F.col("check")]) if checks else out


def run_checks_by(df: DataFrame, checks: list[Check], by: list[str]) -> DataFrame:
    """Per-group checks: (by..., check, n_violations) for every group
    with rows and every check; groups come back unordered, checks in
    declaration order within a group.

    Row-level and unique checks share ONE grouped aggregate over one
    scan; each referential check adds one left-anti join (broadcast
    dimension keys) whose per-group orphan counts join onto it.
    """
    if not checks:
        return df.select(*by, F.lit(None).cast("string").alias("check"),
                         F.lit(None).cast("long").alias("n_violations")).where(F.lit(False))
    # coalesce(_, 0): sum over zero rows is NULL — an empty input has
    # zero violations, and persisted metric rows must say so as 0.
    aggs = [F.count(F.lit(1)).alias("__rows")]
    refs = []
    for i, c in enumerate(checks):
        if isinstance(c, RowCheck):
            v = F.sum(F.when(~c.predicate, F.lit(1)).otherwise(F.lit(0)))
            aggs.append(F.coalesce(v, F.lit(0)).cast("long").alias(f"v{i}"))
        elif isinstance(c, UniqueCheck):
            v = F.count(F.lit(1)) - F.count_distinct(*[F.col(x) for x in c.cols])
            aggs.append(v.cast("long").alias(f"v{i}"))
        else:
            refs.append((i, c))
    out = df.groupBy(*by).agg(*aggs)
    for i, c in refs:
        dim_keys = c.dim.select(
            *[F.col(p).alias(f) for f, p in zip(c.fk_cols, c.pk_cols)]
        ).distinct()
        if c.broadcast_dim:
            dim_keys = F.broadcast(dim_keys)
        fact = df.where(
            reduce(lambda a, x: a & F.col(x).isNotNull(), c.fk_cols, F.lit(True))
        )
        orphans = (fact.join(dim_keys, list(c.fk_cols), "left_anti")
                   .groupBy(*[F.col(b).alias(f"__by_{b}") for b in by])
                   .agg(F.count(F.lit(1)).cast("long").alias(f"v{i}")))
        on = reduce(lambda a, b: a & F.col(b).eqNullSafe(F.col(f"__by_{b}")), by, F.lit(True))
        out = (out.join(orphans, on, "left").drop(*[f"__by_{b}" for b in by])
               .withColumn(f"v{i}", F.coalesce(F.col(f"v{i}"), F.lit(0).cast("long"))))
    per_check = F.array(*[
        F.struct(F.lit(c.name).alias("check"), F.col(f"v{i}").alias("n_violations"))
        for i, c in enumerate(checks)
    ])
    return (out.select(*by, F.explode(per_check).alias("r"))
            .select(*by, "r.check", "r.n_violations"))


class DataQualityError(RuntimeError):
    """At least one check reported violations; message lists them."""


def assert_checks(df: DataFrame, checks: list[Check]) -> None:
    """Pipeline gate: raise DataQualityError naming every failed check."""
    failed = [
        (r["check"], r["n_violations"])
        for r in run_checks(df, checks).collect()
        if r["n_violations"]
    ]
    if failed:
        summary = ", ".join(f"{n}: {v} violations" for n, v in failed)
        raise DataQualityError(summary)


def profile_columns(df: DataFrame, cols: list[str] | None = None,
                    exact_distinct: bool = False,
                    approx_rsd: float = 0.05) -> DataFrame:
    """Per-column profile — (column, n_rows, n_null, n_distinct,
    min_value, max_value) with min/max cast to string for a uniform
    schema. The ANALYZE/dbt-profiler step run before writing checks.

    Scale shape: ALL columns profile in ONE aggregate over ONE scan.
    With ``exact_distinct=False`` (the 100 TB default) distinct counts
    are HyperLogLog sketches (``approx_count_distinct``), which keep the
    plan a plain partial-aggregate; ``exact_distinct=True`` gives exact
    counts for oracle-grade comparison, at the cost of Catalyst's Expand
    strategy for multi-distinct (input rows duplicated once per profiled
    column before the shuffle) — fine on control tables, deliberate
    opt-in on corpus-scale facts.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("no columns to profile")
    distinct = (
        (lambda c: F.count_distinct(F.col(c))) if exact_distinct
        else (lambda c: F.approx_count_distinct(c, rsd=approx_rsd))
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"__nn{i}"),
            distinct(c).cast("long").alias(f"__nd{i}"),
            F.min(F.col(c)).cast("string").alias(f"__mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx{i}"),
        ]
    one = df.agg(*aggs)
    return one.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn{i}")).cast("long").alias("n_null"),
                F.col(f"__nd{i}").alias("n_distinct"),
                F.col(f"__mn{i}").alias("min_value"),
                F.col(f"__mx{i}").alias("max_value"),
            )
            for i, c in enumerate(cols)
        ])).alias("p")
    ).select("p.*")
