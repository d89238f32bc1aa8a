"""Column profiling and semantic classification — the Spark
re-expression of the reference's ``classify_columns``
(auto_ts/models/build_ml.py:936-1125) and problem-type detection
(auto_ts/models/ml_models.py:570-616).

Design: instead of the reference's per-column pandas passes, ONE
``agg`` computes every per-column statistic (null count, distinct
count, min/max, mean string length) in a single scan — the
classification itself is driver-side arithmetic on that tiny result.
At 100 TB this is one map-side-combined aggregation over the table;
``approx_count_distinct`` keeps it sketch-sized (the exact variant is
available for small data where the reference's thresholds must match
exactly).

Semantic classes (reference heuristics, build_ml.py:946-1079):
- ≤2 uniques → bool (string_bool / num_bool)
- object with mean length ≥30 → nlp_vars
- all-unique → id_vars
- >90% null or 1 unique → cols_delete
- float with ≤15 uniques → cat_vars
- int in [1900, 2050] → date_vars
- string ≤35 uniques → cat_vars, else discrete_string_vars
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ColumnProfile:
    name: str
    dtype: str
    n_rows: int
    n_null: int
    n_distinct: int
    mean_str_len: float | None = None
    min_val: object = None
    max_val: object = None


@dataclass
class ClassifiedColumns:
    continuous_vars: list[str] = field(default_factory=list)
    int_vars: list[str] = field(default_factory=list)
    cat_vars: list[str] = field(default_factory=list)
    string_bool_vars: list[str] = field(default_factory=list)
    num_bool_vars: list[str] = field(default_factory=list)
    discrete_string_vars: list[str] = field(default_factory=list)
    nlp_vars: list[str] = field(default_factory=list)
    date_vars: list[str] = field(default_factory=list)
    id_vars: list[str] = field(default_factory=list)
    cols_delete: list[str] = field(default_factory=list)

    def as_dict(self) -> dict[str, list[str]]:
        return {k: list(v) for k, v in self.__dict__.items()}


_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def profile_columns(df: DataFrame, *, exact_distinct: bool = True) -> list[ColumnProfile]:
    """One-pass per-column stats (A1-A4). ``exact_distinct=False``
    switches to ``approx_count_distinct`` for the 100 TB path."""
    dtypes = dict(df.dtypes)
    cols = df.columns
    cd = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null"))
        aggs.append(cd(F.col(c)).alias(f"{c}__dist"))
        base = dtypes[c].split("(")[0]
        if base in _NUMERIC:
            aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
            aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
        if base == "string":
            aggs.append(F.avg(F.length(F.col(c))).alias(f"{c}__len"))
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["_n"]
    out = []
    for c in cols:
        out.append(
            ColumnProfile(
                name=c,
                dtype=dtypes[c],
                n_rows=n,
                n_null=row[f"{c}__null"] or 0,
                n_distinct=row[f"{c}__dist"],
                mean_str_len=row.get(f"{c}__len"),
                min_val=row.get(f"{c}__min"),
                max_val=row.get(f"{c}__max"),
            )
        )
    return out


def classify_columns(
    df: DataFrame,
    *,
    ignore: list[str] | None = None,
    cat_limit: int = 35,
    float_cat_limit: int = 15,
    nlp_char_limit: int = 30,
    null_delete_frac: float = 0.90,
    exact_distinct: bool = True,
) -> ClassifiedColumns:
    """Semantic column classification (M11/A2-A4 composite)."""
    ignore = set(ignore or [])
    res = ClassifiedColumns()
    for p in profile_columns(df.drop(*ignore) if ignore else df, exact_distinct=exact_distinct):
        base = p.dtype.split("(")[0]
        n_valid = p.n_rows - p.n_null
        if p.n_rows == 0 or n_valid == 0 or p.n_distinct <= 1 or (
            p.n_rows > 0 and p.n_null / p.n_rows >= null_delete_frac
        ):
            res.cols_delete.append(p.name)
        elif base in ("timestamp", "date", "timestamp_ntz"):
            res.date_vars.append(p.name)
        elif p.n_distinct == 2 and base == "string":
            res.string_bool_vars.append(p.name)
        elif p.n_distinct == 2 and base in _NUMERIC or base == "boolean":
            res.num_bool_vars.append(p.name)
        elif base == "string":
            if p.mean_str_len is not None and p.mean_str_len >= nlp_char_limit:
                res.nlp_vars.append(p.name)
            elif p.n_distinct >= n_valid:  # every value unique → identifier
                res.id_vars.append(p.name)
            elif p.n_distinct <= cat_limit:
                res.cat_vars.append(p.name)
            else:
                res.discrete_string_vars.append(p.name)
        elif base in ("float", "double", "decimal"):
            if p.n_distinct <= float_cat_limit:
                res.cat_vars.append(p.name)
            else:
                res.continuous_vars.append(p.name)
        elif base in ("tinyint", "smallint", "int", "bigint"):
            if (
                p.min_val is not None
                and p.max_val is not None
                and 1900 <= p.min_val
                and p.max_val <= 2050
                and p.n_distinct > 2
            ):
                res.date_vars.append(p.name)
            elif p.n_distinct >= n_valid:
                res.id_vars.append(p.name)
            else:
                res.int_vars.append(p.name)
        else:
            res.cols_delete.append(p.name)
    return res


def detect_problem_type(df: DataFrame, target: str, *, cat_limit: int = 30) -> str:
    """Regression / Binary_Classification / Multi_Classification
    (reference rule: dtype × distinct-count thresholds,
    ml_models.py:570-616)."""
    dtype = dict(df.dtypes)[target].split("(")[0]
    n_distinct = df.agg(F.countDistinct(F.col(target)).alias("d")).collect()[0]["d"]
    if n_distinct == 2:
        return "Binary_Classification"
    if dtype in ("string", "boolean"):
        return "Multi_Classification"
    if dtype in ("tinyint", "smallint", "int", "bigint") and n_distinct <= cat_limit:
        return "Multi_Classification"
    return "Regression"


def class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """Balanced class weights n/(k·count) per class (A12,
    ml_models.py:390-457) — one groupBy + a cross-joined scalar agg."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        label_col,
        F.col("cnt"),
        (F.col("n") / (F.col("k") * F.col("cnt"))).alias("weight"),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95, 0.99),
) -> dict[float, float | None]:
    """Exact interpolated quantiles (R type-7, the semantics of both
    Spark ``percentile`` and DuckDB ``quantile_cont``) at ANY scale.

    Spark's exact ``percentile`` aggregate buffers every value of the
    column in one in-memory map per aggregate expression — fine for
    bounded groups, a memory bomb on a whole table (the r6 sf3 sweep
    killed an 8g JVM with 5 percentiles over 18M rows; at 100 TB it is
    simply impossible). This is the scalable exact form instead:

    1. two-pass global rank over the value (range repartition →
       local sort-rank → O(partitions) offset collect; the same
       no-single-task-sort shape as ``with_global_row_number`` /
       ``budget_select``), every stage spill-safe;
    2. the ≤ 2·len(probabilities) bracketing ranks are fetched with a
       rank-IN filter and interpolated driver-side.

    Driver state: O(partitions + probabilities). Returns
    ``{probability: value}`` (None for every q when the column has no
    non-null rows).
    """
    import math

    from .partitioning import MaterializeScope, with_global_row_number

    vals = (
        df.select(F.col(value_col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .withColumn("_s", F.lit("0"))
    )
    with MaterializeScope() as scope:
        ranked = scope.hold(
            with_global_row_number(vals, order_col="_v", series_col="_s", name="_r")
        )
        n = ranked.count()
        if n == 0:
            return {q: None for q in probabilities}
        need = sorted(
            {
                r
                for q in probabilities
                for r in (
                    math.floor((n - 1) * q) + 1,
                    math.ceil((n - 1) * q) + 1,
                )
            }
        )
        picked = {
            row["_r"]: row["_v"]
            for row in ranked.filter(F.col("_r").isin(need)).collect()
        }
    out: dict[float, float | None] = {}
    for q in probabilities:
        k = (n - 1) * q
        lo, hi = math.floor(k), math.ceil(k)
        v_lo = picked[lo + 1]
        if hi == lo:
            out[q] = v_lo
        else:
            # v_lo + frac*(v_hi - v_lo): the interpolation form both
            # Spark's Percentile aggregate and DuckDB quantile_cont use
            out[q] = v_lo + (k - lo) * (picked[hi + 1] - v_lo)
    return out
