"""Top-k rows per group and the global rank: the engine's one spelling
of "first match by key", keyed de-duplication and per-query top-k
retrieval, and of a rank (with running sums) over a whole input that no
single task sorts.

Ordering contract (the DuckDB oracle's ``ORDER BY`` defaults):

* ``order`` terms are column names, each optionally suffixed ``ASC``
  (the default) or ``DESC``, compared left to right.
* NULL sorts LAST under both ASC and DESC (DuckDB's ``default_null_order``
  is ``nulls_last``; Spark's plain ``.asc()`` would put it first).
* NaN compares above every number, +inf included, in both engines, so it
  is last under ASC and FIRST under DESC.
* ``order`` must be a total order within each group: end it in a unique
  tiebreak (an id). Ties beyond ``order`` are broken arbitrarily.

Plan shape. The general plan is one ``row_number`` window and an
``rn <= k`` filter: Spark 4.1 plans a partial ``WindowGroupLimit`` before
the exchange, and with no keys an unpartitioned one as a per-partition
top-k and one merge (TakeOrderedAndProject). With keys, ``k == 1``
instead reduces: one ``min_by`` of the row over a key struct, a partial
and a final (sort) aggregate. It is kept because it measured faster on
the plurality votes (sf0.1, 4 cores, 10 alternated fresh-process pairs,
median and interquartile range): ``label_propagation_communities`` 2.50 s
(0.34) against the window's 2.91 s (0.24), faster in 10 of 10 pairs;
``modularity_communities`` 6.00 s (0.40) against 6.48 s (0.94), 9 of 10.
On ``hard_negatives_lsh`` the two tie (2.22 against 2.27 s). On
retrieval's two keyed top-1 sites the window read faster (same setup,
``bench.py``'s best-of-runs noop time, window against reduction):
``naive_bayes_source_classifier`` 2.44 s (0.44) against 2.72 s (0.78), the
reduction faster in 3 of 10 pairs and within the window's IQR, so it
calls the helper; ``loso_source_influence`` 3.94 s (0.44) against 4.78 s
(1.78), 3 of 10, beyond the IQR, so it keeps its window by hand.
Spark's struct comparison puts a NULL field first and ``-x`` leaves NaN
the largest value, so the key spells the contract out: an ``is null``
field before each nullable term, and for a DESC term an ``is not NaN``
field (floating types only) before its negation (``~x`` for integers,
which cannot overflow). A DESC term that has no negation (a string, a
date) takes the window; the choice depends only on the column type.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType, IntegralType


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    k: int,
    rank: str | None = None,
) -> DataFrame:
    """Each ``keys`` group's first ``k`` rows of ``df`` under ``order``
    (the module's contract), with ``df``'s columns in ``df``'s order, plus
    the 1-based position as an int column named ``rank`` when given.
    ``keys=[]`` ranks the whole input as one group; an empty input gives
    no rows."""
    terms = _terms(order)
    key = _reduction_key(df, terms) if k == 1 and keys else None
    if key is not None:
        rest = [c for c in df.columns if c not in keys]
        best = df.groupBy(*keys).agg(F.min_by(F.struct(*rest), key).alias("_top"))
        cols = [F.col(c) if c in keys else F.col("_top")[c].alias(c) for c in df.columns]
        return best.select(*cols, *([F.lit(1).alias(rank)] if rank else []))
    w = Window.partitionBy(*keys).orderBy(*_sort(terms))
    out = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return out.withColumnRenamed("_rn", rank) if rank else out.drop("_rn")


def global_rank(
    df: DataFrame,
    order: Sequence[str],
    *,
    keys: Sequence[str] = (),
    width: float | None = None,
    rank: str = "rn",
    running: dict[str, str] | None = None,
    size: str | None = None,
) -> DataFrame:
    """``df`` plus the 1-based ``rank`` of each row within its ``keys``
    group: ``row_number() OVER (PARTITION BY keys ORDER BY order)`` under
    the module's contract, with no group sorted in one task.

    The leading order term picks a band: the term itself when ``width``
    is None (counts, string keys), else ``floor(term / width)``. Rows are
    ranked by a window partitioned by (keys, band), and each band's
    offset is the row count of the bands before it, summed over a prefix
    join of the band-size table (one row per band, broadcast; a window
    over it would be unpartitioned). So the band domain must be small,
    and the band monotone in the term: a NaN term goes to the top band
    (Spark's ``floor(NaN)`` is 0 under ANSI mode), and ``floor`` of
    +/-inf clamps to the extreme longs. A NULL leading term is out of
    contract; NULL keys group together, as in DuckDB.

    ``running={"out": "col"}`` adds the inclusive running sum of each
    integral ``col`` along the same order as ``out``; ``size`` names a
    column with the group's row count. The helper owns the column name
    ``band``. Of the callers,
    ``equidepth_value_bins`` and ``winsorized_stats_per_type`` take no
    NaN value: their DuckDB oracles raise on the exact decimal sum of one.
    """
    running = running or {}
    terms = _terms(order)
    lead, desc = terms[0]
    band = F.col(lead)
    if width is not None:
        if isinstance(df.schema[lead].dataType, (FloatType, DoubleType)):
            band = F.when(F.isnan(band), F.lit(float("inf"))).otherwise(band)
        band = F.floor(band / width)
    d = df.withColumn("band", band)
    sizes = d.groupBy(*keys, "band").agg(
        F.count(F.lit(1)).alias("_n"),
        *(F.sum(c).alias(f"_s_{out}") for out, c in running.items()),
    )
    sums = ["_n", *(f"_s_{out}" for out in running)]
    lo = sizes.select(*(F.col(c).alias(f"_l{c}") for c in [*keys, "band", *sums]))
    offsets = (
        sizes.join(
            F.broadcast(lo),
            [
                *(F.col(f"_l{k}").eqNullSafe(F.col(k)) for k in keys),
                F.col("_lband") > F.col("band") if desc else F.col("_lband") < F.col("band"),
            ],
            "left",
        )
        .groupBy(*(F.col(c).alias(f"_j{c}") for c in [*keys, "band"]))
        .agg(*(F.coalesce(F.sum(f"_l{c}"), F.lit(0)).alias(f"_o{c}") for c in sums))
    )
    # In-band row number and running sums, under the names the band
    # totals have in ``sizes``; adding the ``_o`` offset of each makes it
    # global.
    w = Window.partitionBy(*keys, "band").orderBy(*_sort(terms))
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    names = df.columns
    out = (
        d.select(
            "*",
            F.row_number().over(w).alias("_n"),
            *(F.sum(c).over(upto).alias(f"_s_{o}") for o, c in running.items()),
        )
        .join(F.broadcast(offsets), [*_same(keys), F.col("band") == F.col("_jband")])
        .select(
            *names,
            *((F.col(f"_o{c}") + F.col(c)).alias(o) for o, c in zip([rank, *running], sums)),
        )
    )
    if size is None:
        return out
    # Counted from the input: a sum over ``sizes`` measured slower, as
    # Spark re-runs the band-size shuffle for it instead of reusing it.
    total = d.groupBy(*(F.col(k).alias(f"_j{k}") for k in keys)).agg(F.count(F.lit(1)).alias(size))
    return out.join(F.broadcast(total), _same(keys) or None).select(*names, rank, *running, size)


def ntile(rn: Column, n: Column, b: int) -> Column:
    """``ntile(b)``'s bucket (an int in 1..b) of the row ranked ``rn`` of
    ``n``: buckets of ``n div b`` rows, the first ``n mod b`` of them one
    row larger. Paired with ``global_rank`` it keeps the plan free of the
    builtin, whose window is unpartitioned."""
    s, r = F.floor(n / b), n % b
    head = r * (s + 1)  # rows in the first r (larger) buckets
    return (
        F.when(rn <= head, F.floor((rn - 1) / (s + 1)) + 1)
        .otherwise(r + F.floor((rn - head - 1) / s) + 1)
        .cast("int")
    )


def _same(keys: Sequence[str]) -> list[Column]:
    """Each key equal to its ``_j`` copy, NULL equal to NULL (as PARTITION
    BY groups it)."""
    return [F.col(k).eqNullSafe(F.col(f"_j{k}")) for k in keys]


def _terms(order: Sequence[str]) -> list[tuple[str, bool]]:
    """``order``'s terms as (column, is DESC) pairs."""
    terms = []
    for t in order:
        name, _, direction = t.partition(" ")
        terms.append((name, direction.strip().upper() == "DESC"))
    return terms


def _sort(terms: list[tuple[str, bool]]) -> list[Column]:
    """Window sort columns for ``terms`` with NULL last in both directions."""
    return [
        F.col(c).desc_nulls_last() if desc else F.col(c).asc_nulls_last()
        for c, desc in terms
    ]


def _reduction_key(df: DataFrame, terms: list[tuple[str, bool]]) -> Column | None:
    """A struct whose ascending order is ``terms``' order under the
    contract, or None when a DESC term's type has no order-reversing map."""
    fields = []
    for name, desc in terms:
        f, c = df.schema[name], F.col(name)
        if f.nullable:
            fields.append(c.isNull())
        if not desc:
            fields.append(c)
        elif isinstance(f.dataType, (FloatType, DoubleType)):
            fields += [~F.isnan(c), -c]
        elif isinstance(f.dataType, IntegralType):
            fields.append(F.bitwise_not(c))
        elif isinstance(f.dataType, DecimalType):
            fields.append(-c)
        else:
            return None
    return F.struct(*(c.alias(f"k{i}") for i, c in enumerate(fields)))
