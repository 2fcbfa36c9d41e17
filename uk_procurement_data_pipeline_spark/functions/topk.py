"""Top-k rows per group: the engine's one spelling of "first match by
key", keyed de-duplication and per-query top-k retrieval.

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
    terms = []
    for t in order:
        name, _, direction = t.partition(" ")
        terms.append((name, direction.strip().upper() == "DESC"))
    key = _reduction_key(df, terms) if k == 1 and keys else None
    if key is not None:
        rest = [c for c in df.columns if c not in keys]
        best = df.groupBy(*keys).agg(F.min_by(F.struct(*rest), key).alias("_top"))
        cols = [F.col(c) if c in keys else F.col("_top")[c].alias(c) for c in df.columns]
        return best.select(*cols, *([F.lit(1).alias(rank)] if rank else []))
    sort = [
        F.col(c).desc_nulls_last() if desc else F.col(c).asc_nulls_last()
        for c, desc in terms
    ]
    w = Window.partitionBy(*keys).orderBy(*sort)
    out = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return out.withColumnRenamed("_rn", rank) if rank else out.drop("_rn")


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
