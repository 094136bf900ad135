"""Explicit schemas for the engine's point/graph data model.

Mirrors the reference case classes (NND.scala:62-63) on DataFrame types
(SURVEY.md §1.1-1.2):

- ``Node(features, label, partition, finished)`` keyed by Long id
  → row ``(id BIGINT, features ARRAY<DOUBLE>, label BIGINT, partition
  BIGINT, finished BOOLEAN)``.
- ``NodeWithNeighbors`` adds ``neighbors ARRAY<STRUCT<id, similarity>>``
  (null for rows skipped as finished — NND.scala:277).

Unlike the reference (which only asserts lazily inside ``subtract``,
NND.scala:288, and dies on duplicate ids via shuffle-phase asserts,
NND.scala:132), the engine validates inputs up front: ``validate_points``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NEIGHBOR_STRUCT = T.StructType(
    [
        T.StructField("id", T.LongType(), nullable=False),
        T.StructField("similarity", T.DoubleType(), nullable=False),
    ]
)

POINT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), nullable=False),
        T.StructField("features", T.ArrayType(T.DoubleType(), containsNull=False), nullable=False),
        T.StructField("label", T.LongType(), nullable=True),
        T.StructField("partition", T.LongType(), nullable=False),
        T.StructField("finished", T.BooleanType(), nullable=False),
    ]
)

GRAPH_SCHEMA = T.StructType(
    list(POINT_SCHEMA.fields)
    + [T.StructField("neighbors", T.ArrayType(NEIGHBOR_STRUCT), nullable=True)]
)


class InvalidPointsError(ValueError):
    """Input DataFrame violates the points contract."""


def normalize_points(df: DataFrame) -> DataFrame:
    """Coerce a DataFrame to the points contract, filling defaults.

    Accepts any DataFrame with at least ``id`` and ``features``; adds
    ``label`` (null), ``partition`` (0), ``finished`` (false) if absent,
    and casts to the canonical types.
    """
    cols = set(df.columns)
    if "id" not in cols or "features" not in cols:
        raise InvalidPointsError("points require `id` and `features` columns")
    out = df
    if "label" not in cols:
        out = out.withColumn("label", F.lit(None).cast(T.LongType()))
    if "partition" not in cols:
        out = out.withColumn("partition", F.lit(0).cast(T.LongType()))
    if "finished" not in cols:
        out = out.withColumn("finished", F.lit(False))
    return out.select(
        F.col("id").cast(T.LongType()).alias("id"),
        F.col("features").cast(T.ArrayType(T.DoubleType())).alias("features"),
        F.col("label").cast(T.LongType()).alias("label"),
        F.col("partition").cast(T.LongType()).alias("partition"),
        F.col("finished").cast(T.BooleanType()).alias("finished"),
    )


def has_non_finite(col: str):
    """True for a vector holding a NaN, an infinity or a null element."""
    return F.exists(
        col, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )


def validate_points(df: DataFrame) -> None:
    """Fail fast on contract violations the reference turned into
    mid-shuffle assertion deaths (NND.scala:132,162,190,222) or silent
    wrong answers (NND.scala:288).

    One aggregation job checks everything: duplicate ids, null features,
    inconsistent dimensionality, and vectors holding a NaN, an infinity
    or a null element (a NaN vector would otherwise come back from a
    search as the top hit, since NaN sorts above every number).
    """
    stats = df.agg(
        F.count("id").alias("n"),
        F.countDistinct("id").alias("n_ids"),
        F.sum(F.when(F.col("features").isNull(), 1).otherwise(0)).alias("null_feats"),
        F.countDistinct(F.size("features")).alias("n_dims"),
        F.sum(F.when(has_non_finite("features"), 1).otherwise(0)).alias("non_finite"),
    ).first()
    if stats.n == 0:
        return
    if stats.n_ids != stats.n:
        raise InvalidPointsError(f"duplicate ids: {stats.n - stats.n_ids} of {stats.n} rows")
    if stats.null_feats:
        raise InvalidPointsError(f"{stats.null_feats} rows have null features")
    if stats.n_dims > 1:
        raise InvalidPointsError(f"inconsistent feature dimensionality: {stats.n_dims} distinct sizes")
    if stats.non_finite:
        raise InvalidPointsError(
            f"{stats.non_finite} rows have NaN, infinite or null feature values"
        )
