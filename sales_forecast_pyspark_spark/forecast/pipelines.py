"""MLlib pipeline building blocks with the reference's exact configs.

M1 StringIndexer (handleInvalid="keep": unseen categories get an extra
index instead of failing at transform, py:390-400), M2 VectorAssembler
(handleInvalid="skip": rows with null/NaN features are dropped,
py:414-418), M3-M5 model presets with the reference's hyperparameters,
M6 pipeline composition with the fit-features-once idiom (py:1084-1087),
M10 cache frontiers (py:650-651).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml import Pipeline
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.regression import (
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame


def feature_pipeline(
    categorical: Sequence[str],
    numeric: Sequence[str],
    output_col: str = "features",
) -> Pipeline:
    """M1 + M2 + M6: one multi-column StringIndexer over every
    categorical column (``<c>_idx`` outputs; indices ordered by
    frequency, then alphabetically; "keep" for unseen values) feeding a
    single VectorAssembler ("skip" drops rows with null features).

    The one indexer fits every column's label map in a single
    aggregation instead of one per column. The pipeline is kept apart
    from the model so it can be fit ONCE on the train split and reused
    across every model (the reference's v3 idiom, py:1084-1087).
    """
    idx_cols = [f"{c}_idx" for c in categorical]
    return Pipeline(
        stages=[
            StringIndexer(
                inputCols=list(categorical),
                outputCols=idx_cols,
                handleInvalid="keep",
            ),
            VectorAssembler(
                inputCols=idx_cols + list(numeric),
                outputCol=output_col,
                handleInvalid="skip",
            ),
        ]
    )


def lr_preset(
    label: str,
    features_col: str = "features",
    reg_param: float = 0.05,
) -> LinearRegression:
    """M4 — the reference's winning model (py:1160-1169): Lasso
    (elasticNetParam=1.0) with standardization, maxIter=20,
    regParam 0.1 (v1) -> 0.05 (v2, default here)."""
    return LinearRegression(
        maxIter=20,
        regParam=reg_param,
        elasticNetParam=1.0,
        standardization=True,
        fitIntercept=True,
        solver="auto",
        labelCol=label,
        featuresCol=features_col,
    )


def rf_preset(
    label: str,
    features_col: str = "features",
    num_trees: int = 50,
    max_bins: int = 10000,
) -> RandomForestRegressor:
    """M3 (py:421-429): numTrees=50 (100 in v3), maxDepth=5, seed=42.
    maxBins must be >= the largest indexed-categorical cardinality so
    trees can split on it — the reference pins 10000 >= |StockCode|."""
    return RandomForestRegressor(
        numTrees=num_trees,
        maxDepth=5,
        maxBins=max_bins,
        seed=42,
        labelCol=label,
        featuresCol=features_col,
    )


def gbt_preset(
    label: str,
    features_col: str = "features",
    max_iter: int = 20,
    step_size: float = 0.05,
    max_bins: int = 10000,
) -> GBTRegressor:
    """M5 (py:839-849, :1224-1234): maxDepth=3, lossType="absolute",
    stepSize 0.01 (v1) -> 0.05 (v2, default here), seed=42."""
    return GBTRegressor(
        maxIter=max_iter,
        maxDepth=3,
        stepSize=step_size,
        maxBins=max_bins,
        lossType="absolute",
        seed=42,
        labelCol=label,
        featuresCol=features_col,
    )


def materialize(df: DataFrame) -> DataFrame:
    """M10 (py:650-651, :985-986): cache + count to force materialization
    at an expensive frontier before iterative ML — every L-BFGS/tree pass
    re-reads this lineage, so at scale the cache converts O(iterations)
    window recomputes into one. The session lets AQE size the cached
    plan's output (``canChangeCachedPlanOutputPartitioning``), so the
    cache holds the coalesced partitions — one at sf0.001 — rather than
    ``spark.sql.shuffle.partitions`` mostly empty ones, and each pass
    over it runs that many tasks."""
    df.cache()
    df.count()
    return df
