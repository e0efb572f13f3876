"""ndarray source — the one reference loader Spark does not already have.

The reference ships per-format loaders that normalize everything to pandas
shards (data_sources/: csv.py, parquet.py, numpy.py, pandas.py, petastorm,
modin, dask, ray_dataset, object_store, partitioned). On Spark the
distributed frame is native: CSV, parquet (petastorm URL lists included),
JSON and ORC are ``spark.read.csv/parquet/json/orc``, a pandas frame is
``spark.createDataFrame``, and Modin/Dask/RayDataset/ObjectStore/
``__partitioned__`` have no counterpart because lineage and persist
replace the object store. What is left is :func:`from_numpy`, which keeps
the reference's synthesized ``f{i}`` column names.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def from_numpy(spark: SparkSession, arr: np.ndarray) -> DataFrame:
    """ndarray -> DataFrame with synthesized f{i} names (R4; the reference's
    naming in data_sources/numpy.py:32). A 1-d array becomes one column."""
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    cols = [f"f{i}" for i in range(arr.shape[1])]
    return spark.createDataFrame(pd.DataFrame(arr, columns=cols))
