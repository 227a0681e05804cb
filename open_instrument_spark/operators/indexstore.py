"""The side tables of the on-disk index stores, each defined once.

Every index store keeps its data tables (``vectors``, ``codes``,
``edges``, ``sigs``, ``bands``, ``postings``) beside small side tables:

- ``meta``: one row of store parameters (MinHash, semantic and graph
  stores), or one row per ``epoch=E`` partition that reads sum (the
  text index);
- ``centroids`` (cell, c): the cell-assignment table of the IVF, IVFPQ,
  semantic and graph stores;
- ``codebooks`` (j, cc, cv): the IVFPQ sub-quantizers;
- ``sq`` (vmins, vdiffs) and ``sq_bounds`` (max_err, min_norm): the
  semantic store's SQ8 grid and its measured decode-error bound.

Each table's schema is stated here once. Writes build the table from
it and reads pass it (``spark.read.schema``, the
``sources.ingest.read_store`` idiom), so building a side-table read
launches no Parquet schema-inference job; partition columns (the text
meta's ``epoch``) are still discovered from the paths. A read of a
missing table raises ``AnalysisException`` [PATH_NOT_FOUND].
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from open_instrument_spark import storefs
from open_instrument_spark.session import local_df

CENTROIDS = "cell int, c array<double>"
CODEBOOKS = "j int, cc int, cv array<double>"
SQ = "vmins array<double> not null, vdiffs array<double> not null"
SQ_BOUNDS = "max_err double, min_norm double"
MINHASH_META = "num_perm int, bands int, next_epoch long"
SEMANTIC_META = "dim int, n_cells int, next_epoch long"
# n_probe is null in graph stores written before multi-probe stores
# existed; those are single-probe
GRAPH_META = "dim int, n_cells int, k int, next_epoch long, n_probe int"
TEXT_META = "n_docs long, sum_dl long, n_buckets int"

# the side tables whose schema does not depend on the store kind
SCHEMAS = {"centroids": CENTROIDS, "codebooks": CODEBOOKS, "sq": SQ,
           "sq_bounds": SQ_BOUNDS}


def read(spark, path: str, table: str, schema: str | None = None) -> DataFrame:
    """``{path}/{table}`` read with its schema (``SCHEMAS[table]``
    unless given)."""
    return spark.read.schema(schema or SCHEMAS[table]).parquet(
        f"{path}/{table}")


def write(spark, path: str, table: str, rows: list[tuple],
          schema: str | None = None) -> None:
    """Overwrite ``{path}/{table}`` with the local ``rows``."""
    local_df(spark, rows, schema or SCHEMAS[table]).write.mode(
        "overwrite").parquet(f"{path}/{table}")


def read_meta(spark, path: str, schema: str) -> tuple:
    """The one meta row as a tuple of ints (None for a null field)."""
    r = read(spark, path, "meta", schema).first()
    return tuple(None if v is None else int(v) for v in r)


def write_meta(spark, path: str, schema: str, *values: int,
               table: str = "meta") -> None:
    write(spark, path, table, [tuple(int(v) for v in values)], schema)


def write_centroids(spark, path: str, C: np.ndarray) -> None:
    write(spark, path, "centroids",
          [(int(i), [float(x) for x in c]) for i, c in enumerate(C)])


def read_centroids(spark, path: str) -> np.ndarray:
    """The centroid matrix, row ``i`` = cell ``i``."""
    rows = read(spark, path, "centroids").collect()
    if not rows:
        raise ValueError(f"index at {path} has an empty centroids table")
    C = np.zeros((max(r["cell"] for r in rows) + 1, len(rows[0]["c"])))
    for r in rows:
        C[r["cell"]] = r["c"]
    return C


def write_codebooks(spark, path: str, B: np.ndarray) -> None:
    write(spark, path, "codebooks",
          [(j, cc, [float(x) for x in B[j, cc]])
           for j in range(B.shape[0]) for cc in range(B.shape[1])])


def read_codebooks(spark, path: str) -> np.ndarray:
    """The (m, ksub, dsub) codebook array."""
    rows = read(spark, path, "codebooks").collect()
    if not rows:
        raise ValueError(f"index at {path} has an empty codebooks table")
    B = np.zeros((max(r["j"] for r in rows) + 1,
                  max(r["cc"] for r in rows) + 1, len(rows[0]["cv"])))
    for r in rows:
        B[r["j"], r["cc"]] = r["cv"]
    return B


def ivf_cell_stats(spark, path: str) -> dict:
    """Occupancy health of an on-disk IVF or IVFPQ index: per-cell row
    counts of its ``codes`` table when it has one (IVFPQ) and of
    ``vectors`` otherwise, plus the skew ratio max/mean (mean over ALL
    centroid cells, so emptied cells count against balance). The cell
    is a partition column, so the scan reads no vector or code bytes.
    Returns {"counts": {cell: n}, "skew": float, "n_cells": int}."""
    n_cells = len(read_centroids(spark, path))
    table = (storefs.present(path, "codes") or ["vectors"])[0]
    counts = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(f"{path}/{table}")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    mean = sum(counts.values()) / n_cells
    skew = (max(counts.values()) / mean) if (counts and mean > 0) else 0.0
    return {"counts": counts, "skew": round(skew, 3), "n_cells": n_cells}
