"""parquet_metadata / parquet_schema table functions.

DuckDB ships parquet introspection TVFs (``parquet_metadata``,
``parquet_schema``) as part of its SQL-over-files surface; this module
is the Spark-first equivalent. The shape decision that matters at
100 TB: footer reads are DISTRIBUTED — the file list (a driver-side
metadata op, like any listing) becomes a one-column DataFrame and each
executor batch reads its files' footers with pyarrow inside
``mapInPandas``. A driver-side loop over 100k files would serialize
O(files) round trips; this stays one narrow stage with no shuffle.

Column names/values mirror DuckDB's output for the common columns
(physical type spellings like INT64/BYTE_ARRAY, SNAPPY compression,
stringified min/max stats) so introspection queries port verbatim;
``parquet_schema`` emits LEAF columns (pyarrow flattens the schema
tree — group nodes are DuckDB-only rows, filter ``num_children IS
NULL`` there when comparing).
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..catalog import local_frame


def _files_of(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet"))
    elif any(ch in path for ch in "*?["):
        files = sorted(_glob.glob(path))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no parquet files at {path!r}")
    return files


_META_SCHEMA = (
    "file_name string, row_group_id int, row_group_num_rows bigint, "
    "column_id int, path_in_schema string, num_values bigint, "
    "compression string, total_compressed_size bigint, "
    "total_uncompressed_size bigint, stats_min_value string, "
    "stats_max_value string")

_SCHEMA_SCHEMA = (
    "file_name string, name string, type string, type_length string, "
    "repetition_type string, num_children bigint, "
    "converted_type string, scale bigint, precision bigint, "
    "field_id bigint, logical_type string")


def _stat_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    return str(v)


def parquet_metadata_df(spark: SparkSession, path: str) -> DataFrame:
    """Row-group / column-chunk metadata of the parquet files at
    ``path`` — one row per (row group, column chunk), DuckDB's
    ``parquet_metadata`` shape."""
    files = _files_of(path)

    def gen(batches) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                md = pq.ParquetFile(f).metadata
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        col = rg.column(c_i)
                        st = col.statistics
                        rows.append({
                            "file_name": f,
                            "row_group_id": rg_i,
                            "row_group_num_rows": rg.num_rows,
                            "column_id": c_i,
                            "path_in_schema": col.path_in_schema,
                            "num_values": col.num_values,
                            "compression": col.compression,
                            "total_compressed_size":
                                col.total_compressed_size,
                            "total_uncompressed_size":
                                col.total_uncompressed_size,
                            "stats_min_value":
                                _stat_str(st.min if st else None),
                            "stats_max_value":
                                _stat_str(st.max if st else None),
                        })
            yield pd.DataFrame(
                rows, columns=[s.split()[0] for s in
                               _META_SCHEMA.split(", ")])

    src = local_frame(spark, [(f,) for f in files], "file string")
    return src.mapInPandas(gen, _META_SCHEMA)


def parquet_schema_df(spark: SparkSession, path: str) -> DataFrame:
    """Leaf-column schema of the parquet files at ``path`` (physical
    type spellings, DuckDB's ``parquet_schema`` leaf rows)."""
    files = _files_of(path)

    def gen(batches) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        def _lt(col):
            # DuckDB renders its own logical-type class spellings —
            # map the common ones, keep pyarrow's text otherwise
            s = str(col.logical_type)
            return {"String": "StringType()", "None": None}.get(s, s)

        cols = ["file_name", "name", "type", "type_length",
                "repetition_type", "num_children", "converted_type",
                "scale", "precision", "field_id", "logical_type"]
        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                sch = pq.ParquetFile(f).schema
                # DuckDB's tree includes the ROOT group element
                # [measured r12: name='schema', REQUIRED,
                # num_children=N, every other field NULL]
                rows.append({
                    "file_name": f, "name": "schema", "type": None,
                    "type_length": None, "repetition_type": "REQUIRED",
                    "num_children": len(sch), "converted_type": None,
                    "scale": None, "precision": None, "field_id": None,
                    "logical_type": None,
                })
                for i in range(len(sch)):
                    col = sch.column(i)
                    ct = col.converted_type
                    rows.append({
                        "file_name": f,
                        "name": col.name,
                        "type": col.physical_type,
                        "type_length": (str(col.length)
                                        if col.length else None),
                        "repetition_type":
                            ("OPTIONAL" if col.max_definition_level
                             else "REQUIRED"),
                        "num_children": None,
                        "converted_type":
                            None if ct in (None, "NONE") else ct,
                        "scale": (col.scale if col.scale >= 0
                                  else None),
                        "precision": (col.precision
                                      if col.precision >= 0 else None),
                        "field_id": None,
                        "logical_type": _lt(col),
                    })
            yield pd.DataFrame(rows, columns=cols)

    src = local_frame(spark, [(f,) for f in files], "file string")
    return src.mapInPandas(gen, _SCHEMA_SCHEMA)
