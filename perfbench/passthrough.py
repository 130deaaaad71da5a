"""A pass-through reader for ``spark_table``'s traced run.

It reads a ``dbps_protected`` dataset through the same Python data source
machinery as ``ProtectedParquetDataSource`` but decrypts nothing: the
protected columns arrive as the stored binary cells. The difference
between the two reads is the decrypt work. Spark workers import this
module by name, so it lives in its own file.
"""

from __future__ import annotations

from databatchprotectionservice_spark.sources.dbps_datasource import (
    ProtectedParquetDataSource,
    ProtectedParquetReader,
)


class PassthroughReader(ProtectedParquetReader):
    def __init__(self, path, schema):
        super().__init__(path, schema)
        # no column is treated as protected, so no kernel runs
        self._meta = {**self._meta, "columns": {}}


class PassthroughDataSource(ProtectedParquetDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_passthrough"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        from databatchprotectionservice_spark.sources.dbps_datasource import _list_fragments

        return from_arrow_schema(pq.read_schema(_list_fragments(self._path())[0][0]))

    def reader(self, schema):
        return PassthroughReader(self._path(), schema)
