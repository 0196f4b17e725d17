"""View output contracts (SURVEY.md §1.4).

Reference semantics: each view declares RESULT_COLUMNS and ends with
`subset(df, columns)`; a view whose input is missing returns None, which
`helper/data_frame_generation_result.py:8-23` converts into an empty
DataFrame that still has the contract columns. Reproduced here as a small
dataclass: `conform` projects/reorders (adding ''-defaulted columns where a
branch never produced them), `empty` builds the typed empty frame.

Every frame the gold path builds on the driver (the typed empty view, the
descriptor crosswalk, the letter-grade lookup, the validation report) goes
through `local_frame`: a pyarrow Table handed to `createDataFrame` plans a
`LocalRelation`. A Python list would plan a `LogicalRDD` instead, whose
every scan runs Python-worker tasks to unpickle the rows and which carries
no size statistics, so Catalyst can neither broadcast it from the plan nor
fold a join over an empty input away.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, schema: T.StructType | str,
                rows: Iterable[tuple] = ()) -> DataFrame:
    """`rows` (tuples in `schema`'s column order; a DDL string is parsed)
    as a `LocalRelation`: the rows live in the plan, so reading them needs
    no Python worker, and the optimizer sees their size."""
    if isinstance(schema, str):
        schema = _parse_type(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


@dataclass(frozen=True)
class ViewContract:
    """Declares a gold view's output relation."""

    name: str
    columns: tuple[str, ...]
    # Column → Spark type name; unlisted columns are string (the reference
    # is aggressively stringly-typed — SURVEY.md §1.3).
    types: dict[str, str] = field(default_factory=dict)

    def schema(self) -> T.StructType:
        return T.StructType([
            T.StructField(c, _parse_type(self.types.get(c, "string")), True)
            for c in self.columns
        ])

    def empty(self, spark: SparkSession) -> DataFrame:
        """The typed empty view, an empty `LocalRelation`: writing it
        starts no Python-worker task, and `PropagateEmptyRelation` folds
        any join or union over it at plan time."""
        return local_frame(spark, self.schema())

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """The view's gold parquet at `path`, in contract column order and
        types. The explicit schema lets a scan prune to the columns its
        consumer uses and keeps a `DateKey` partition column a string
        (inference would int-ify 'yyyymmdd' values, and the session-wide
        inference flag can't be flipped without breaking the bucket
        store's int `_bkt` reads). A partition column is read last, so a
        partitioned gold is reordered."""
        df = spark.read.schema(self.schema()).parquet(path)
        return df if df.columns == list(self.columns) \
            else df.select(*self.columns)

    def conform(self, df: DataFrame | None, spark: SparkSession) -> DataFrame:
        """Final projection to exactly the contract columns, in order.

        None (missing input) → typed empty frame. Missing columns are
        created as nulls cast to the contract type (the reference's
        `addColumnIfNotExists` uses '' — views that need '' do it
        explicitly before conform).
        """
        if df is None:
            return self.empty(spark)
        cols = []
        for c in self.columns:
            t = _parse_type(self.types.get(c, "string"))
            if c in df.columns:
                cols.append(F.col(c).cast(t).alias(c))
            else:
                cols.append(F.lit(None).cast(t).alias(c))
        return df.select(*cols)


def _parse_type(name: str) -> T.DataType:
    mapping = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }
    if name in mapping:
        return mapping[name]
    return T._parse_datatype_string(name)
