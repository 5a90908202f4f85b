"""Python rows -> Arrow: the one step by which workers that compute their
output one row at a time hand it back to Spark.

``rows_table`` turns row tuples into an Arrow table of a given schema
(the tile and raster builders call it inside their own ``mapInArrow`` /
``applyInArrow`` workers).  ``map_rows`` is the whole worker for the
per-blob operators (images, media, tar shards), the WKB polygon and
JSONL GeoJSON readers and the driver's simplify query: one
``mapInArrow`` that pulls each input column out of the Arrow batch once,
calls a row function on every row and packs what it yields, so no
operator builds a pandas frame or a per-column list by hand.
``row_udf`` is the same for a function of one value per row (the
synthetic blob encoders, the WKB writers): a scalar ``arrow_udf``.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType


def rows_table(rows: list, schema: pa.Schema) -> pa.Table:
    """Python row tuples -> one Arrow table of ``schema``: how workers
    hand back rows they compute one at a time."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def map_rows(df: DataFrame, cols: list, ddl_schema: str,
             fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """``fn(*values)`` over every row of ``df.select(*cols)`` in one
    ``mapInArrow`` worker; ``fn`` yields zero or more output tuples per
    row, in the column order of ``ddl_schema``.

    Output leaves in batches of about the input batch's row count,
    flushed between rows, so rows that fan out (a tar shard into its
    samples, an image into its patches) never pile up a whole input
    batch's output in memory."""
    struct = StructType.fromDDL(ddl_schema)
    schema = to_arrow_schema(struct)

    def gen(batches):
        for batch in batches:
            out = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                out.extend(fn(*row))
                if len(out) >= batch.num_rows:
                    yield from rows_table(out, schema).to_batches()
                    out = []
            if out:
                yield from rows_table(out, schema).to_batches()

    return df.select(*cols).mapInArrow(gen, struct)


def row_udf(ddl_type: str, fn: Callable, *cols) -> Column:
    """``fn(*values)`` on every row of ``cols``: one value of
    ``ddl_type`` per row, from a scalar ``arrow_udf``."""
    typ = to_arrow_type(DataType.fromDDL(ddl_type))

    def udf(*arrays):
        return pa.array([fn(*row) for row in
                         zip(*(a.to_pylist() for a in arrays))], typ)

    return F.arrow_udf(udf, ddl_type)(*cols)
