"""The one Arrow boundary every Python kernel crosses.

:func:`map_batches` wraps ``DataFrame.mapInArrow``, :func:`apply_groups`
``GroupedData.applyInArrow`` and :func:`apply_cogroups` the cogrouped
``applyInArrow``. Each skips empty batches (and cogroups with an empty
side: every cogroup kernel here is a join), hands the kernel a
:class:`Columns` view, and builds the kernel's ``{name: column}`` result
(None = no rows) against the declared Spark schema — so no kernel
hand-types an empty frame or copies a batch to append a column. A result
column may be a numpy array, a list, an Arrow array, or an (n, d) matrix
for an array column. :func:`collect` is the driver twin over
``toArrow()``.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Kernel = Callable[..., "dict[str, Any] | None"]


def matrix(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """The (n, d) float64 matrix of a list-of-numbers column. ``flatten``
    honours a sliced array's offset; a null vector or vectors of mixed
    lengths raise ValueError, never a misaligned matrix."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"{col.null_count} null vector(s) in a vector column")
    n = len(col)
    if n == 0:
        return np.empty((0, 0))
    flat = col.flatten()
    # no row is longer than d, so n·d values means every row has d
    d = pc.max(pc.list_value_length(col)).as_py()
    if len(flat) != n * d:
        raise ValueError(f"vectors of mixed lengths (up to {d})")
    return np.asarray(
        flat.to_numpy(zero_copy_only=False), dtype=np.float64
    ).reshape(n, -1)


class Columns:
    """A batch's (or group's) columns, converted to numpy on access:
    an array-of-numbers column as :func:`matrix`, any other column with
    ``to_numpy`` (binary, string and struct values as objects)."""

    __slots__ = ("data",)

    def __init__(self, data: pa.RecordBatch | pa.Table):
        self.data = data

    def __len__(self) -> int:
        return self.data.num_rows

    def __contains__(self, name: str) -> bool:
        return name in self.data.schema.names

    def arrow(self, name: str) -> pa.Array:
        """The column unconverted, for a kernel that carries it through."""
        col = self.data.column(name)
        return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col

    def __getitem__(self, name: str) -> np.ndarray:
        col = self.arrow(name)
        t = col.type
        if (
            pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)
        ) and (pa.types.is_integer(t.value_type) or pa.types.is_floating(t.value_type)):
            return matrix(col)
        return col.to_numpy(zero_copy_only=False)

    def append(self, name: str, values: Any) -> dict[str, Any]:
        """Every column carried through, plus ``name``."""
        return {**{c: self.arrow(c) for c in self.data.schema.names}, name: values}


def _array(value: Any, field: pa.Field) -> pa.Array:
    if isinstance(value, pa.ChunkedArray):
        value = value.combine_chunks()
    if isinstance(value, pa.Array):
        return value if value.type == field.type else value.cast(field.type)
    if isinstance(value, np.ndarray) and value.ndim == 2:
        n, d = value.shape
        offsets = pa.array(np.arange(n + 1, dtype=np.int64) * d, type=pa.int32())
        flat = pa.array(value.ravel(), type=field.type.value_type)
        return pa.ListArray.from_arrays(offsets, flat, type=field.type)
    return pa.array(value, type=field.type)


def _batch(cols: dict[str, Any], schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [_array(cols[f.name], f) for f in schema], schema=schema
    )


def _table(cols: dict[str, Any] | None, schema: pa.Schema) -> pa.Table:
    if cols is None:
        return schema.empty_table()
    return pa.Table.from_batches([_batch(cols, schema)])


def _schemas(schema: StructType | str) -> tuple[StructType, pa.Schema]:
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return schema, to_arrow_schema(schema)


def map_batches(
    df: DataFrame,
    kernel: Kernel,
    schema: StructType | str,
    whole_partition: bool = False,
) -> DataFrame:
    """``kernel`` over every non-empty Arrow batch of ``df``. With
    ``whole_partition`` it runs once per non-empty partition, on all its
    batches concatenated — for kernels whose groups straddle batch
    boundaries, or that write one file per partition."""
    spark_schema, out = _schemas(schema)

    def run(batches):
        if whole_partition:
            parts = [b for b in batches if b.num_rows]
            batches = [pa.Table.from_batches(parts).combine_chunks()] if parts else []
        for b in batches:
            if b.num_rows:
                cols = kernel(Columns(b))
                if cols is not None:
                    yield _batch(cols, out)

    return df.mapInArrow(run, spark_schema)


def apply_groups(grouped, kernel: Kernel, schema: StructType | str) -> DataFrame:
    """``kernel`` over every group of ``grouped`` (a ``GroupedData``)."""
    spark_schema, out = _schemas(schema)

    def run(table):
        return _table(kernel(Columns(table)), out)

    return grouped.applyInArrow(run, spark_schema)


def apply_cogroups(cogrouped, kernel: Kernel, schema: StructType | str) -> DataFrame:
    """``kernel(left, right)`` over every cogroup of ``cogrouped`` whose
    two sides both have rows."""
    spark_schema, out = _schemas(schema)

    def run(left, right):
        if not (left.num_rows and right.num_rows):
            return out.empty_table()
        return _table(kernel(Columns(left), Columns(right)), out)

    return cogrouped.applyInArrow(run, spark_schema)


def collect(df: DataFrame) -> Columns:
    """``df`` collected to the driver in one ``toArrow()``."""
    return Columns(df.toArrow())
