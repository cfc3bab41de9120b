"""Checked Arrow boundary for the Python data sources' batch paths.

The versioned-table stream source and the Avro source hand Spark
pyarrow RecordBatches instead of one pickled tuple per row. A batch
must carry exactly the values Spark's own tuple conversion would have
produced for the declared schema, or the batch path must step aside:

- a typed build is unchecked: ``pa.array([1.5], type=pa.int64())``
  silently yields ``[1]``, and ``pa.array([1], type=pa.string())``
  raises ``ArrowTypeError``;
- so every column is built untyped and cast with ``safe=True``, which
  refuses a value the cast would change (1.5 into int64) with
  ``ArrowInvalid``;
- and only casts whose result equals the tuple conversion are taken
  (numeric to numeric, integer or boolean to string). A double's
  string form differs (``"1"`` vs ``"1.0"``), and Arrow parses strings
  into numbers where the tuple conversion raises.

Callers catch ``CAST_ERRORS`` and yield their rows instead, which
Spark converts per value.
"""

from __future__ import annotations

import pyarrow as pa

CAST_ERRORS = (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError)


def _same_as_tuple_path(src: pa.DataType, dst: pa.DataType) -> bool:
    if src == dst or pa.types.is_null(src):
        return True
    t = pa.types
    if (t.is_integer(src) or t.is_floating(src)) and (
        t.is_integer(dst) or t.is_floating(dst)
    ):
        return True
    return t.is_string(dst) and (t.is_integer(src) or t.is_boolean(src))


def checked_column(values, typ: pa.DataType):
    """A Python list or an Arrow (chunked) array as an array of `typ`,
    through one safe cast; raises one of CAST_ERRORS when the result
    could differ from Spark's per-value conversion."""
    if isinstance(values, list):
        values = pa.array(values)
    if not _same_as_tuple_path(values.type, typ):
        raise pa.lib.ArrowTypeError(f"no exact cast from {values.type} to {typ}")
    return values.cast(typ, safe=True)


def checked_batch(columns: list[list], types: list[pa.DataType], names: list[str]):
    """One RecordBatch of checked columns, or None when any column
    does not convert exactly — the caller then takes its row path."""
    try:
        return pa.RecordBatch.from_arrays(
            [checked_column(c, t) for c, t in zip(columns, types)], names=names
        )
    except CAST_ERRORS:
        return None
