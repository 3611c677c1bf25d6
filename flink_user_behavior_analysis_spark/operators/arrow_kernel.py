"""The one runner for the package's Arrow kernels (``mapInArrow``).

A kernel is a function from one input ``pyarrow.RecordBatch`` to the
columns of one output batch. ``map_arrow`` owns everything around it:

- the input projection (``cols``), optionally hash-repartitioned by one
  of its columns (``partition_by``) so that a small input that arrives
  as one split does not run the kernel in one task;
- the batch loop: an empty input batch is skipped, and a kernel that
  returns None for a batch emits nothing for it;
- the output batch: column i becomes field i of ``out_schema``, with the
  Arrow type pyspark's ``to_arrow_type`` gives that field. An Arrow
  array is cast when its type differs, a 2-D ndarray for a list field
  becomes a list column over its raveled values, and anything else
  goes through ``pa.array(value, type=...)``.

Edge policy, stated once for every kernel:

- ``list_matrix`` is the one dense path for a ``list<numeric>`` column
  (embeddings, PQ codes). Arrow keeps a list column as one contiguous
  values buffer plus offsets, so the (n, d) matrix is a reshape of the
  values, not a per-row conversion (0.29 s -> 0.7 ms at 50k x 64).
  The widths are read from the offsets: a NULL row, a NULL element or
  rows of different widths raise ``ValueError`` naming the column.
- Kernels with a per-row contract read their columns themselves and
  keep their own rules: SimHash gives 0 for NULL text,
  ``doc_fingerprints`` gives NULL, winnowing drops NULL documents, and
  the SemDeDup assignment mirrors its SQL form (``_semdedup_assigned``).

The one kernel that does not run here is ``pca_fit``'s partial Gram
matrix: it accumulates over all batches of a partition and emits once.

The kernel-side building blocks shared by several kernels live here
too: ``md5_60`` (the Python twin of ``dedup.md5_long``) and
``token_starts`` (byte offsets of a single-space-joined token stream).
"""

from __future__ import annotations

from hashlib import md5
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructType


def map_arrow(frame: DataFrame, cols: Sequence[Column | str],
              out_schema: StructType, kernel: Callable,
              partition_by: str | None = None) -> DataFrame:
    """``frame.select(*cols)`` [repartitioned by ``partition_by``] run
    through ``kernel`` batch by batch; see the module docstring."""
    from pyspark.sql.pandas.types import to_arrow_type

    names = [f.name for f in out_schema]
    types = [to_arrow_type(f.dataType) for f in out_schema]

    def _run(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = kernel(batch)
            if out is None:
                continue
            yield pa.RecordBatch.from_arrays(
                [_as_arrow(c, t) for c, t in zip(out, types)], names)

    src = frame.select(*cols)
    if partition_by is not None:
        n_parts = frame.sparkSession.sparkContext.defaultParallelism
        src = src.repartition(n_parts, partition_by)
    return src.mapInArrow(_run, out_schema)


def _as_arrow(value, arrow_type):
    import numpy as np
    import pyarrow as pa

    if isinstance(value, pa.Array):
        return value if value.type.equals(arrow_type) \
            else value.cast(arrow_type)
    if (isinstance(value, np.ndarray) and value.ndim == 2
            and pa.types.is_list(arrow_type)):
        return list_column(value, arrow_type.value_type)
    return pa.array(value, type=arrow_type)


def list_matrix(batch, col, dtype="float64"):
    """(n, d) ndarray of the ``list<numeric>`` column ``col`` (index or
    name) of ``batch``; ValueError on a NULL row, a NULL element or
    rows of different widths."""
    import numpy as np

    arr = batch.column(col)
    name = batch.schema.field(col).name
    if arr.null_count:
        raise ValueError(f"column {name!r}: {arr.null_count} NULL row(s); "
                         "a list<numeric> kernel input must be non-NULL")
    n = len(arr)
    widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
    if n and (widths != widths[0]).any():
        raise ValueError(f"column {name!r}: ragged rows (widths "
                         f"{widths.min()}..{widths.max()}); a list<numeric> "
                         "kernel input must have one width")
    values = arr.flatten()
    if values.null_count:
        raise ValueError(f"column {name!r}: {values.null_count} NULL "
                         "element(s) in a list<numeric> kernel input")
    d = int(widths[0]) if n else 0
    return (values.to_numpy(zero_copy_only=False)
            .astype(dtype, copy=False).reshape(n, d))


def list_column(mat, value_type=None):
    """Arrow ``list<value_type>`` array from a contiguous (n, d) matrix:
    computed offsets over the raveled values, not a per-row build."""
    import numpy as np
    import pyarrow as pa

    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32),
                       type=pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(),
                                                      type=value_type))


def md5_60(data: bytes) -> int:
    """md5 -> first 15 hex digits -> int: ``dedup.md5_long`` in Python."""
    return int(md5(data).hexdigest()[:15], 16)


def token_starts(s: str, b: bytes) -> list[int]:
    """Byte offsets of the tokens of the single-space-joined stream
    ``s`` (``b`` is ``s.encode()``), plus one past the end: tokens
    i..j-1 are ``b[starts[i]:starts[j] - 1]``. Normalized text is ASCII,
    where a token's width in bytes is its width in characters."""
    widths = (len(t) for t in s.split(" ")) if len(b) == len(s) else \
        (len(t.encode()) for t in s.split(" "))
    starts = [0]
    for w in widths:
        starts.append(starts[-1] + w + 1)
    return starts
