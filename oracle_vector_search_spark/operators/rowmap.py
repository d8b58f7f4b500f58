"""One row-wise Python map stage: the engine's only Arrow batch loop for
per-row kernels.

``map_rows(df, fn, schema)`` runs ``fn(*row)`` on every row of ``df``
inside one ``mapInPandas`` stage. ``fn`` returns an iterable of output
tuples in ``schema`` order: no tuple drops the row, several fan it out
(the UDTF shape). A SQL NULL reaches ``fn`` as ``None``, whatever
pandas made of it. Output columns take their names from ``schema``, so
a kernel states its columns once.

Stages that work on a whole batch or group (one GEMM or one embedding
call per batch, a cogroup per key) keep their own ``mapInPandas`` /
``applyInPandas``; ``tests/test_owner_guards.py`` lists them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd


def _values(s: pd.Series) -> list:
    """One batch column as Python values, NULL as ``None``. Arrow hands
    an integer column with NULLs to pandas as float with NaN, and a
    double NULL as NaN, so a float NaN reads as NULL."""
    if s.dtype.kind == "f" and s.hasnans:
        return s.astype(object).where(s.notna(), None).tolist()
    return s.tolist()


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
    cols: list[str] | None = None,
) -> DataFrame:
    """``fn(*row)`` over the rows of ``df`` (``cols`` only, in that
    order, if given), flattened into a frame of ``schema`` (a
    ``StructType`` or a DDL string)."""
    if cols is not None:
        df = df.select(*cols)
    if isinstance(schema, str):
        names = T.StructType.fromDDL(schema).names
    else:
        names = schema.names

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in it:
            rows = zip(*(_values(pdf.iloc[:, i]) for i in range(pdf.shape[1])))
            out = [o for row in rows for o in fn(*row)]
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(batches, schema=schema)
