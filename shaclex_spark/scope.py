"""Scope: the one owner of persisted DataFrames.

Whatever a function persists for a result that outlives the call goes
into the caller's scope; the caller releases it all with ``close()``
(or by leaving a ``with Scope() as scope:`` block) once the results
are consumed. Nothing persisted hangs on a DataFrame or a module
global.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class Scope:
    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (lazily, on first action), record it, return it."""
        df = df.persist()
        self._held.append(df)
        return df

    def close(self) -> None:
        """Release everything this scope holds."""
        while self._held:
            try:
                self._held.pop().unpersist()
            except Py4JError:  # the session that cached it is gone
                pass

    def __enter__(self) -> "Scope":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
