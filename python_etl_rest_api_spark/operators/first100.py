"""The First100 set engine (reference api/first100.py, api/main.py).

The reference keeps a mutable in-process set of 1..100 with extract /
missing / reset operations and fails under multiple workers (its own
documented flaw, SURVEY.md L7). Here state lives in an APPEND-ONLY
parquet store, read once per check (extract reads before and after its
write, missing reads once), so concurrent workers converge on the same
state:

- each extraction appends one (n, token) row - no worker ever overwrites
  another's writes;
- duplicate extraction is adjudicated by a read-AFTER-write check: both
  racing writers land their rows, then both re-read and the smaller
  token wins; the loser raises the same "already extracted" error a
  sequential duplicate would (round-1 advice: the previous
  load-once/overwrite design served stale state and clobbered writes);
- reset() truncates by overwriting with an empty frame (last writer
  wins - the reference's reset has the same semantics).

The store is read with its declared schema (no schema-inference job),
and the rows written are built as Arrow LocalRelations
(session.local_frame), so no request starts a Python worker. Jobs per
call: reset 1, extract 3 (read, append, read-after-write), missing 1.
missing() answers from the set it has just loaded; ``remaining_df`` /
``missing_via_set`` keep the declarative anti-join over ``spark.range``
as the DataFrame cross-check.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

_STORE_SCHEMA = "n long, token string"

# The store pattern below RE-READS AND COLLECTS the whole table in
# every check. That is valid ONLY because state is bounded at <= n
# rows by construction (extractions of a set 1..n); the recipe must not
# be cloned for an unbounded keyspace, where _read_store() becomes a
# driver-side full-table collect. The constructor enforces the bound.
MAX_N = 10_000


class ValidationError(ValueError):
    """Mirrors reference api/first100.py:3-4 (mapped to HTTP 400)."""


class First100:
    """Bounded set 1..n with extraction state in a table-backed store.

    Reference semantics (api/first100.py:6-48, api/main.py:12-39):
    - extract(k): k must be int in [1, n] and not already extracted -> 400
    - missing(): requires EXACTLY ONE extracted number; returns it via the
      Gauss closed form n(n+1)/2 - sum(remaining)
    - reset(): fresh state
    """

    def __init__(self, spark: SparkSession, n: int = 100,
                 store_path: str | None = None):
        if not 1 <= n <= MAX_N:
            raise ValidationError(
                f"n must be in [1, {MAX_N}]: the collect-per-operation "
                "state store is only valid while state is <= n rows "
                "(see module docstring); larger keyspaces need a "
                "shuffled store, not this recipe")
        self.spark = spark
        self.n = n
        self.store_path = store_path
        self._extracted: list[int] = []
        if store_path:
            self._load()

    # -- state store ------------------------------------------------------
    def _read_store(self) -> list[tuple[int, str]]:
        """All (n, token) rows currently in the store ([] when the path
        does not exist). Any other read failure - a corrupt or unreadable
        file - raises: reading it as empty would silently reset the set.
        Legacy token-less rows read as token='' (sorts first, keeps the
        original extraction as the winner)."""
        try:
            df = self.spark.read.schema(_STORE_SCHEMA).parquet(self.store_path)
        except AnalysisException as exc:
            if exc.getCondition() == "PATH_NOT_FOUND":
                return []
            raise
        return [(r["n"], r["token"] or "") for r in df.collect()]

    def _load(self) -> list[tuple[int, str]]:
        """Refresh the in-process view with one read of the shared store
        and return the rows read. Every check starts from a fresh read,
        so multi-worker deployments never serve stale state (each worker
        sees every other worker's appends)."""
        if not self.store_path:
            return []
        rows = self._read_store()
        self._extracted = sorted({n for n, _ in rows})
        return rows

    def _append(self, number: int, token: str) -> None:
        df = local_frame(self.spark, [(number, token)], _STORE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.store_path)

    def _truncate(self) -> None:
        df = local_frame(self.spark, [], _STORE_SCHEMA)
        df.write.mode("overwrite").parquet(self.store_path)

    # -- set algebra as DataFrames ---------------------------------------
    def extracted_df(self) -> DataFrame:
        return local_frame(self.spark, [(k,) for k in self._extracted],
                           "n long")

    def remaining_df(self) -> DataFrame:
        """1..n minus extracted - left-anti join (reference I3 semantics)."""
        full = self.spark.range(1, self.n + 1).withColumnRenamed("id", "n")
        return full.join(self.extracted_df(), "n", "left_anti")

    # -- API operations ----------------------------------------------------
    def extract(self, number) -> dict:
        if not isinstance(number, int) or isinstance(number, bool):
            raise ValidationError("number must be an integer")
        if number < 1 or number > self.n:
            raise ValidationError(f"number must be between 1 and {self.n}")
        self._load()
        if number in self._extracted:
            raise ValidationError(f"{number} was already extracted")
        if self.store_path:
            # append-only write, then read-after-write adjudication: if a
            # concurrent worker also appended this number, the smaller
            # token wins and the other call reports the duplicate.
            token = f"{time.time_ns():020d}-{os.getpid()}"
            self._append(number, token)
            claims = sorted(t for n_, t in self._load() if n_ == number)
            if claims and claims[0] != token:
                raise ValidationError(f"{number} was already extracted")
        else:
            self._extracted.append(number)
        return {"extracted": number,
                "remaining_count": self.n - len(self._extracted)}

    def missing(self) -> int:
        """Gauss-sum missing number (reference api/first100.py:40-48):
        requires exactly one extraction."""
        self._load()
        if len(self._extracted) != 1:
            raise ValidationError(
                "missing() requires exactly one extracted number, "
                f"got {len(self._extracted)}")
        remaining = set(range(1, self.n + 1)).difference(self._extracted)
        return self.n * (self.n + 1) // 2 - sum(remaining)

    def missing_via_set(self) -> list[int]:
        """Alternate impl (reference api/first100.py:31-38): direct set
        difference, no cardinality precondition - kept as a cross-check."""
        self._load()
        rows = (self.spark.range(1, self.n + 1).withColumnRenamed("id", "n")
                .join(self.remaining_df(), "n", "left_anti")
                .collect())
        return sorted(r["n"] for r in rows)

    def reset(self) -> dict:
        self._extracted = []
        if self.store_path:
            self._truncate()
        return {"status": "reset", "remaining_count": self.n}
