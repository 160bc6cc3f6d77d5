"""Recency-guarded MERGE into a PK-hash-bucketed parquet lake.

Semantics of the reference's S9 sink (db.py:884-893):
``INSERT ... ON CONFLICT (pk) DO UPDATE SET <all columns>
WHERE excluded.updated_at >= existing.updated_at`` — last-writer-wins
keyed on PK with a recency guard, which together with idempotent
re-imports gives exactly-once-ish end state.

Lake expression of the same semantics:
  new_state = last_writer_wins(existing ∪ incoming, pk, version DESC)
with ties broken toward the incoming batch (the `>=` in the guard).

Storage layout & scale:
- rows live under ``<root>/data/__bucket=<i>/`` where
  ``__bucket = pmod(xxhash64(pk...), n_buckets)`` — a deterministic hash
  partition, so every PK maps to exactly one bucket directory;
- an upsert merges ONLY the buckets containing incoming PKs and rewrites
  only those directories: per-batch work is O(touched state), not
  O(table), which is what keeps a 1-second micro-batch viable when the
  table is 100 TB (size ``n_buckets`` so a bucket ≈ a few hundred MB —
  thousands of buckets at warehouse scale; Delta/Iceberg MERGE does the
  same thing with file-level pruning);
- untouched bucket directories are not opened, rewritten, or renamed —
  their files stay byte-identical (asserted by tests);
- the merge itself is one shuffle on the PK within touched buckets;
  incoming batches are deduped per PK *before* merging (SURVEY §7.3 hard
  part 1).

Crash safety (single writer per table, like the reference's
one-importer-per-table topology): each touched bucket is swapped by
rename via a ``.old-<epoch>`` holding area. A crash can leave buckets
missing from ``data/``, or ``data/`` itself missing when every bucket
had been moved out; ``_recover()`` — run on open and before every
upsert — moves each ``.old-*`` bucket with no live counterpart back into
``data/`` and clears stale staging, so the sink never silently restarts
empty. A partially-swapped batch (some buckets new, some rolled back) is
converged by re-running the batch: the ledger only commits after
``upsert`` returns, and the recency guard makes the re-merge idempotent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import last_writer_wins

_BUCKET = "__bucket"


class LakeUpsertSink:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        primary_key: tuple[str, ...],
        version_column: str = "updated_at",
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.root = root
        self.primary_key = primary_key
        self.version_column = version_column
        self.n_buckets = n_buckets
        self._data_dir = os.path.join(root, "data")
        self._recover()

    # -- crash recovery ----------------------------------------------------
    def _recover(self) -> None:
        """Roll back any interrupted swap: restore buckets left in
        ``.old-*`` that have no live counterpart, drop stale staging dirs."""
        if not os.path.isdir(self.root):
            return
        for name in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, name)
            if name.startswith(".old-"):
                for sub in os.listdir(path):
                    dst = os.path.join(self._data_dir, sub)
                    if sub.startswith(f"{_BUCKET}=") and not os.path.exists(dst):
                        # crash between rename-out and rename-in
                        os.makedirs(self._data_dir, exist_ok=True)
                        os.rename(os.path.join(path, sub), dst)
                shutil.rmtree(path)
            elif name.startswith(".staging-"):
                shutil.rmtree(path)

    # -- read --------------------------------------------------------------
    def exists(self) -> bool:
        """True iff the sink holds data, i.e. at least one bucket dir. A
        zero-row upsert leaves ``data/`` without one, and the schemaless
        ``spark.read.parquet`` on it would throw UNABLE_TO_INFER_SCHEMA on
        every later read, so such a sink reads as empty."""
        return os.path.isdir(self._data_dir) and any(
            n.startswith(f"{_BUCKET}=") for n in os.listdir(self._data_dir)
        )

    def read(self) -> DataFrame | None:
        if not self.exists():
            return None
        return self.spark.read.parquet(self._data_dir).drop(_BUCKET)

    # -- write -------------------------------------------------------------
    def _order(self) -> list[Column]:
        # incoming (priority 1) beats existing (0) on version ties == the
        # `excluded.updated_at >= existing.updated_at` guard's >=
        return [F.desc(self.version_column), F.desc("__src_priority")]

    def _bucket_expr(self) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.primary_key]),
            F.lit(self.n_buckets),
        ).cast("int")

    def upsert(self, incoming: DataFrame, epoch: int = 0) -> None:
        self._recover()
        self._check_meta()
        pk = list(self.primary_key)
        # persist: the batch is evaluated TWICE (the touched-bucket
        # collect, then the merged staging write). Unpinned, the second
        # evaluation re-runs the whole upstream plan — and if that plan
        # embeds any non-determinism (a re-read of a changing source),
        # it can emit a bucket that was not in `touched`, whose existing
        # directory was never merged: the per-bucket swap would then
        # replace it with only new rows, silently deleting stored PKs.
        batch = last_writer_wins(
            incoming.withColumn("__src_priority", F.lit(1)), pk, self._order()
        ).withColumn(_BUCKET, self._bucket_expr()).persist()
        try:
            self._upsert_inner(batch, epoch)
        finally:
            batch.unpersist()

    def _meta_path(self) -> str:
        return os.path.join(self.root, "_sink_meta.json")

    def _check_meta(self) -> None:
        """Pin (n_buckets, pk, version_column) across reopens: a sink
        reopened with a different n_buckets hashes updated PKs into
        different buckets, the merge never sees the old version, and
        read() returns duplicate PKs forever — silently; a different
        version_column silently changes which row survives a PK collision
        over already-stored data. First write records the layout; every
        later open asserts it."""
        import json

        path = self._meta_path()
        want = {
            "n_buckets": self.n_buckets,
            "primary_key": list(self.primary_key),
            "version_column": self.version_column,
        }
        if not os.path.exists(path):
            os.makedirs(self.root, exist_ok=True)
            with open(path, "w") as f:
                json.dump(want, f)
            return
        with open(path) as f:
            meta = json.load(f)
        if meta != want:
            raise ValueError(
                f"sink at {self.root!r} was written with "
                f"n_buckets={meta.get('n_buckets')}, "
                f"pk={tuple(meta.get('primary_key', ()))}, "
                f"version_column={meta.get('version_column')!r}; reopened "
                f"with n_buckets={self.n_buckets}, "
                f"pk={tuple(self.primary_key)}, "
                f"version_column={self.version_column!r} — a layout or "
                "recency-guard change requires a rewrite, not a reopen"
            )

    def _upsert_inner(self, batch: DataFrame, epoch: int) -> None:
        merged = batch
        if self.exists():
            # touched buckets only: one tiny driver-side distinct (at most
            # n_buckets ints — control-plane, not data)
            touched = sorted(
                r[0] for r in batch.select(_BUCKET).distinct().collect()
            )
            live = [
                p
                for p in (
                    os.path.join(self._data_dir, f"{_BUCKET}={b}") for b in touched
                )
                if os.path.isdir(p)
            ]
            if live:
                existing = (
                    self.spark.read.option("basePath", self._data_dir)
                    .parquet(*live)
                    .withColumn("__src_priority", F.lit(0))
                )
                merged = last_writer_wins(
                    existing.unionByName(batch), list(self.primary_key), self._order()
                )

        staging = os.path.join(self.root, f".staging-{epoch}")
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        merged.drop("__src_priority").write.partitionBy(_BUCKET).mode(
            "overwrite"
        ).parquet(staging)

        # per-bucket swap: only directories for buckets in this batch move;
        # everything else is untouched on disk
        old = os.path.join(self.root, f".old-{epoch}")
        os.makedirs(old, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)
        for sub in sorted(os.listdir(staging)):
            if not sub.startswith(f"{_BUCKET}="):
                continue
            dst = os.path.join(self._data_dir, sub)
            if os.path.isdir(dst):
                os.rename(dst, os.path.join(old, sub))
            os.rename(os.path.join(staging, sub), dst)
        shutil.rmtree(old)
        shutil.rmtree(staging, ignore_errors=True)
