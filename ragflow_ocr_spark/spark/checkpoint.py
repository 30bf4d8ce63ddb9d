"""Checkpoint/resume plumbing — parquet-backed stand-in for the Iceberg
checkpoint table of the north rule.

Production target is an Iceberg table written via ``MERGE INTO`` (the
Iceberg runtime jar isn't shippable into this offline sandbox, so the
same idempotent semantics are implemented over parquet):

- work is keyed by a deterministic ``bucket = pmod(xxhash64(url), n)``;
- a completed bucket writes one status row per bucket + its output
  files under ``out/bucket=<b>/`` (dynamic partition overwrite —
  rewriting a bucket is idempotent, exactly like MERGE on the key);
- resume = the pages whose bucket has no ``done`` row (J3 in SURVEY.md
  §2.3). The done set is at most ``n_buckets`` ints, so the job
  collects it once and filters ``NOT bucket IN (done)`` — the same set
  semantics as the LEFT ANTI JOIN that ``iceberg_sql.resume_pending_sql``
  emits (its SQL and goldens are unchanged), without a join.

Neither method here builds a DataFrame from a Python list: a
``createDataFrame(list)`` is backed by a Python RDD, so every scan of
it starts Python worker tasks, and each Python task costs 0.15-0.3 s
of worker CPU before doing any work (PySpark's per-task
``importlib.invalidate_caches()`` re-reads the central directory of
``pyspark.zip`` once per cached ``zipimporter``). Both DataFrames are
built in the JVM instead.

The exact production DDL / MERGE INTO / resume SQL this stands in for
is emitted by ``spark/iceberg_sql.py`` (golden-pinned in
``tests/test_iceberg_sql.py`` so the two can't drift).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

CHECKPOINT_SCHEMA = (
    "run_id string, bucket int, n_buckets int, status string, n_docs long, "
    "n_ok long, n_empty long, n_error long, wall_ms long"
)
_FIELDS = [tuple(f.split()) for f in CHECKPOINT_SCHEMA.split(", ")]
_COUNTERS = ("n_docs", "n_ok", "n_empty", "n_error", "wall_ms")


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.table_dir = os.path.join(root, "checkpoint")

    def _table(self) -> DataFrame | None:
        if not os.path.isdir(self.table_dir) or not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.table_dir)
            for f in fs
        ):
            return None
        return self.spark.read.parquet(self.table_dir)

    def done_buckets(self, n_buckets: int) -> DataFrame:
        """Buckets already completed (any run) under the SAME bucket
        numbering. Bucket ids are only meaningful relative to
        ``n_buckets``: resuming a root written with a different count
        would anti-join the WRONG url sets out (silently losing rows)
        and mix incompatibly-numbered ``extracted/bucket=`` partitions
        — so a mismatch is refused outright."""
        t = self._table()
        if t is None:
            return self.spark.range(0).select(F.col("id").cast("int").alias("bucket"))
        if "n_buckets" not in t.columns:
            raise ValueError(
                f"checkpoint at {self.table_dir} predates the n_buckets "
                "schema (written by an older build); resume must use a "
                "fresh output root"
            )
        seen = [r["n_buckets"] for r in t.select("n_buckets").distinct().collect()]
        wrong = [n for n in seen if n != n_buckets]
        if wrong:
            raise ValueError(
                f"checkpoint at {self.table_dir} was written with "
                f"n_buckets={sorted(set(wrong))}; resume must use the same "
                f"value (got {n_buckets}) or a fresh output root"
            )
        return (
            t.where(F.col("status") == "done")
            .select("bucket")
            .distinct()
        )

    def mark_done(self, rows: list[dict], n_buckets: int) -> None:
        """Append completion rows (one per bucket). Parquet append of a
        handful of rows ⇔ the MERGE INTO of the production path. The
        rows are literals of a one-row JVM relation (``inline`` of an
        array of structs), so the append starts no Python task."""
        if not rows:
            return

        def values(r: dict) -> tuple:
            return (r["run_id"], int(r["bucket"]), int(n_buckets), "done",
                    *(int(r.get(k, 0)) for k in _COUNTERS))

        structs = [
            F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(values(r), _FIELDS)])
            for r in rows
        ]
        df = self.spark.range(1).select(F.inline(F.array(*structs)))
        df.coalesce(1).write.mode("append").parquet(self.table_dir)
