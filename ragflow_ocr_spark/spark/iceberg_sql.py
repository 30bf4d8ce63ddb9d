"""Production Iceberg DDL / MERGE emitter.

BASELINE.json and SURVEY §1.2 name Iceberg as the production source +
checkpoint store; this sandbox can't ship the Iceberg runtime jar, so
``spark/checkpoint.py`` implements the same idempotent semantics over
parquet dynamic-partition overwrite. This module keeps the 100 TB path
concrete: it emits the exact SQL the production deployment runs, and
the golden test (tests/test_iceberg_sql.py) pins it so the mapping
can't drift from the parquet stand-in.

Mapping (checkpoint.py:1-14 ⇔ here):
- ``bucket = pmod(xxhash64(url), N)``        ⇔ Iceberg partition
  transform ``bucket(N, url)`` on the pages table (co-locates a
  resume bucket's pages in one partition — the anti-join prunes
  whole files);
- parquet append of one status row per bucket  ⇔ ``MERGE INTO
  checkpoint ON (run keys)`` — idempotent under task retry;
- ``out/bucket=<b>/`` dynamic partition overwrite ⇔ ``INSERT
  OVERWRITE ... PARTITION`` by the same bucket id (rewriting a bucket
  is a no-op on other buckets).

Run ``python -m ragflow_ocr_spark.spark.iceberg_sql`` to print the
statements for a given catalog/namespace.
"""

from __future__ import annotations

PAGES_COLUMNS = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_table_ddl(
    table: str = "crawl.pages", n_buckets: int = 4096
) -> str:
    """Source table: Common-Crawl-style pages, bucketed by url so each
    resume bucket maps to a bounded partition set."""
    cols = ",\n  ".join(c.strip() for c in PAGES_COLUMNS.split(","))
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        f"  {cols}\n"
        f") USING iceberg\n"
        f"PARTITIONED BY (bucket({n_buckets}, url))\n"
        f"TBLPROPERTIES (\n"
        f"  'write.target-file-size-bytes' = '536870912',\n"
        f"  'write.distribution-mode' = 'hash'\n"
        f")"
    )


def checkpoint_table_ddl(table: str = "crawl.extract_checkpoint") -> str:
    """Checkpoint table — one row per completed bucket per numbering
    (mirrors CHECKPOINT_SCHEMA in spark/checkpoint.py)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        f"  run_id string,\n"
        f"  bucket int,\n"
        f"  n_buckets int,\n"
        f"  status string,\n"
        f"  n_docs bigint,\n"
        f"  n_ok bigint,\n"
        f"  n_empty bigint,\n"
        f"  n_error bigint,\n"
        f"  wall_ms bigint\n"
        f") USING iceberg"
    )


def checkpoint_merge_sql(
    table: str = "crawl.extract_checkpoint",
    updates_view: str = "bucket_updates",
) -> str:
    """Idempotent completion upsert: re-running a bucket (task retry,
    job restart) updates its row instead of appending a duplicate —
    the MERGE the parquet append stands in for."""
    return (
        f"MERGE INTO {table} t\n"
        f"USING {updates_view} s\n"
        f"ON t.bucket = s.bucket AND t.n_buckets = s.n_buckets\n"
        f"WHEN MATCHED THEN UPDATE SET\n"
        f"  t.run_id = s.run_id, t.status = s.status, t.n_docs = s.n_docs,\n"
        f"  t.n_ok = s.n_ok, t.n_empty = s.n_empty, t.n_error = s.n_error,\n"
        f"  t.wall_ms = s.wall_ms\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def output_table_ddl(
    table: str = "crawl.extracted", n_buckets: int = 4096
) -> str:
    """Extraction output, partitioned by the SAME bucket expression so
    per-bucket overwrite is a partition-level operation."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        f"  url string,\n"
        f"  warc_ts timestamp,\n"
        f"  lang string,\n"
        f"  extracted_text string,\n"
        f"  n_blocks int,\n"
        f"  status string,\n"
        f"  engine string,\n"
        f"  bucket int\n"
        f") USING iceberg\n"
        f"PARTITIONED BY (bucket)"
    )


def output_overwrite_sql(
    table: str = "crawl.extracted", results_view: str = "bucket_results"
) -> str:
    """Per-bucket idempotent rewrite (Iceberg dynamic overwrite — only
    the partitions present in the source are replaced)."""
    return (
        f"INSERT OVERWRITE {table}\n"
        f"SELECT url, warc_ts, lang, extracted_text, n_blocks, status, "
        f"engine, bucket\n"
        f"FROM {results_view}"
    )


def resume_pending_sql(
    pages: str = "crawl.pages",
    checkpoint: str = "crawl.extract_checkpoint",
    n_buckets: int = 4096,
) -> str:
    """The resume anti-join (J3) in SQL form: pending pages are those
    whose bucket has no done row under the same numbering. The bucket
    expression matches the table's partition transform, so Iceberg
    prunes completed buckets' files at scan time. The parquet stand-in
    (``run_extract_job``) collects the done ids and filters
    ``NOT bucket IN (done)`` instead of joining: the same set, since
    the done side is at most ``n_buckets`` distinct ints."""
    return (
        f"SELECT p.* FROM {pages} p\n"
        f"LEFT ANTI JOIN (\n"
        f"  SELECT DISTINCT bucket FROM {checkpoint}\n"
        f"  WHERE status = 'done' AND n_buckets = {n_buckets}\n"
        f") d\n"
        f"ON pmod(xxhash64(p.url), {n_buckets}) = d.bucket"
    )


def all_statements(n_buckets: int = 4096) -> dict[str, str]:
    return {
        "pages_ddl": pages_table_ddl(n_buckets=n_buckets),
        "checkpoint_ddl": checkpoint_table_ddl(),
        "output_ddl": output_table_ddl(n_buckets=n_buckets),
        "checkpoint_merge": checkpoint_merge_sql(),
        "output_overwrite": output_overwrite_sql(),
        "resume_pending": resume_pending_sql(n_buckets=n_buckets),
    }


if __name__ == "__main__":
    for name, sql in all_statements().items():
        print(f"-- {name}\n{sql};\n")
