"""End-to-end extraction pipeline (the flagship job — P1 in SURVEY.md
§2.9, Spark lifecycle in §3.1).

    pages ──(drop done buckets)──> size-aware spread (one exchange) ──>
    mapInPandas(extract) ──> extracted rows + per-partition metrics

Scale design (SURVEY.md §4):
- **Size-aware skew spread**: per-document cost is unknown pre-detect
  but correlates with payload bytes. Heavy rows
  (``length(html) > salt_heavy_bytes``) are range-spread to ~one per
  partition in the lowest partition ids, which are scheduled FIRST,
  while light rows use plain hash(url), or only the heavy-free
  partitions when that shortens the critical path — AQE cannot
  rebalance inside a mapInPandas stage, so this is manual (a 100× skew
  row otherwise pins one executor at the end of the stage).
- **One Python task per core**: a Python task costs 0.15-0.3 s of
  worker CPU before it does any work (PySpark re-reads ``pyspark.zip``
  per task; see spark/checkpoint.py), more than a median page's
  extraction. So the job starts Python tasks only for extraction —
  ``defaultParallelism`` of them per group — and keeps resume,
  planning and checkpointing in the JVM: no Python-RDD DataFrame
  (``createDataFrame(list)``) on the job path.
- **Projection discipline**: the extract output never carries `html`,
  so every downstream projection prunes payload bytes at the stage
  boundary.
- **Resume**: work is bucketed by pmod(xxhash64(url), n_buckets); the
  done bucket ids (at most n_buckets ints) are collected once and
  filtered out with ``NOT bucket IN (done)``, and each bucket's output
  is idempotently overwritten.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ragflow_ocr_spark.config import DEFAULT, PipelineConfig
from ragflow_ocr_spark.spark.checkpoint import CheckpointStore
from ragflow_ocr_spark.spark.stages import (
    EXTRACT_METRICS_BUCKET_SCHEMA,
    EXTRACT_SCHEMA,
    extract_stage,
    extract_stage_with_metrics,
)


def spread_for_extract(
    df: DataFrame, n_partitions: int, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """Distribute rows over exactly ``n_partitions`` partitions, in one
    exchange, so heavy payloads can't gang up on one task.

    A heavy page is ONE row — it cannot be split, so "skew handling"
    here means the heavy subset must land ~evenly across partitions by
    COUNT. Hash repartitioning doesn't guarantee that: when the number
    of heavy rows is comparable to the number of partitions (the
    painful regime — each one is ~100× a median row), balls-in-bins
    puts 2-3 in one partition and zero in others. So each heavy row
    gets the index of its equal-count range over the heavy
    ``xxhash64(url)`` keys: the n-1 bounds are the keys at ranks
    ceil(i·H/n), and a heavy row's partition is the number of distinct
    bounds below its key — ceil(H/n) heavy rows per partition at most
    (up to the rank error below), one each when H < n, in the LOWEST
    partition ids, which the scheduler issues first.
    ``repartitionById`` then places every row
    in its partition with one shuffle. Placement never affects output
    bytes — rows are independent (verified by the
    repartition-invariance test).

    Light rows go to ``pmod(hash(url), n)``, except when the m = H < n
    heavy rows leave partitions free and light rows are few: then they
    go to the n-m free partitions only. Payload bytes stand in for cost
    (as in the heavy predicate): with b the largest heavy payload and L
    the light bytes, the critical path is about b + L/n if light rows
    share the heavy partitions and max(b, L/(n-m)) if they avoid them;
    the smaller one is taken.

    The bounds come from one JVM aggregate over ``df``
    (``percentile_approx``, rank error ≤ H/10000, exact for small H):
    the driver receives n-1 keys and three counters, whatever H is.

    Cost note: exactly ``n_partitions`` Python tasks run the extract
    stage; with ``n_partitions = defaultParallelism`` that is one per
    core. Each Python task pays 0.15-0.3 s of worker CPU before it
    does any work (see spark/checkpoint.py), so the spread must not
    multiply tasks (the earlier heavy-range ∪ light-hash shape ran
    2n) and nothing else on the job path may be a Python-RDD
    DataFrame.
    """
    n = n_partitions
    size = F.coalesce(F.length(F.col("html")), F.lit(0))
    heavy = size > cfg.salt_heavy_bytes
    key = F.xxhash64(F.col("url"))
    ranks = [i / n for i in range(1, n)]
    stats = df.agg(
        F.count(F.when(heavy, 1)).alias("h"),
        F.max(F.when(heavy, size)).alias("heavy_max"),
        F.sum(F.when(~heavy, size)).alias("light_bytes"),
        (
            F.array_distinct(F.percentile_approx(F.when(heavy, key), ranks))
            if ranks
            else F.array().cast("array<bigint>")
        ).alias("bounds"),
    ).first()
    m = min(n, stats["h"])
    light = F.pmod(F.hash(F.col("url")), F.lit(n))
    if 0 < m < n:
        b, lb = stats["heavy_max"], stats["light_bytes"] or 0
        if max(b, lb / (n - m)) < b + lb / n:
            light = F.lit(m) + F.pmod(F.hash(F.col("url")), F.lit(n - m))
    pid = light
    if m:
        bounds = F.array(*[F.lit(k).cast("long") for k in stats["bounds"] or []])
        pid = F.when(heavy, F.size(F.filter(bounds, lambda k: k < key))).otherwise(light)
    return df.repartitionById(n, pid)


def extract(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT,
    n_partitions: int | None = None,
) -> DataFrame:
    """pages DataFrame → extracted DataFrame (EXTRACT_SCHEMA)."""
    if n_partitions:
        df = spread_for_extract(df, n_partitions, cfg)
    return df.select("url", "warc_ts", "lang", "html").mapInPandas(
        extract_stage(cfg), schema=EXTRACT_SCHEMA
    )


def detect_blocks(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Staged API (SURVEY.md §3.2): pages → pages + nested blocks."""
    from ragflow_ocr_spark.spark.stages import DETECT_SCHEMA, detect_stage

    return df.select("url", "warc_ts", "lang", "html").mapInPandas(
        detect_stage(cfg), schema=DETECT_SCHEMA
    )


def recognize_blocks(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Staged API: detected pages → exploded recognized lines."""
    from ragflow_ocr_spark.spark.stages import RECOGNIZE_SCHEMA, recognize_stage

    return df.mapInPandas(recognize_stage(cfg), schema=RECOGNIZE_SCHEMA)


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    n_buckets: int = 32,
    cfg: PipelineConfig = DEFAULT,
    fail_buckets: set[int] | None = None,
    bucket_group_size: int = 1,
    spread: bool = True,
) -> dict:
    """Resumable extraction job with bucket-granular checkpointing.

    Buckets are processed in GROUPS of ``bucket_group_size`` — one
    Spark job per group. Each job filters on ``bucket IN (group)``, so
    the number of group jobs is n_buckets/group_size, not n_buckets
    (at 100 TB the input is an Iceberg table partitioned by
    ``bucket(url, n_buckets)``, so each scan additionally prunes to
    the group's files — see spark/checkpoint.py).

    Planning is one scan of the pending pages for their distinct
    bucket ids. With ``spread=True`` each group is spread over
    ``defaultParallelism`` partitions in one exchange
    (``spread_for_extract``), whose range bounds cost one JVM aggregate
    over the group (n-1 keys back to the driver); at Iceberg scale its
    heavy predicate would read a stored ``content_length`` column, not
    the payload. The group size is the classic durability/throughput
    knob: lost work on failure ≤ one group, scan overhead ∝
    1/group_size. Within a group,
    output lands via dynamic partition overwrite under
    ``extracted/bucket=<b>`` — rewriting a group is idempotent
    (MERGE-on-key semantics).

    Only the extract stage runs Python tasks, one per partition; the
    resume filter, planning, metrics read-back and checkpoint append
    are JVM-only (see spark/checkpoint.py for why that matters).

    ``fail_buckets`` injects a simulated failure after any group
    containing one of the listed buckets commits — the resume tests'
    kill-after-k. Returns run summary counters.
    """
    ckpt = CheckpointStore(spark, out_root)
    run_id = uuid.uuid4().hex[:12]
    bucket_of_url = F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")

    work = pages.withColumn("bucket", bucket_of_url)
    # at most n_buckets ints; raises on a numbering mismatch
    done = [r["bucket"] for r in ckpt.done_buckets(n_buckets).collect()]
    pending = work.where(~F.col("bucket").isin(done))

    pending_buckets = sorted(
        r["bucket"] for r in pending.select("bucket").distinct().collect()
    )
    gs = max(1, bucket_group_size)
    groups = [pending_buckets[i : i + gs] for i in range(0, len(pending_buckets), gs)]

    # only the touched bucket= partitions are replaced on (re)write;
    # session conf restored on exit — leaving dynamic mode on would
    # change unrelated writers' overwrite semantics
    prev_overwrite_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    n_processed = 0
    try:
        _run_groups(
            spark, ckpt, groups, pending, run_id, n_buckets,
            cfg, fail_buckets, spread, out_root,
        )
        n_processed = sum(len(g) for g in groups)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_overwrite_mode
        )

    return {
        "run_id": run_id,
        "buckets_processed": n_processed,
        # buckets with a prior 'done' checkpoint row — NOT n_buckets −
        # pending (that would count never-populated buckets as skipped)
        "buckets_skipped": len(done),
    }


def _run_groups(
    spark, ckpt, groups, pending, run_id, n_buckets,
    cfg, fail_buckets, spread, out_root,
) -> None:
    import json

    for group in groups:
        gdf = pending.where(F.col("bucket").isin([int(b) for b in group]))
        if spread:
            gdf = spread_for_extract(
                gdf, spark.sparkContext.defaultParallelism, cfg
            )
        out = gdf.select("url", "warc_ts", "lang", "html", "bucket").mapInPandas(
            extract_stage_with_metrics(cfg, run_id, with_buckets=True),
            schema=EXTRACT_METRICS_BUCKET_SCHEMA,
        )
        # ONE action on the expensive Python-stage lineage: data rows
        # AND the per-partition metrics rows (bucket=-1 sentinel) land
        # in the same partitioned write. The per-bucket counters are
        # computed inside the stage, so there is no cache and no
        # second pass over executor-memory-sized text (the old shape
        # cached the full extract output to serve a groupBy).
        (
            out.drop("part_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{out_root}/extracted")
        )
        # metrics read-back is a disk read of one tiny partition (the
        # next group's dynamic overwrite replaces it; read_extracted
        # filters bucket >= 0)
        metric_rows = (
            spark.read.parquet(f"{out_root}/extracted")
            .where(F.col("bucket") == -1)
            .select("extracted_text")
            .collect()
        )
        stats = [json.loads(r["extracted_text"]) for r in metric_rows]
        stats = [s for s in stats if s.get("run_id") == run_id]
        # group-granular wall: metrics are per task partition and a
        # partition mixes buckets under spread/grouping, so the
        # finest honest attribution is the GROUP's critical-path
        # wall, recorded on every bucket row of the group
        wall_ms = max((s["wall_ms"] for s in stats), default=0)
        agg: dict[int, list[int]] = {}
        for s in stats:
            for b, c in s.get("buckets", {}).items():
                acc = agg.setdefault(int(b), [0, 0, 0, 0])
                for i in range(4):
                    acc[i] += int(c[i])
        ckpt.mark_done(
            [
                {
                    "run_id": run_id,
                    "bucket": b,
                    "n_docs": c[0],
                    "n_ok": c[1],
                    "n_empty": c[2],
                    "n_error": c[3],
                    "wall_ms": wall_ms,
                }
                for b, c in sorted(agg.items())
            ],
            n_buckets,
        )
        if fail_buckets and set(group) & set(fail_buckets):
            raise RuntimeError(
                f"injected failure after group containing {sorted(set(group) & set(fail_buckets))}"
            )


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    # bucket=-1 is the metrics sentinel partition (last group's lineage
    # rows) — partition-pruned out here, never data
    return spark.read.parquet(f"{out_root}/extracted").where(F.col("bucket") >= 0)
