"""Ingest path: JSON envelope → validate/quarantine → idempotent append.

Re-expresses the reference's consumer (consumer/meter_consumer.py) on
Spark primitives:

- S4 JSON deserialize + validate (:198-224, REQUIRED_FIELDS :55-58):
  schema-driven ``from_json``/``spark.read.json`` with a corrupt-record
  column instead of per-row try/except; invalid rows are *kept* in a
  quarantine DataFrame with a reject reason (the reference only counts
  them, :282-283 — keeping them is strictly more observable).
- status default 'V' (:58, :125) and ``arrived_at`` stamping (:116).
- S5/T1 idempotent batched sink (:104-114 ``ON CONFLICT DO NOTHING``):
  dedup within the batch on the PK (reading_timestamp, meter_id), then
  anti-join against the target's *overlapping date partitions only* —
  partition pruning keeps the existing-keys scan proportional to the
  batch's time range, not the table size, which is what makes this
  viable on a 100 TB fact table. (On a Delta/Iceberg deployment this
  whole function is a single ``MERGE WHEN NOT MATCHED INSERT``; plain
  parquet is used here because the test container has no Delta.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md §6 wire envelope (producer/meter_simulator.py:244-250).
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("meter_id", T.IntegerType()),
        T.StructField("reading_timestamp", T.StringType()),
        T.StructField("reading_consumption_milliwatts", T.IntegerType()),
        T.StructField("reading_production_milliwatts", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)

VALID_STATUS = ("V", "E", "R")


def parse_messages(raw: DataFrame) -> DataFrame:
    """Parse a DataFrame with a ``value`` string column (Kafka-shaped)
    into typed columns + ``_corrupt`` for unparseable payloads."""
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            MESSAGE_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
        ).alias("m")
    ).select("m.*")
    return parsed


def read_json_messages(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited JSON message files (the file-based stand-in
    for the Kafka topic in tests)."""
    return (
        spark.read.schema(MESSAGE_SCHEMA)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def classify(parsed: DataFrame) -> DataFrame:
    """Attach ``reject_reason`` (NULL ⇔ valid) and normalized columns.

    Rules, first violation wins (mirrors consumer:198-224 + the schema
    CHECKs 01_create_schema.sql:84-93):
    malformed JSON → required fields → timestamp parse → status enum →
    non-negative readings → at-least-one-reading.
    """
    # try_to_timestamp, not to_timestamp: Spark 4 runs ANSI mode by
    # default, where to_timestamp('garbage') throws CAST_INVALID_INPUT
    # and kills the whole batch. Validation must be TOTAL — a malformed
    # timestamp is a per-row quarantine (consumer:198-224), never a
    # batch failure.
    ts = F.try_to_timestamp("reading_timestamp")
    # Interop domain guard: a timestamp Spark parses but pandas cannot
    # represent (datetime64[ns] spans 1677-09-21..2262-04-11) would
    # crash every Arrow->pandas hop downstream (applyInPandas*,
    # collect to Python datetime) — the same class of per-row input
    # the reference's catch-all quarantines (consumer:217-224). Bound
    # the VALID domain one day inside the pandas range; outside it is
    # bad_timestamp, not a poison row in the fact table.
    ts_in_domain = ts.between("1677-09-22 00:00:00", "2262-04-10 23:59:59")
    status = F.coalesce(F.col("status"), F.lit("V"))  # consumer:58, :125
    return (
        parsed.withColumn("_ts", ts)
        .withColumn("_status", status)
        .withColumn(
            "reject_reason",
            F.when(F.col("_corrupt").isNotNull(), "malformed_json")
            .when(
                F.col("meter_id").isNull() | F.col("reading_timestamp").isNull(),
                "missing_required",
            )
            .when(F.col("_ts").isNull() | ~ts_in_domain, "bad_timestamp")
            .when(~F.col("_status").isin(*VALID_STATUS), "bad_status")
            .when(
                (F.col("reading_consumption_milliwatts") < 0)
                | (F.col("reading_production_milliwatts") < 0),
                "negative_reading",
            )
            .when(
                F.col("reading_consumption_milliwatts").isNull()
                & F.col("reading_production_milliwatts").isNull(),
                "no_reading",
            ),
        )
    )


def split_valid(classified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid rows in fact-table shape with
    arrived_at stamped; quarantine keeps the raw fields + reason."""
    valid = (
        classified.filter(F.col("reject_reason").isNull())
        .select(
            F.col("_ts").alias("reading_timestamp"),
            "meter_id",
            "reading_consumption_milliwatts",
            "reading_production_milliwatts",
            F.col("_status").alias("status"),
            F.current_timestamp().alias("arrived_at"),
        )
        .withColumn("reading_date", F.to_date("reading_timestamp"))
    )
    quarantine = classified.filter(F.col("reject_reason").isNotNull()).select(
        "reject_reason",
        "meter_id",
        "reading_timestamp",
        "reading_consumption_milliwatts",
        "reading_production_milliwatts",
        "status",
        "_corrupt",
    )
    return valid, quarantine


def idempotent_append(spark: SparkSession, batch: DataFrame, target: str) -> int:
    """Duplicate-safe append: the Spark expression of
    ``INSERT ... ON CONFLICT (reading_timestamp, meter_id) DO NOTHING``.

    1. in-batch dedup on the PK,
    2. anti-join against existing keys *from the batch's date
       partitions only* (the target is partitioned by ``reading_date``,
       mirroring the reference's 1-day hypertable chunks,
       01_create_schema.sql:98-101 — the key scan reads just the
       batch's date dirs, never a listing of the whole table),
    3. append, rebalanced on ``reading_date``: one file per date
       partition per batch (AQE still splits a date larger than
       ``advisoryPartitionSizeInBytes``).

    Two Spark actions per batch (7–8 jobs under AQE for a 20k-row tick,
    down from 12–13): the distinct-dates collect, which also materializes
    the persisted batch before the lock, and the write, inside which the
    anti-join runs exactly once. Nothing is counted by a Spark job: the
    rows written are the footer ``num_rows`` of the files the write
    added under the batch's date dirs. An empty batch returns 0 without
    taking the lock.

    Returns the number of rows written.

    Concurrency: the existing-keys scan and the append run inside an
    exclusive :func:`~..sources.txn.table_lock`, serializing writers the
    way the reference's PRIMARY KEY serializes conflicting INSERTs — two
    concurrent callers with overlapping batches land exactly one copy
    (the second's anti-join sees the first's committed rows). The lock
    is also what makes the files added to the date dirs during the
    write exactly this batch's files. Production note: on Delta/Iceberg
    this whole function is ``MERGE ... WHEN NOT MATCHED THEN INSERT``
    with the same partition-pruning predicate, and the table format's
    log replaces the filesystem lock. For object stores, where no
    filesystem mutex exists, use
    :func:`~..sources.manifest.idempotent_append_manifest` — the same
    guarantee through an optimistic commit log instead of a lock.
    """
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    pk = ["reading_timestamp", "meter_id"]
    # Persist: the batch is consumed twice (dates collect, write) —
    # without this the write would re-read the source (and inflate
    # streaming numInputRows metrics). The collect materializes it
    # BEFORE the lock, keeping source-read time out of the critical
    # section.
    in_batch = batch.dropDuplicates(pk).persist()
    try:
        # reading_date is never NULL: it is derived from the validated
        # (non-NULL) reading_timestamp.
        part_dirs = [
            os.path.join(target, f"reading_date={r['reading_date']}")
            for r in in_batch.select("reading_date").distinct().collect()
        ]
        if not part_dirs:
            return 0
        with table_lock(target):
            before = data_files(part_dirs)
            fresh = in_batch
            if before:
                # The batch's own PK schema: no schema-inference job.
                existing = (
                    spark.read.schema(in_batch.select(*pk).schema)
                    .option("basePath", target)
                    .parquet(*sorted({os.path.dirname(f) for f in before}))
                    .select(*pk)
                )
                fresh = in_batch.join(existing, pk, "left_anti")
            (
                fresh.hint("rebalance", "reading_date")
                .write.mode("append")
                .partitionBy("reading_date")
                .parquet(target)
            )
            added = data_files(part_dirs) - before
        return footer_rows(added)
    finally:
        in_batch.unpersist()


def data_files(dirs: list[str]) -> set[str]:
    """The data files directly under ``dirs`` (a missing dir has none).
    Names starting with ``_`` or ``.`` (``_SUCCESS``, checksums, the
    lock file, ``_temporary/``) are skipped, as Spark's file listing
    skips them."""
    return {
        e.path
        for d in dirs
        if os.path.isdir(d)
        for e in os.scandir(d)
        if e.is_file() and not e.name.startswith(("_", "."))
    }


def footer_rows(files) -> int:
    """Σ parquet-footer ``num_rows`` over ``files`` — a row count of a
    known file set without a Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def ingest_batch(
    spark: SparkSession, messages: DataFrame, target: str
) -> dict[str, int]:
    """Full batch ingest: classify → split → idempotent append.
    Returns counters (mirrors the consumer's consumed/processed/failed
    stats, consumer/meter_consumer.py:324-329)."""
    classified = classify(messages)
    valid, quarantine = split_valid(classified)
    written = idempotent_append(spark, valid, target)
    n_invalid = quarantine.count()
    return {
        "consumed": classified.count(),
        "written": written,
        "quarantined": n_invalid,
    }
