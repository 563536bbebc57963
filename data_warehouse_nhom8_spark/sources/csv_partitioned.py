"""Hive-partitioned CSV source/sink (operators S2/S3 in SURVEY.md §2a).

The reference writes scraped CSVs into a
``raw/source={source_id}/date={YYYY-MM-DD}/`` tree (reference
extract/topcv_scraper_v5.py:196-209) and reads them back by glob
(reference staging/staging_loader.py:55-79). In Spark the same layout
is a first-class partitioned datasource: ``partitionBy`` on write,
partition discovery + pruning on read — a filter on ``source`` or
``date`` prunes directories before any file is opened, which is the
scan behaviour that survives a 100 TB raw zone.
"""

from __future__ import annotations

import typing as _typing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_partitioned_csv(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("source", "date"),
    mode: str = "append",
) -> None:
    """Partitioned CSV sink with header, UTF-8 (S2). Values are written
    as they are: Spark's CSV writer trims leading/trailing whitespace
    by default, which would turn a kept value such as a tab into an
    empty field that reads back as NULL."""
    (
        df.write.mode(mode)
        .partitionBy(*partition_cols)
        .option("header", "true")
        .option("encoding", "UTF-8")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def read_partitioned_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    source: str | None = None,
    date: str | None = None,
) -> DataFrame:
    """Partition-pruned CSV scan (S3).

    ``source``/``date`` filters compile to partition pruning (the
    Spark twin of the reference's directory glob) — check
    ``.explain()`` for ``PartitionFilters``.
    """
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("encoding", "UTF-8")
        .csv(path)
    )
    if source is not None:
        df = df.filter(df["source"] == source)
    if date is not None:
        df = df.filter(df["date"] == date)
    return df


class QuarantineRead(_typing.NamedTuple):
    """Result of `read_csv_with_quarantine`: typed valid rows, raw
    quarantine lines, and the cached PARSED parent frame both derive
    from — call `parsed.unpersist()` when done (unpersisting the
    derived frames would not release the parent's cache entry)."""

    valid: DataFrame
    quarantine: DataFrame
    parsed: DataFrame


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    file_col: str | None = None,
) -> QuarantineRead:
    """Scraped-CSV ingest with a malformed-row quarantine — the
    robust face of S3 for raw-zone data the engine doesn't control
    (the reference's own docs ship a "Check CSV Structure" test for
    exactly this; a 100 TB raw zone always contains rows a schema
    rejects).

    PERMISSIVE parse with a corrupt-record capture column: rows that
    fail the schema land in the quarantine frame with their ORIGINAL
    text intact (for replay after a parser fix), valid rows come back
    typed. Neither frame silently drops data — valid ∪ quarantine
    covers every input row.

    Spark caveat handled here: filtering on the corrupt-record column
    of a lazily-parsed CSV raises AnalysisException unless the parsed
    frame is cached first (the parser prunes the raw-text column away
    otherwise) — so the split persists the parsed frame and RETURNS it
    (`result.parsed.unpersist()` releases the cache; unpersisting the
    derived frames alone would not). At scale, run quarantine splits
    inside the bounded daily ingest increment, never over the whole
    raw zone.
    """
    from pyspark.sql import functions as F

    corrupt = "_corrupt_record"
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt, T.StringType(), True)]
    )
    parsed = (
        spark.read.schema(full)
        .option("header", "true")
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .csv(path)
    )
    if file_col is not None:
        # captured BEFORE the cache: input_file_name() is empty when
        # evaluated over cached InMemoryRelation rows
        parsed = parsed.withColumn(file_col, F.input_file_name())
    parsed = parsed.cache()
    valid = parsed.filter(F.col(corrupt).isNull()).drop(corrupt)
    quarantine = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return QuarantineRead(valid, quarantine, parsed)
