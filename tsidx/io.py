"""Storage-format seam: every index table read/write goes through here.

The north rule targets Iceberg transcript/index tables; this sandbox has no
Iceberg runtime jar, so the default physical format is parquet. On a real
cluster a user flips ONE knob —

    spark.conf.set("spark.tsidx.format", "iceberg")

(or passes ``fmt="iceberg"`` explicitly) and every table the engine reads
or writes (docs / postings / terms / manifest, batch, resumable and
streaming layouts) targets Iceberg through the DataSourceV2
``format(...).load/save`` path instead. No call site hardcodes
``.parquet(...)``.

Layout invariants are format-independent: postings stay range-partitioned +
sorted by (term, block_id) so `term IN (...)` predicates prune row groups /
data files via min-max statistics in either format; shard-partitioned
layouts keep their ``shard=K`` directory column (Iceberg: identity
partition on ``shard``).

The JSON side files (``meta.json``, ``config.json``, ``stream_state.json``,
manifest markers) go through :func:`commit_json`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["table_format", "read_table", "write_table", "commit_json", "DEFAULT_FORMAT"]

DEFAULT_FORMAT = "parquet"

_CONF_KEY = "spark.tsidx.format"


def table_format(spark: SparkSession) -> str:
    """The session's table format (``spark.tsidx.format``, default parquet)."""
    try:
        return spark.conf.get(_CONF_KEY, DEFAULT_FORMAT) or DEFAULT_FORMAT
    except Exception:
        return DEFAULT_FORMAT


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Load one index table. *base_path* preserves partition-directory
    columns (``shard=K``) exactly like the parquet basePath option."""
    fmt = fmt or table_format(spark)
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write one index table (``format(...).mode(...).save(path)``)."""
    fmt = fmt or table_format(df.sparkSession)
    df.write.format(fmt).mode(mode).save(path)


def commit_json(path: str, record: dict) -> None:
    """Write *record* as JSON at *path* atomically: dump to ``path.tmp``,
    then ``os.replace`` — a reader sees the old file or the new one, never
    a torn write. A manifest marker's replace is its shard's commit point."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=2, sort_keys=True)
    os.replace(tmp, path)
