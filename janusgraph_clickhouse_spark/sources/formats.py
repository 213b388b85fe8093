"""JSON-lines corpus I/O beside the parquet tables.

The LLM-corpus interchange format is one JSON document per line.  The
reader takes an EXPLICIT schema — schema inference is a full extra pass
over the data at 100 TB and produces unstable types; never rely on it
in production paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_json(df: DataFrame, path: str,
               compression: str | None = None) -> None:
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl_corpus(spark: SparkSession, path: str,
                      schema: T.StructType, mode: str = "PERMISSIVE",
                      corrupt_col: str = "_corrupt_record") -> DataFrame:
    """JSONL corpus reader with an EXPLICIT malformed-line policy —
    the LLM-corpus interchange format (one JSON document per line).
    Crawl dumps always contain torn/truncated/invalid lines, and the
    three ways to handle them are three different pipelines:

    - PERMISSIVE (default here): bad lines become rows whose typed
      columns are NULL and whose raw text lands in `corrupt_col` — the
      quarantine you can COUNT and AUDIT instead of silently losing;
    - DROPMALFORMED: bad lines vanish (biases the corpus — only for
      flows that audited first);
    - FAILFAST: the batch refuses (ingest gates).

    The corrupt column must be part of the declared schema for Spark
    to populate it, so PERMISSIVE appends it; explicit schema always
    (no inference pass over a 100 TB dump).  `mode` is normalized —
    Spark treats the option case-insensitively, and a lowercase
    'permissive' that skipped the column injection would silently
    disable the exact quarantine this function exists to provide."""
    mode = mode.upper()
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown malformed-line mode {mode!r}")
    s = schema
    if mode == "PERMISSIVE" and corrupt_col:
        if corrupt_col in schema.fieldNames():
            raise ValueError(
                f"corrupt_col {corrupt_col!r} collides with a schema "
                f"field; rename one")
        s = T.StructType(list(schema.fields)
                         + [T.StructField(corrupt_col, T.StringType())])
    return (spark.read.schema(s)
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path))


def write_jsonl_corpus(df: DataFrame, path: str,
                       compression: str | None = None) -> None:
    """JSONL corpus writer (one JSON document per line, optional
    gzip/zstd per-file compression — the interchange format every
    LLM-data tool reads).  Serialize timestamps to integer epoch
    columns BEFORE writing when the round trip must be exact: JSON
    has no timestamp type and string round-trips are locale/format
    bait (the q57 discipline).  Delegates to write_json — one JSON
    writer, no second copy to drift."""
    write_json(df, path, compression=compression)
