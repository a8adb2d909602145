"""Sources.

Reference behavior being re-expressed (not copied):
  * JSON-lines source with full schema inference
    (``/root/reference/src/reader.py:10-28``).
  * CSV source with ``header=true, inferSchema=true, sep=',', quote='"',
    escape='"', multiLine=false, encoding=UTF-8``
    (``/root/reference/src/reader.py:29-40``).
  * Driver-side glob expansion joined into a comma string and injected into
    the first source only (``/root/reference/main.py:26-39,116-117``) — a
    quirk we fix: Spark readers natively take globs and *lists* of paths,
    so ``path`` may be a str (glob ok) or list[str].

Improvements for scale:
  * ``schema`` may be declared in metadata (DDL string) which removes the
    extra inference scan the reference pays on every CSV read
    (SURVEY.md §4.2 inefficiency 2).
  * parquet is first-class (columnar, splittable, predicate-pushdown-able —
    the 100 TB format).
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

# format -> (Spark data source, default options, honours a declared schema)
_FORMATS: dict[str, tuple[str, dict[str, str], bool]] = {
    "json": ("json", {}, True),
    "csv": (
        "csv",
        {
            "header": "true",
            "sep": ",",
            "quote": '"',
            "escape": '"',
            "multiLine": "false",
            "encoding": "UTF-8",
        },
        True,
    ),
    "parquet": ("parquet", {}, True),
    "orc": ("orc", {}, True),
    # one row per line (column ``value``); wholetext=true via options reads
    # one row per file — raw-corpus ingestion for the text ops
    "text": ("text", {}, False),
    # native XML source (Spark >= 4.0): one row per ``rowTag`` element;
    # nested elements land as structs/arrays and flow straight into
    # normalize_fields' recursive flattening
    "xml": ("xml", {"rowTag": "row"}, True),
    # multimodal ingestion: (path, modificationTime, length, content) rows;
    # narrow with options.pathGlobFilter (e.g. "*.jpg")
    "binaryfile": ("binaryFile", {}, False),
}


def read_source(spark: SparkSession, source: Mapping[str, Any]) -> DataFrame:
    """Read one source spec ``{name, path, format, schema?, options?}``.

    ``format`` is case-insensitive (a key of ``_FORMATS``).  ``path`` may
    be a string (globs allowed) or a list of paths.  ``schema`` is a DDL
    string; text and binaryfile sources have fixed schemas and ignore it.
    """
    fmt = str(source.get("format", "parquet")).strip().lower()
    if fmt not in _FORMATS:
        raise ValueError(f"Unsupported source format: {source.get('format')!r}")
    data_source, defaults, takes_schema = _FORMATS[fmt]
    path = source["path"]
    schema = source.get("schema") if takes_schema else None
    options = {**defaults, **(source.get("options") or {})}
    if fmt == "csv" and not schema:
        # Without a declared schema, fall back to inference (reference
        # behavior) — costs an extra scan; declare schemas at scale.
        options["inferSchema"] = "true"
    reader = spark.read.format(data_source).options(**options)
    if schema:
        reader = reader.schema(schema)
    return reader.load(path if isinstance(path, list) else [path])


def read_sources(
    spark: SparkSession, dataflow: Mapping[str, Any]
) -> dict[str, DataFrame]:
    """Read every source of a dataflow into the named-frames environment."""
    frames: dict[str, DataFrame] = {}
    for source in dataflow.get("sources", []):
        frames[source["name"]] = read_source(spark, source)
    return frames
