"""JSON source (reference: src/infrastructure/parsers/json_parser.rs).

Reference semantics (SURVEY.md §2.2 P5): parse the whole file; a top-level
array yields one document per element, any other top-level value yields a
single document; native JSON types are preserved (the only parser that
doesn't stringify — json_parser.rs:6-23).

Spark design: ``spark.read.json`` natively explodes top-level arrays and
wraps single objects — exactly the reference behavior. ``multiLine=True`` by
default for whole-file fidelity (pretty-printed files); pass
``{"multiline": false}`` for NDJSON, which is the splittable, 100-TB-scale
path (one JSON doc per line parses in parallel across executors).

Top-level scalars (a file containing just ``42``): Spark surfaces no columns;
the rebuild maps them to a single-row ``{"value": <scalar>}`` frame —
documented deviation (the reference emits the bare scalar, which its own
Mongo sink cannot store anyway). An empty top-level array (``[]``) yields a
frame with no columns and no rows.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ParseError


def read_json(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse a JSON file into a typed DataFrame with reference semantics."""
    cfg = parser_config or {}
    multiline = bool(cfg.get("multiline", True))
    df = (
        spark.read.option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_json")
        .json(path)
    )
    cols = df.columns
    if cols == ["_corrupt_json"] or not cols:
        # top-level scalar (or array of scalars): re-read as raw text
        raw = spark.read.text(path, wholetext=True)
        parsed = raw.select(
            F.from_json(F.col("value"), "array<string>").alias("arr"),
            F.col("value"),
        )
        row = parsed.collect()[0]
        if row["arr"] == []:
            # no documents and no columns, so the sink writes nothing (a
            # placeholder ``value string`` would clash with real columns)
            return spark.createDataFrame([], "__empty string").drop("__empty")
        if row["arr"] is not None:
            return spark.createDataFrame(
                [(v,) for v in row["arr"]], "value: string"
            )
        return raw.select(F.trim(F.col("value")).alias("value"))
    if "_corrupt_json" in cols:
        bad = df.filter(F.col("_corrupt_json").isNotNull()).limit(1).collect()
        if bad:
            raise ParseError(f"Malformed JSON in {path}: {bad[0]['_corrupt_json'][:80]}")
        df = df.drop("_corrupt_json")
    return df
