"""Sources: CSV/JSON/Parquet scans with the reference's load semantics.

Mirrors ``DataMatcher.load_from_csv/load_from_json``
(``/root/reference/fuzzy_matching/core/data_matcher.py:65-114``):

* every value string-coerced and trimmed at load;
* ``name_fields`` rename applied at scan time; when several source columns
  map to one target, values fold left with a space *iff* the accumulated
  value is non-empty (an empty first value is replaced, not concatenated —
  reproduced exactly, trailing spaces included);
* missing source column -> empty string.

Documented divergence: the reference turns an explicit JSON ``null`` into
the string ``"None"`` (``str(None)``) and Python bools into ``"True"``;
Spark's JSON reader cannot distinguish null from missing, so both become
``""`` here and bools render lowercase.  Sane-behavior fix, noted for the
parity ledger rather than reproduced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["load_csv", "load_json", "load_corpus", "apply_name_fields"]


def _fold_concat(cols: list[Column]) -> Column:
    """Left fold with the reference's concat rule (non-empty acc -> ' ' join)."""
    acc = cols[0]
    for nxt in cols[1:]:
        acc = F.when(F.length(acc) > 0, F.concat(acc, F.lit(" "), nxt)).otherwise(nxt)
    return acc


def apply_name_fields(df: DataFrame, name_fields: dict[str, str] | None) -> DataFrame:
    """Rename/concat projection (P1).  ``name_fields`` maps source->target
    in mapping order; absent sources contribute ''."""
    if not name_fields:
        return df.select(
            *[F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))).alias(c) for c in df.columns]
        )
    by_target: dict[str, list[Column]] = {}
    for src, dst in name_fields.items():
        col = (
            F.trim(F.coalesce(F.col(src).cast("string"), F.lit("")))
            if src in df.columns
            else F.lit("")
        )
        by_target.setdefault(dst, []).append(col)
    return df.select(*[_fold_concat(cols).alias(dst) for dst, cols in by_target.items()])


def load_csv(spark: SparkSession, path: str, name_fields: dict[str, str] | None = None) -> DataFrame:
    """S1: header CSV scan, all-string schema (no inference), rename/concat."""
    raw = spark.read.option("header", True).option("inferSchema", False).csv(path)
    return apply_name_fields(raw, name_fields)


def load_json(spark: SparkSession, path: str, name_fields: dict[str, str] | None = None) -> DataFrame:
    """S2: JSON-array scan (multiLine), values string-coerced, rename/concat."""
    raw = spark.read.option("multiLine", True).json(path)
    return apply_name_fields(raw, name_fields)


def load_corpus(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """North-rule corpus table ``(repo, path, commit, lang, content)``.

    Iceberg in production is a catalog identifier (``fmt="table"``,
    ``spark.read.table``); locally the same columns come from partitioned
    Parquet — one code path above this call either way.
    """
    if fmt == "table":
        return spark.read.table(path)
    return spark.read.parquet(path)
