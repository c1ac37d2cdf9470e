"""Corpus IO: Iceberg table when a catalog is configured, parquet in
an Iceberg-shaped layout otherwise (no Iceberg jars in this sandbox —
SURVEY.md §1.2), with input_hint schema enforcement either way.

The reader is deliberately strict: the north rule fixes the corpus
schema to (doc_id:string, tokens:array<int32>, n_tok:int32,
source:string) [BASELINE.json:15], and a silent schema drift (e.g.
tokens as array<long>) would change hashing behavior downstream, so
mismatches fail loudly with the offending field named.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)
# The fixed column names of the documents table (TEXT) and the
# embeddings table (VEC_ID, EMBEDDING); every operator reads them here.
TEXT = "text"
VEC_ID = "vec_id"
EMBEDDING = "embedding"


def read_corpus(spark: SparkSession, source: str, fmt: str = "parquet") -> DataFrame:
    """Read the tokenized corpus.

    ``source`` is an Iceberg table name (contains no '/') read through
    the session catalog, or a parquet directory path. Column pruning
    and partition pruning stay with Catalyst — callers filter/select
    on the returned DataFrame and the scan narrows accordingly. The
    result holds the four input_hint columns, each of its expected type
    (else ValueError). ``fmt`` selects parquet (default) or json
    (JSON-lines with tokens as int arrays) for path sources; json
    reads apply the expected schema up front (never inferred — an
    inferred array<long> would silently change downstream hashing).
    """
    if "/" not in source:
        df = spark.read.table(source)
    elif fmt == "json":
        df = spark.read.schema(CORPUS_SCHEMA).json(source)
    else:
        df = spark.read.parquet(source)
    missing = [f.name for f in CORPUS_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"corpus at {source!r} is missing columns {missing}")
    got = {f.name: f.dataType for f in df.schema.fields}
    for f in CORPUS_SCHEMA.fields:
        if got[f.name] != f.dataType:
            raise ValueError(
                f"corpus column {f.name!r} has type {got[f.name].simpleString()}, "
                f"expected {f.dataType.simpleString()} (input_hint, BASELINE.json:15)"
            )
    return df.select(CORPUS_SCHEMA.fieldNames())


def validate_corpus(df: DataFrame) -> dict:
    """Cheap full-scan invariants: n_tok == len(tokens) on every row
    (FIXTURES.md consistency test) and null-free key columns."""
    bad = df.where(
        (F.size("tokens") != F.col("n_tok"))
        | F.col("doc_id").isNull()
        | F.col("source").isNull()
    ).count()
    total = df.count()
    return {"rows": total, "invalid_rows": bad, "ok": bad == 0}
