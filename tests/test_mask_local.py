"""mask_repeated_passages' driver path: a corpus that fits
dedup._LOCAL_ROWS is masked in numpy on the driver after one bounded
Spark read, and must return the Spark plan's rows and schema.

Pinned here:
- seeded parity with the Spark plan (mask_spark_path): integral ids
  whose numeric order differs from their string order, multi-byte
  string ids, null and empty text, docs shorter than the window,
  strides 2 and 3, min_docs 3, intra-doc repeats and non-nullable
  columns;
- which inputs take the Spark plan: duplicate or null doc ids, a
  non-string text, a double doc id, one row over the row budget, one
  text byte over the byte budget;
- a small corpus is masked in exactly 1 Spark job.
"""

import numpy as np
import pytest
from conftest import jobs_in_group
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fuggetabouspark.dataops import dedup, mask_repeated_passages


def _corpus(seed: int, n_docs: int, ids):
    """``n_docs`` seeded docs over a small vocabulary with planted
    shared passages (some repeated inside one doc), plus a null text,
    an empty text, a double space and a doc shorter than any window."""
    rng = np.random.default_rng(seed)
    passages = [[f"p{k}_{j}" for j in range(int(rng.integers(4, 12)))] for k in range(5)]
    rows = []
    for i in range(n_docs):
        words = []
        for _ in range(int(rng.integers(1, 5))):
            words += [f"w{x}" for x in rng.integers(0, 40, int(rng.integers(0, 6)))]
            if rng.random() < 0.6:
                words += passages[int(rng.integers(0, len(passages)))]
        rows.append((ids[i], " ".join(words)))
    rows += [(ids[n_docs], None), (ids[n_docs + 1], ""),
             (ids[n_docs + 2], "a  b"), (ids[n_docs + 3], "tiny")]
    return rows


def _driver_path_taken(*args):
    raise AssertionError("driver path taken")


def _run(df, **kw):
    out = mask_repeated_passages(df, **kw)
    return sorted(out.collect(), key=lambda r: r.doc_id), out.schema


def _both(monkeypatch, df, **kw):
    """(driver rows, driver schema), (Spark rows, Spark schema)."""
    called = []
    real = dedup._mask_local
    monkeypatch.setattr(dedup, "_mask_local", lambda *a: called.append(1) or real(*a))
    local = _run(df, **kw)
    assert called, "expected the driver path"
    monkeypatch.setattr(dedup, "_LOCAL_ROWS", 0)
    spark_path = _run(df, **kw)
    assert len(called) == 1, "expected the Spark path"
    return local, spark_path


_LONG_IDS = [int(x) for x in np.random.default_rng(0).permutation(np.arange(5, 200))]
# multi-byte ids: UTF-8 byte order is the order Spark's min compares in
_STR_IDS = [f"{c}{i}" for i, c in enumerate("zé日aßŻ0€b" * 30)]


@pytest.mark.parametrize(
    "ids, ddl, kw",
    [
        (_LONG_IDS, "doc_id long, text string", dict(window=4)),
        (_LONG_IDS, "doc_id long, text string", dict(window=5, stride=2)),
        (_STR_IDS, "doc_id string, text string", dict(window=4)),
        (_STR_IDS, "doc_id string, text string", dict(window=3, stride=3)),
        (_STR_IDS, "doc_id string, text string", dict(window=4, min_docs=3)),
        ([int(i) for i in range(300)], "doc_id int, text string", dict(window=6, min_docs=3)),
    ],
)
@pytest.mark.parametrize("seed", [1, 2])
def test_driver_matches_spark_plan(spark, monkeypatch, ids, ddl, kw, seed):
    df = spark.createDataFrame(_corpus(seed, 60, ids), ddl)
    local, spark_path = _both(monkeypatch, df, **kw)
    assert local == spark_path
    assert sum(r.n_tokens_removed or 0 for r in local[0]) > 0


def test_keeper_is_min_id_in_numeric_order(spark, monkeypatch):
    # 9 < 10 as numbers but "10" < "9" as strings: the keeper is doc 9
    para = " ".join(f"k{i}" for i in range(6))
    df = spark.createDataFrame(
        [(10, f"x {para}"), (9, f"y {para}"), (11, f"{para} {para}")],
        "doc_id long, text string",
    )
    local, spark_path = _both(monkeypatch, df, window=6)
    assert local == spark_path
    out = {r.doc_id: r for r in local[0]}
    assert out[9].n_tokens_removed == 0
    assert out[10].text_clean == "x" and out[11].text_clean == ""


def test_non_nullable_columns_keep_their_schema(spark, monkeypatch):
    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), False)])
    df = spark.createDataFrame(_corpus(3, 20, list(range(30)))[:20], schema)
    local, spark_path = _both(monkeypatch, df, window=4)
    assert local == spark_path
    assert not any(f.nullable for f in local[1].fields)


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1, "a b c d"), (1, "a b c d"), (2, "a b c d")], "doc_id long, text string"),
        ([(None, "a b c d"), (2, "a b c d")], "doc_id long, text string"),
        ([(1, 7), (2, 7)], "doc_id long, text long"),
        ([(1.0, "a b c d"), (2.0, "a b c d")], "doc_id double, text string"),
    ],
    ids=["duplicate-id", "null-id", "long-text", "double-id"],
)
def test_other_inputs_take_spark_plan(spark, monkeypatch, rows, ddl):
    df = spark.createDataFrame(rows, ddl)
    monkeypatch.setattr(dedup, "_mask_local", _driver_path_taken)
    mask_repeated_passages(df, window=3).collect()


def test_one_row_over_budget_takes_spark_plan(spark, monkeypatch):
    rows = _corpus(4, 40, list(range(50)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "_LOCAL_ROWS", len(rows))
    local = _run(df, window=4)
    monkeypatch.setattr(dedup, "_LOCAL_ROWS", len(rows) - 1)
    monkeypatch.setattr(dedup, "_mask_local", _driver_path_taken)
    assert _run(df, window=4) == local


def test_text_over_byte_budget_takes_spark_plan(spark, monkeypatch):
    rows = _corpus(6, 40, list(range(50)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    size = sum(len(t.encode()) for _, t in rows if t is not None)  # UTF-8 bytes
    monkeypatch.setattr(dedup, "_LOCAL_BYTES", size)
    local = _run(df, window=4)
    monkeypatch.setattr(dedup, "_LOCAL_BYTES", size - 1)
    monkeypatch.setattr(dedup, "_mask_local", _driver_path_taken)
    assert _run(df, window=4) == local


def test_small_corpus_is_one_job(spark):
    df = spark.createDataFrame(_corpus(5, 50, list(range(60))), "doc_id long, text string")
    out, jobs = jobs_in_group(spark, "mask-local-one-job",
                              lambda: mask_repeated_passages(df, window=4))
    assert jobs == 1
    assert out.rdd.getNumPartitions() == 1
