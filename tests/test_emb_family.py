"""Input guards and precision of the embedding history family.

- the shared bucket-key function rejects null and wrong-length vectors
  loudly instead of shifting later rows onto wrong bucket keys;
- ``array<double>`` input is cast to the vec ledger's ``array<float>``
  at ingest, and exact re-uploads still score cosine 1;
- commit_emb_state refuses a checkpoint of another geometry and
  commits nothing;
- the same through StreamingIngestGuard, on both of its paths: a batch
  with a null vector fails loudly before anything is committed, and
  ``array<double>`` re-uploads are dropped while the clean output keeps
  the batch's ``array<double>`` type;
- similarity.hyperplane_buckets decodes its vectors through the same
  guard: a batch whose wrong lengths cancel out and a null vector fail
  loudly instead of bucketing shifted rows.
"""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql.types import ArrayType, FloatType

from fuggetabouspark.dataops import (
    StreamingIngestGuard,
    commit_emb_state,
    incremental_embedding_dedup,
)
from fuggetabouspark.dataops.incremental import EMB, EXACT
from fuggetabouspark.dataops.similarity import hyperplane_buckets
from fuggetabouspark.params import TimingParams

P = TimingParams(capacity=10_000, error=0.001, window_ticks=2**31)
DIM = 8


@pytest.fixture()
def ck():
    d = tempfile.mkdtemp(prefix="fgs_emb_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(n, seed, start=0):
    rng = np.random.default_rng(seed)
    return [(start + i, [float(x) for x in v])
            for i, v in enumerate(rng.standard_normal((n, DIM)))]


class TestBucketKeyGuards:
    def test_null_vector_fails_loudly(self, spark, ck):
        df = spark.createDataFrame(
            _rows(3, 1) + [(9, None)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(PythonException, match="null vectors"):
            incremental_embedding_dedup(spark, df, ck, now=1, dim=DIM, params=P)

    def test_wrong_length_vector_fails_loudly(self, spark, ck):
        df = spark.createDataFrame(
            _rows(3, 2) + [(9, [1.0] * (DIM - 1))], "vec_id long, embedding array<float>"
        )
        with pytest.raises(PythonException, match="ragged"):
            incremental_embedding_dedup(spark, df, ck, now=1, dim=DIM, params=P)


class TestDoubleInput:
    def test_double_vectors_reuploaded_score_cosine_one(self, spark, ck):
        first = _rows(20, 3)
        ddl = "vec_id long, embedding array<double>"
        incremental_embedding_dedup(
            spark, spark.createDataFrame(first, ddl), ck, now=1, dim=DIM, params=P
        ).unpersist()
        led = spark.read.parquet(EMB.path(ck, "vec_ledger"))
        assert led.schema["embedding"].dataType == ArrayType(FloatType())
        # shard 2: every shard-1 vector re-uploaded under a new id
        second = [(100 + i, v) for i, v in first]
        ann = incremental_embedding_dedup(
            spark, spark.createDataFrame(second, ddl), ck, now=2, dim=DIM,
            params=P, update_state=False,
        )
        got = ann.collect()
        ann.unpersist()
        assert len(got) == len(second)
        for r in got:
            assert r.is_emb_dup_history
            assert int(r.hist_vec_id) == int(r.vec_id) - 100
            assert abs(r.cosine - 1.0) < 1e-9


class TestCommitGeometry:
    def test_mismatched_bits_commits_nothing(self, spark, ck):
        ddl = "vec_id long, embedding array<float>"
        incremental_embedding_dedup(
            spark, spark.createDataFrame(_rows(5, 4), ddl), ck, now=1, dim=DIM,
            bits=6, params=P,
        ).unpersist()
        assert len(EMB.log(ck).metas()) == 1
        # commit_emb_state derives keys at the default 12 bits
        with pytest.raises(ValueError, match="bits"):
            commit_emb_state(
                spark, spark.createDataFrame(_rows(5, 5, start=10), ddl), ck,
                now=2, dim=DIM, params=P,
            )
        assert len(EMB.log(ck).metas()) == 1


class TestGuardEmbeddings:
    DDL = "doc_id long, text string, embedding array<double>"

    def _guard(self, spark, ck):
        return StreamingIngestGuard(
            spark, ck, clean_dir=os.path.join(ck, "clean"), embeddings=True,
            emb_dim=DIM, params=P, emb_params=P, compact_every=None,
        )

    def test_null_vector_commits_nothing(self, spark, ck, guard_path):
        rows = [(i, f"text {i}", v) for i, v in _rows(3, 6)] + [(9, "text 9", None)]
        with pytest.raises((ValueError, PythonException), match="null vectors"):
            self._guard(spark, ck).process_batch(spark.createDataFrame(rows, self.DDL), 0)
        assert EMB.log(ck).metas() == [] and EXACT.log(ck).metas() == []

    def test_double_reuploads_dropped_and_type_kept(self, spark, ck, guard_path):
        g = self._guard(spark, ck)
        first = _rows(10, 7)
        g.process_batch(spark.createDataFrame(
            [(i, f"first {i}", v) for i, v in first], self.DDL), 0)
        led = spark.read.parquet(EMB.path(ck, "vec_ledger"))
        assert led.schema["embedding"].dataType == ArrayType(FloatType())
        # every vector re-uploaded under a new id and a new text
        g.process_batch(spark.createDataFrame(
            [(100 + i, f"second {i}", v) for i, v in first], self.DDL), 1)
        clean = spark.read.parquet(os.path.join(ck, "clean"))
        assert clean.schema["embedding"].dataType.simpleString() == "array<double>"
        assert {r.doc_id for r in clean.collect()} == {i for i, _ in first}


class TestHyperplaneBucketGuards:
    def _buckets(self, spark, rows):
        # one partition: both vectors reach the kernel in one batch
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
        return hyperplane_buckets(df, dim=4, bits=6)[0].collect()

    def test_cancelling_ragged_batch_fails_loudly(self, spark):
        # 3 + 5 floats is 2 vectors' worth at dim 4: a bare reshape
        # would bucket two shifted rows without an error
        rows = [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0, 7.0, 8.0])]
        with pytest.raises((ValueError, PythonException), match="ragged"):
            self._buckets(spark, rows)

    def test_null_vector_fails_loudly(self, spark):
        rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, None)]
        with pytest.raises((ValueError, PythonException), match="null vectors"):
            self._buckets(spark, rows)
