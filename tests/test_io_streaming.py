"""IO schema enforcement + Structured Streaming incremental builds."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuggetabouspark.fixtures import CORPUS_DDL, local_corpus, make_rows, spark_corpus
from fuggetabouspark.io import CORPUS_SCHEMA, read_corpus, validate_corpus
from fuggetabouspark.params import HLLParams, TimingParams
from fuggetabouspark.pipeline import SketchSpec, build_sketches, merge_rows_to_sketches
from fuggetabouspark.streaming import StreamingSketchBuilder


class TestIO:
    def test_read_corpus_roundtrip(self, spark, tmp_path):
        p = str(tmp_path / "c")
        spark_corpus(spark, 500, partitions=2).write.partitionBy("source").parquet(p)
        df = read_corpus(spark, p)
        assert set(df.columns) == {"doc_id", "tokens", "n_tok", "source"}
        v = validate_corpus(df)
        assert v["ok"] and v["rows"] == 500

    def test_json_source(self, spark, tmp_path):
        """JSON-lines corpus reads with the enforced schema (never
        inferred) and builds identically to the parquet path."""
        from fuggetabouspark.params import HLLParams
        from fuggetabouspark.pipeline import SketchSpec, build_sketches, merge_rows_to_sketches

        src = spark_corpus(spark, 300, partitions=2)
        pq = str(tmp_path / "pq")
        js = str(tmp_path / "js")
        src.write.parquet(pq)
        src.write.json(js)
        df_pq = read_corpus(spark, pq)
        df_js = read_corpus(spark, js, fmt="json")
        assert df_js.schema == df_pq.schema
        spec = [SketchSpec("h", "hll", HLLParams(p=12), "tokens")]
        a = merge_rows_to_sketches(build_sketches(df_pq, spec, partitions=2).collect())
        b = merge_rows_to_sketches(build_sketches(df_js, spec, partitions=2).collect())
        for k in a:
            assert a[k].to_bytes() == b[k].to_bytes()

    def test_schema_enforcement(self, spark, tmp_path):
        p = str(tmp_path / "bad")
        spark_corpus(spark, 50, partitions=1).withColumn(
            "tokens", F.col("tokens").cast("array<long>")
        ).write.parquet(p)
        with pytest.raises(ValueError, match="tokens"):
            read_corpus(spark, p)

    def test_missing_column(self, spark, tmp_path):
        p = str(tmp_path / "missing")
        spark_corpus(spark, 50, partitions=1).drop("n_tok").write.parquet(p)
        with pytest.raises(ValueError, match="n_tok"):
            read_corpus(spark, p)


class TestCatalogDispatch:
    def test_table_name_routes_to_catalog_read(self, spark):
        """A no-slash source must dispatch to spark.read.table (the
        Iceberg catalog path — untestable end-to-end without jars, so
        the routing itself is pinned; VERDICT r01 #10) and a path
        source to spark.read.parquet, with the same schema gate."""
        from fuggetabouspark.io import CORPUS_SCHEMA, read_corpus

        real = spark.createDataFrame([], CORPUS_SCHEMA)
        calls = {}

        class Reader:
            def table(self, name):
                calls["table"] = name
                return real

            def parquet(self, path):
                calls["parquet"] = path
                return real

        class FakeSpark:
            read = Reader()

        out = read_corpus(FakeSpark(), "warehouse.db.corpus_tokens")
        assert calls == {"table": "warehouse.db.corpus_tokens"}
        assert out.columns == ["doc_id", "tokens", "n_tok", "source"]
        calls.clear()
        read_corpus(FakeSpark(), "/some/dir/corpus")
        assert calls == {"parquet": "/some/dir/corpus"}


class TestStreaming:
    def test_incremental_equals_batch(self, spark, tmp_path):
        """Stream the corpus in two file drops; final state must answer
        membership identically to a one-shot batch build (byte-equal
        for the max-monoid TBF)."""
        specs = [
            SketchSpec("tbf", "tbf", TimingParams(30_000, 0.005, window_ticks=10_000), "tokens"),
            SketchSpec("hll", "hll", HLLParams(p=12), "tokens"),
        ]
        tick = (F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long") % 50) + 1

        inbox = str(tmp_path / "inbox")
        os.makedirs(inbox)
        pdf = make_rows(0, 1000)
        tok_after_1 = int(pdf.n_tok[:500].sum())
        tok_after_2 = int(pdf.n_tok.sum())
        full = spark.createDataFrame(pdf)
        # two drops
        spark.createDataFrame(make_rows(0, 500)).coalesce(1).write.parquet(
            inbox, mode="append"
        )

        b = StreamingSketchBuilder(
            spark, specs, str(tmp_path / "state"), tick_col=tick, partitions=4, decay=False
        )

        def tbf_tokens():
            return sum(sk.n_items for (s, _), sk in b.load_state().items() if s == "tbf")

        q = b.start(inbox, CORPUS_SCHEMA, trigger_seconds=1)
        try:
            _wait_for(lambda: tbf_tokens() == tok_after_1, 90)
            spark.createDataFrame(make_rows(500, 1000)).coalesce(1).write.parquet(
                inbox, mode="append"
            )
            _wait_for(lambda: tbf_tokens() == tok_after_2, 90)
        finally:
            q.stop()

        streamed = b.load_state()
        batch_rows = build_sketches(full, specs, tick_col=tick, partitions=4).collect()
        batch = merge_rows_to_sketches(batch_rows)
        assert streamed[("tbf", "web")].ticks.tobytes() == batch[("tbf", "web")].ticks.tobytes()
        assert streamed[("hll", "web")].registers.tobytes() == batch[("hll", "web")].registers.tobytes()
        for key in batch:
            assert streamed[key].n_items == batch[key].n_items


class TestLateData:
    def test_late_arrivals_merge_order_free(self, spark, tmp_path):
        """Rows arriving out of event-time order (late data) must fold
        to the same state as in-order arrival — the monoid property is
        the engine's watermark-free late-data answer."""
        from fuggetabouspark.streaming import StreamingSketchBuilder

        import pyspark.sql.functions as F

        specs = [SketchSpec("t", "tbf", TimingParams(30_000, 0.005, window_ticks=10**6), "tokens")]
        tick = (F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long") % 50) + 1
        pdf = make_rows(0, 600)
        newer = spark.createDataFrame(make_rows(300, 600)).withColumn("tick", tick)
        late = spark.createDataFrame(make_rows(0, 300)).withColumn("tick", tick)

        b = StreamingSketchBuilder(spark, specs, str(tmp_path / "late"), tick_col=F.col("tick"),
                                   partitions=2, decay=False)
        b.process_batch(newer, epoch_id=0)   # newer event-times first
        b.process_batch(late, epoch_id=1)    # late data afterwards
        out_of_order = b.load_state()

        b2 = StreamingSketchBuilder(spark, specs, str(tmp_path / "inorder"), tick_col=F.col("tick"),
                                    partitions=2, decay=False)
        b2.process_batch(late, epoch_id=0)
        b2.process_batch(newer, epoch_id=1)
        in_order = b2.load_state()
        for key in in_order:
            assert out_of_order[key].ticks.tobytes() == in_order[key].ticks.tobytes()


def _counts(b):
    state = b.load_state()
    return [{"n_rows": sk.n_items} for sk in state.values()]


def _wait_for(cond, timeout_s):
    import time

    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if cond():
            return
        time.sleep(1.0)
    raise TimeoutError("stream did not reach expected state")
