"""connected_components' driver path: a pair graph within
dedup._LOCAL_CC_EDGES edge rows is read once and clustered in numpy.

Pinned here, with the distributed Spark loop as the reference:
- null ids are not nodes, on both paths;
- seeded random graphs (self-loops, duplicate edges, long and string
  ids) give identical rows, round counts and output schema;
- non-convergence within dedup._CC_MAX_ROUNDS raises on both paths;
- a small graph costs exactly one Spark job, counting its clusters
  one more, and a graph over the budget still takes the Spark loop.
"""

import numpy as np
import pytest
from conftest import jobs_in_group
from pyspark.sql import functions as F

from fuggetabouspark.dataops import connected_components, dedup


def _both_paths(monkeypatch, fn):
    """fn() on the driver path, then on the Spark loop."""
    local = fn()
    with monkeypatch.context() as m:
        m.setattr(dedup, "_LOCAL_CC_EDGES", 0)
        return local, fn()


def _rows(cc):
    return sorted((r["node"], r["comp"]) for r in cc.collect())


def _random_graph(rng):
    """1-300 nodes with scattered ids, a sparse random edge set (so
    components chain over several rounds), some self-loops and
    duplicated edges."""
    n = int(rng.integers(1, 301))
    ids = rng.choice(10**9, size=n, replace=False)
    m = int(rng.integers(1, 2 * n + 1))
    a, b = rng.integers(0, n, m), rng.integers(0, n, m)
    loops = rng.random(m) < 0.1
    b[loops] = a[loops]
    edges = [(int(ids[x]), int(ids[y])) for x, y in zip(a, b)]
    dup = rng.integers(0, m, m // 5)
    return edges + [edges[i] for i in dup]


def _as_strings(edges):
    # byte order differs from numeric order ("d10" < "d9"), and
    # multi-byte UTF-8 sorts after ASCII
    return [(f"d{x}" if x % 3 else f"é{x}", f"d{y}" if y % 3 else f"é{y}") for x, y in edges]


class TestNullEndpoints:
    @pytest.mark.parametrize(
        "edges, want, want_rounds",
        [
            ([("a", None)], [("a", "a")], 1),
            ([("a", None), ("a", "b")], [("a", "a"), ("b", "a")], 2),
            ([("b", None), ("a", "b"), ("b", "c")], [("a", "a"), ("b", "a"), ("c", "a")], 2),
            ([(None, None), ("c", "b")], [("b", "b"), ("c", "b")], 2),
            ([(None, None)], [], 1),
        ],
    )
    def test_null_ids_are_not_nodes(self, spark, monkeypatch, edges, want, want_rounds):
        df = spark.createDataFrame(edges, "doc_a string, doc_b string")
        for cc, rounds in _both_paths(
            monkeypatch, lambda: connected_components(df, return_rounds=True)
        ):
            rows = [tuple(r) for r in cc.collect()]
            assert len(rows) == len(want) and set(rows) == set(want)
            assert rounds == want_rounds


class TestDriverMatchesSparkLoop:
    @pytest.mark.parametrize("id_type", ["long", "string"])
    def test_random_graphs(self, spark, monkeypatch, id_type):
        rng = np.random.default_rng(20 if id_type == "long" else 21)
        for _ in range(4):
            edges = _random_graph(rng)
            if id_type == "string":
                edges = _as_strings(edges)
            df = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}").cache()
            (lcc, lr), (scc, sr) = _both_paths(
                monkeypatch, lambda: connected_components(df, return_rounds=True)
            )
            assert _rows(lcc) == _rows(scc)
            assert lr == sr
            assert lcc.schema == scc.schema
            df.unpersist()

    def test_max_iter_raises_on_both_paths(self, spark, monkeypatch):
        df = spark.createDataFrame([(i, i + 1) for i in range(6)], "doc_a long, doc_b long")
        monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 1)

        def one_round():
            with pytest.raises(RuntimeError, match="converge"):
                connected_components(df)

        _both_paths(monkeypatch, one_round)


class TestJobCount:
    def test_small_graph_is_one_job(self, spark):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(30)] + [(100, 101)], "doc_a long, doc_b long"
        ).cache()
        df.count()
        cc, jobs = jobs_in_group(spark, "cc_small", lambda: connected_components(df))
        assert jobs == 1
        assert _rows(cc) == [(i, 0) for i in range(31)] + [(100, 100), (101, 100)]
        # the driver-built result is one partition: counting clusters
        # needs no shuffle stage
        n, jobs = jobs_in_group(
            spark, "cc_count", lambda: cc.agg(F.countDistinct("comp")).collect()[0][0]
        )
        assert (n, jobs) == (2, 1)
        df.unpersist()

    def test_graph_over_budget_takes_spark_loop(self, spark, monkeypatch):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
        ).cache()
        df.count()
        want = _rows(connected_components(df))
        monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", 5)
        cc, jobs = jobs_in_group(spark, "cc_big", lambda: connected_components(df))
        # the Spark loop's checkpoints and per-round probes: far more
        # than the driver path's single read
        assert jobs > 1
        assert _rows(cc) == want == [(i, 0) for i in range(7)]
        df.unpersist()
