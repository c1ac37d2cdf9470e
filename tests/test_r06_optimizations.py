"""Focused tests for operator internals changed by the round-6
optimization pass. Each pins a behavior the rewritten code must keep
identical to the round-5 semantics:

- connected_components: the convergence check moved to the propagate
  output and round 1 synthesizes identity labels from the edge list —
  long chains must still converge in O(log diameter) rounds (pointer
  jumping intact) with exact component minima.
- seen_within_payloads: the payload-direct probe path must answer
  exactly like the state_df path it shortcuts.
- mask_repeated_passages: the keeper is now min(doc_id) with the
  keeper position taken from the keeper row's own pos_list[0] — a
  keeper doc that ITSELF repeats the passage must keep only its first
  occurrence, like the old min(struct(doc_id, pos)) formulation.
- incremental_embedding_dedup: the CSR-kernel verify must drop
  candidate partners whose vector is absent from the vec ledger
  (the old inner-join-with-hvecs semantics), not crash or mis-flag.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuggetabouspark.dataops import (
    connected_components,
    incremental_embedding_dedup,
    mask_repeated_passages,
)
from fuggetabouspark.params import TimingParams


class TestConnectedComponentsRestructure:
    def test_long_chain_pointer_jumping(self, spark):
        # path graph 0-1-...-30: diameter 30; pointer jumping must
        # converge in O(log d) rounds, far under the 25-round cap
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
        )
        cc, rounds = connected_components(edges, return_rounds=True)
        rows = sorted((r["node"], r["comp"]) for r in cc.collect())
        assert len(rows) == 31 and all(c == 0 for _, c in rows)
        assert rounds <= 8, f"pointer jumping regressed: {rounds} rounds"

    def test_components_and_round_count_small_graphs(self, spark):
        # triangle + path-of-2: classic 2-round convergence (round 2
        # only confirms) — the propagate-output convergence check must
        # not change the reported round count
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)],
            "doc_a long, doc_b long",
        )
        cc, rounds = connected_components(edges, return_rounds=True)
        rows = sorted((r["node"], r["comp"]) for r in cc.collect())
        assert rows == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)]
        assert rounds == 2

    def test_self_loop_only_graph(self, spark):
        edges = spark.createDataFrame([(5, 5)], "doc_a long, doc_b long")
        cc, rounds = connected_components(edges, return_rounds=True)
        assert [(r["node"], r["comp"]) for r in cc.collect()] == [(5, 5)]
        assert rounds == 1


@pytest.mark.usefixtures("cc_spark_loop")
class TestConnectedComponentsRestructureSparkLoop(TestConnectedComponentsRestructure):
    """The same tests on connected_components' distributed loop (the
    parent class runs them on the driver path)."""


class TestSeenWithinPayloadPath:
    def test_payloads_match_state_df_path(self, spark):
        from fuggetabouspark.queries import (
            seen_within_distributed,
            seen_within_payloads,
        )
        from fuggetabouspark.sketches.tbf import TimingBloomFilter

        sk = TimingBloomFilter.zero(
            TimingParams(capacity=1000, error=0.001, window_ticks=10)
        )
        sk.add_batch(np.arange(0, 50, dtype=np.int64), 5)
        payload = sk.to_bytes()
        state_df = spark.createDataFrame(
            [("t", "g1", bytearray(payload), sk.n_items)],
            "spec string, group string, payload binary, n_items long",
        )
        probes = spark.range(100).selectExpr("id as key")
        via_df = sorted(
            tuple(r)
            for r in seen_within_distributed(
                spark, state_df, "t", probes, now=10
            ).collect()
        )
        via_payload = sorted(
            tuple(r)
            for r in seen_within_payloads(
                spark, [("g1", payload)], probes, now=10
            ).collect()
        )
        assert via_df == via_payload
        assert sum(1 for _, k, s in via_df if s) >= 50  # zero in-window FN
        # only_seen parity too
        hits_df = sorted(
            tuple(r)
            for r in seen_within_distributed(
                spark, state_df, "t", probes, now=10, only_seen=True
            ).collect()
        )
        hits_pl = sorted(
            tuple(r)
            for r in seen_within_payloads(
                spark, [("g1", payload)], probes, now=10, only_seen=True
            ).collect()
        )
        assert hits_df == hits_pl and all(s for _, _, s in hits_pl)


class TestMaskKeeperEquivalence:
    def test_keeper_doc_with_repeated_occurrence_keeps_first_only(self, spark):
        # para appears TWICE in the keeper doc (min doc_id) and once in
        # another doc: old keeper semantics keep exactly the keeper
        # doc's FIRST occurrence corpus-wide; the pos_list[0] keeper
        # trick must preserve that
        para = " ".join(f"kp{i}" for i in range(50))
        filler_a = " ".join(f"a{i}" for i in range(60))
        filler_b = " ".join(f"b{i}" for i in range(60))
        docs = spark.createDataFrame(
            [
                ("d0", f"{para} {filler_a} {para}"),
                ("d1", f"{filler_b} {para}"),
            ],
            "doc_id string, text string",
        )
        out = {
            r["doc_id"]: r
            for r in mask_repeated_passages(docs, window=50, stride=1).collect()
        }
        kp = lambda t: sum(1 for w in t.split(" ") if w.startswith("kp"))
        # keeper doc d0 keeps its first occurrence (50 kp tokens), the
        # second occurrence is dropped; d1 loses the paragraph
        assert kp(out["d0"]["text_clean"]) == 50
        assert out["d0"]["n_tokens_removed"] == 50
        assert kp(out["d1"]["text_clean"]) == 0
        assert out["d1"]["n_tokens_removed"] == 50
        # non-repeated filler survives everywhere
        assert "a0" in out["d0"]["text_clean"] and "b0" in out["d1"]["text_clean"]



@pytest.mark.usefixtures("mask_spark_path")
class TestMaskKeeperEquivalenceSparkPath(TestMaskKeeperEquivalence):
    """The same test on mask_repeated_passages' Spark plan (the parent
    class runs it on the driver path)."""

class TestEmbVerifyMissingPartner:
    def test_partner_missing_from_vec_ledger_is_dropped(self, spark, tmp_path):
        # commit day-1 vectors, then delete the vec ledger's rows by
        # rewriting it empty: day-2 probes still find bucket-ledger
        # candidates, but the verify must drop partners with no stored
        # vector (old inner-join semantics) instead of crashing — and
        # flag nothing
        ck = str(tmp_path / "emb_ck")
        dim = 8
        vecs = [
            (str(i), [float((i * 7 + j) % 5 - 2) or 1.0 for j in range(dim)])
            for i in range(20)
        ]
        day1 = spark.createDataFrame(vecs, "vec_id string, embedding array<float>")
        p = TimingParams(capacity=10_000, error=0.001, window_ticks=2**31)
        incremental_embedding_dedup(
            spark, day1, ck, now=1, dim=dim, bits=6, params=p, partitions=2
        ).unpersist()
        # empty the vec ledger (keep schema) — simulates a partner
        # whose vector row is gone while its bucket keys remain
        from fuggetabouspark.dataops.incremental import (
            EMB,
            EMB_VEC_LEDGER_DDL,
            _read_swap,
            _swap_dir,
        )

        vec_path = EMB.path(ck, "vec_ledger")
        empty = spark.createDataFrame([], EMB_VEC_LEDGER_DDL)
        _swap_dir(
            lambda tmp: empty.write.mode("overwrite").parquet(tmp), vec_path
        )
        assert _read_swap(spark, vec_path, EMB_VEC_LEDGER_DDL).count() == 0
        day2 = spark.createDataFrame(vecs, "vec_id string, embedding array<float>")
        ann = incremental_embedding_dedup(
            spark, day2, ck, now=2, dim=dim, bits=6, params=p,
            partitions=2, update_state=False,
        )
        flagged = ann.where("is_emb_dup_history").count()
        ann.unpersist()
        assert flagged == 0  # no stored vector -> no exact verify -> no flag
