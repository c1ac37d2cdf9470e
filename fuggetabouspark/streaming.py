"""Structured Streaming ingest: keep per-source sketches continuously
up to date as new corpus files land.

Upstream fuggetaboutit's only asynchrony is a tornado IOLoop that
periodically decays the filter (SURVEY.md §3.1); the streaming
equivalent here is a file-source readStream whose every micro-batch
(a) folds new rows into the sketch state with the same
mapInArrow/merge path as batch builds and (b) applies decay against
the batch's max tick. Because every sketch merge is an idempotent-
per-partial commutative monoid and state writes are versioned by
batch id, the sink is exactly-once under Structured Streaming's
at-least-once foreachBatch contract: a replayed batch overwrites its
own version rather than double-counting.

State I/O runs on the driver through the library's checkpoint store
(fuggetabouspark.state), not through Spark jobs: an epoch's merged
state is one pyarrow file (_commit_row) that _swap_dir moves in as
``versions/epoch=N``, replacing a replayed epoch's earlier version
whole — CMS and CBF are additive, so a second file in the same version
would double-count — and versions are read back with _pa_read_table.
The only Spark work per trigger is the emptiness check and the
micro-batch's own build_sketches collect.

Scale note: state is O(groups × m) bytes independent of stream
length, and each micro-batch shuffles only its own partials — the
same plan a 1000-executor cluster would run per trigger.
StreamingSketchBuilder is the one streaming builder: per-source sketch
state is small enough to fold on the driver per trigger, so it needs no
Spark-managed per-group state (applyInPandasWithState, which SURVEY.md
§2 defers past v1). A per-key variant (e.g. per-user windows over
millions of keys) would.
"""

from __future__ import annotations

import os
import shutil

from .pipeline import build_sketches, merge_rows_to_sketches
from .sketches import Sketch
from .state import _commit_row, _pa_read_table, _swap_dir


class StreamingSketchBuilder:
    """foreachBatch sink that folds micro-batches into checkpointed
    per-source sketch state (one parquet version per epoch, last
    version wins)."""

    def __init__(self, spark, specs, state_dir, tick_col=None, partitions=8,
                 decay: bool = True):
        self.spark = spark
        self.specs = specs
        self.state_dir = state_dir
        self.tick_col = tick_col
        self.partitions = partitions
        self.decay = decay

    def _versions_dir(self) -> str:
        return os.path.join(self.state_dir, "versions")

    def _epochs_on_disk(self) -> list[int]:
        try:
            names = os.listdir(self._versions_dir())
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if n.startswith("epoch="):
                try:
                    out.append(int(n.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(out)

    def _load_version(self, epoch: int) -> dict[tuple[str, str], Sketch]:
        path = os.path.join(self._versions_dir(), f"epoch={epoch}")
        return merge_rows_to_sketches(_pa_read_table(path).to_pylist())

    def load_state(self) -> dict[tuple[str, str], Sketch]:
        # newest version still on disk: polled concurrently with a
        # trigger, a listed version may be swapped or GC'd before it
        # is read
        for epoch in reversed(self._epochs_on_disk()):
            try:
                return self._load_version(epoch)
            except FileNotFoundError:
                continue
        return {}

    def process_batch(self, batch_df, epoch_id: int) -> None:
        """Exactly-once under foreachBatch's at-least-once contract:
        state for epoch N is written to versions/epoch=N, derived ONLY
        from versions with epoch < N plus this batch's rows. A replayed
        epoch recomputes from the same predecessor and overwrites its
        own version with identical content — never double-counts."""
        if batch_df.isEmpty():  # LIMIT-1 on the optimized plan, no RDD conversion
            return
        new_rows = build_sketches(
            batch_df, self.specs, tick_col=self.tick_col, partitions=self.partitions,
        ).collect()
        prior = [e for e in self._epochs_on_disk() if e < epoch_id]
        state = self._load_version(prior[-1]) if prior else {}
        incoming = merge_rows_to_sketches(new_rows)
        for key, sk in incoming.items():
            state[key] = state[key].merge(sk) if key in state else sk
        if self.decay:
            for sk in state.values():
                if hasattr(sk, "decay"):
                    w = getattr(sk.params, "window_ticks", None)
                    if w:
                        sk.decay(_max_tick(sk))
        # bound state: quantile sketches merge by exact multiset union,
        # which grows per epoch — compact before persisting (compaction
        # is deterministic, so replays still rewrite identical bytes)
        state = {k: (sk.compressed() if hasattr(sk, "compressed") else sk) for k, sk in state.items()}
        out = [
            {"spec": spec, "group": group, "payload": sk.to_bytes(), "n_items": sk.n_items}
            for (spec, group), sk in sorted(state.items())
        ]
        _swap_dir(
            lambda tmp: _commit_row(tmp, *out),
            os.path.join(self._versions_dir(), f"epoch={epoch_id}"),
        )
        # GC: keep the last two versions (current + predecessor)
        for e in self._epochs_on_disk()[:-2]:
            shutil.rmtree(os.path.join(self._versions_dir(), f"epoch={e}"), ignore_errors=True)

    def start(self, input_path: str, schema, trigger_seconds: int = 2):
        """File-source stream over ``input_path``; new parquet files are
        discovered per trigger and folded into state."""
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 16)
            .parquet(input_path)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", os.path.join(self.state_dir, "_ss_checkpoint"))
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )


def _max_tick(sk: Sketch) -> int:
    if hasattr(sk, "ticks"):
        return int(sk.ticks.max())
    if hasattr(sk, "tiers"):
        return max((int(t.ticks.max()) for t in sk.tiers if t.ticks.size), default=0)
    return 0
