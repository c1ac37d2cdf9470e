"""Per-layer metrics and the end-to-end metrics each should move.

Each entry is (metric, unit, better, moves, flat): ``moves`` lists the
end-to-end metrics, as ``workload:metric``, that a change to this layer
should move; ``flat`` lists those it should leave unchanged.  A traced run
reports every metric here, with 0 for a layer its workload does not call.
Later performance work cites these names.

    python3 perfbench/layers.py    # print the map as a markdown table
"""

from __future__ import annotations

SPAN_FIELDS = (
    ("wall_s", "s", "lower"),
    ("executor_run_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("jobs", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
)

SKETCH_OPS = "corpus:op1_cpu_s corpus:op2_cpu_s"
DEDUP_OPS = "corpus:op3_cpu_s corpus:op4_cpu_s"
CORPUS_ALL = "corpus:op1_cpu_s corpus:op2_cpu_s corpus:op3_cpu_s corpus:op4_cpu_s"

# span -> (moves, flat)
SPANS = {
    "io.scan": ("corpus:op1_cpu_s corpus:op3_cpu_s", "ingest_guard:op1_cpu_s"),
    "pipeline.build": ("corpus:op1_cpu_s ingest_guard:op1_cpu_s", DEDUP_OPS),
    "queries.probe_warm": ("corpus:op2_cpu_s", DEDUP_OPS),
    "queries.probe_cold": ("ingest_guard:op1_cpu_s", DEDUP_OPS),
    # the guard's near family runs the same signature and banding kernels,
    # and its passages family the same passage-fingerprint kernel as mask
    "dedup.sigs": ("corpus:op3_cpu_s ingest_guard:op1_cpu_s", SKETCH_OPS),
    "dedup.lsh": ("corpus:op3_cpu_s ingest_guard:op1_cpu_s", SKETCH_OPS),
    "dedup.verify": ("corpus:op3_cpu_s", SKETCH_OPS + " ingest_guard:op1_cpu_s"),
    "dedup.cc": ("corpus:op3_cpu_s", SKETCH_OPS + " ingest_guard:op1_cpu_s"),
    "dedup.mask": ("corpus:op4_cpu_s ingest_guard:op1_cpu_s", SKETCH_OPS),
    "incremental.trigger": ("ingest_guard:op1_cpu_s ingest_guard:op4_cpu_s", CORPUS_ALL),
    "incremental.compact": ("ingest_guard:op2_cpu_s", CORPUS_ALL),
    "incremental.expire": ("ingest_guard:op2_cpu_s", CORPUS_ALL),
}

SKETCH_KINDS = ("cbf", "tbf", "stbf", "hll", "cms", "tdigest", "kll")


def _layers():
    out = []
    for span, (moves, flat) in SPANS.items():
        for field, unit, better in SPAN_FIELDS:
            out.append((f"{span}.{field}", unit, better, moves, flat))
    out += [
        ("pipeline.merge_driver.wall_s", "s", "lower", "corpus:op1_cpu_s", DEDUP_OPS),
        ("incremental.lineage_read.wall_s", "s", "lower", "ingest_guard:op1_cpu_s", CORPUS_ALL),
        ("incremental.state_load.wall_s", "s", "lower", "ingest_guard:op1_cpu_s", CORPUS_ALL),
    ]
    for k in SKETCH_KINDS:
        out += [
            (f"sketches.{k}.add_keys_per_s", "1/s", "higher", "corpus:op1_cpu_s", DEDUP_OPS),
            (f"sketches.{k}.merge_s", "s", "lower", "corpus:op1_cpu_s", DEDUP_OPS),
            (f"sketches.{k}.decode_s", "s", "lower", "ingest_guard:op1_cpu_s", DEDUP_OPS),
            (f"sketches.{k}.payload_bytes", "bytes", "lower", "ingest_guard:op1_cpu_s", DEDUP_OPS),
        ]
    out += [
        ("sketches.tbf.contains_keys_per_s", "1/s", "higher", "corpus:op2_cpu_s", DEDUP_OPS),
        ("hashing.hash_pair_keys_per_s", "1/s", "higher", SKETCH_OPS, DEDUP_OPS),
        ("dedup.lsh.candidates", "count", "lower", "corpus:op3_cpu_s", SKETCH_OPS),
        ("dedup.verify.useful_ratio", "ratio", "higher", "corpus:op3_cpu_s", SKETCH_OPS),
        ("dedup.cc.rounds", "count", "lower", "corpus:op3_cpu_s", SKETCH_OPS),
        ("queries.probe.broadcast_bytes", "bytes", "lower", "corpus:op2_cpu_s ingest_guard:op1_cpu_s", DEDUP_OPS),
        ("incremental.checkpoint_bytes", "bytes", "lower", "ingest_guard:op1_cpu_s", CORPUS_ALL),
        ("incremental.ledger_rows", "count", "lower", "ingest_guard:op1_cpu_s", CORPUS_ALL),
        ("trace.overhead_s", "s", "lower", "", ""),
    ]
    return out


LAYERS = _layers()

if __name__ == "__main__":
    print("| metric | unit | better | should move | should stay flat |")
    print("| --- | --- | --- | --- | --- |")
    for name, unit, better, moves, flat in LAYERS:
        print(f"| `{name}` | {unit} | {better} | {moves or '-'} | {flat or '-'} |")
