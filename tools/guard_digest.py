"""Print a digest of every artifact the benchmark's four-family
StreamingIngestGuard leaves, so two checkouts can be compared by a
plain ``diff`` of their outputs.

For each seed, the guard of ``perfbench.workloads._guard`` ingests
``perfbench.inputs.guard_shards(2, 400, seed, 2)`` (epochs 0 and 1), then
``perfbench.workloads.maintain`` compacts and expires with a disabled
Tracer. After each of those three steps it prints one sorted JSON line
per artifact:

- each family's ``sketch_state`` rows (spec, group, payload sha256,
  n_items, shard) and its lineage metas, in full;
- each ledger's and the clean output's schema, row count and the sha256
  of their sorted rows;
- after maintenance, the expiry report.

Usage (the repo is this tool's own unless ``--repo`` names another
checkout, e.g. a ``git archive`` of a parent commit)::

    python tools/guard_digest.py --workdir /tmp/digest [--seeds 5 11 21]
        [--spark-path] [--repo PATH] > digest.jsonl

``--spark-path`` forces every trigger onto the guard's Spark path
(``_LOCAL_TRIGGER_ROWS`` = 0). Every file the run writes goes under
``--workdir``, which must lie outside the repo.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHARDS, DOCS, WINDOW = 2, 400, 2


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workdir", required=True)
    p.add_argument("--seeds", type=int, nargs="+", default=[5, 11, 21])
    p.add_argument("--spark-path", action="store_true")
    p.add_argument("--repo", default=REPO)
    return p.parse_args(argv)


def _value(v):
    """A JSON-able, exact form of one Arrow value."""
    if isinstance(v, bytes):
        return hashlib.sha256(v).hexdigest()
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, list):
        return [_value(x) for x in v]
    return v


def _rows(tbl) -> list[str]:
    return sorted(
        json.dumps([_value(v) for v in row.values()]) for row in tbl.to_pylist()
    )


def _datasets(root: str):
    """(relative path, dir) of every parquet directory under ``root``,
    skipping the '_'- and '.'-prefixed names every parquet reader skips
    (a clean ``_epoch=N`` partition is listed on its own)."""
    for d, subdirs, files in os.walk(root):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith(".")
                            and (s.startswith("_epoch=") or not s.startswith("_")))
        if any(f.endswith(".parquet") and not f.startswith(("_", ".")) for f in files):
            yield os.path.relpath(d, root), d


def _digest(root: str) -> list[dict]:
    import pyarrow.dataset as ds

    out = []
    for rel, d in _datasets(root):
        tbl = ds.dataset(d, format="parquet").to_table()
        leaf = os.path.basename(rel)
        if leaf == "sketch_state":
            out.append({"artifact": rel, "rows": sorted(
                [r["spec"], r["group"], _value(r["payload"]), r["n_items"], r["shard"]]
                for r in tbl.to_pylist()
            )})
        elif leaf == "lineage":
            out.append({"artifact": rel, "metas": sorted(
                json.dumps(json.loads(m), sort_keys=True)
                for m in tbl.column("meta").to_pylist()
            )})
        else:
            rows = _rows(tbl)
            out.append({
                "artifact": rel, "schema": str(tbl.schema.remove_metadata()),
                "n_rows": len(rows),
                "rows_sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
            })
    return out


def main(argv=None) -> int:
    args = _args(argv)
    repo, work = os.path.abspath(args.repo), os.path.abspath(args.workdir)
    if os.path.commonpath([work, repo]) == repo:
        print("guard_digest: --workdir must lie outside the repo", file=sys.stderr)
        return 2
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, repo)

    from perfbench import host, inputs, workloads
    from perfbench.spans import Tracer

    from fuggetabouspark import dataops
    from fuggetabouspark.dataops import incremental

    if args.spark_path:
        incremental._LOCAL_TRIGGER_ROWS = 0
    reports = []
    expire = dataops.expire_ledgers

    def recorded_expire(*a, **kw):
        reports.append(expire(*a, **kw))
        return reports[-1]

    dataops.expire_ledgers = recorded_expire
    spark = host.start_spark(min(4, len(os.sched_getaffinity(0))))
    try:
        for seed in args.seeds:
            root = os.path.join(work, f"seed{seed}")
            shutil.rmtree(root, ignore_errors=True)
            tables, _ = inputs.guard_shards(SHARDS, DOCS, seed, WINDOW)
            paths = [inputs.write_table(t, os.path.join(root, f"shard{e}.parquet"))
                     for e, t in enumerate(tables)]
            guard = workloads._guard(spark, os.path.join(root, "guard"), 4)

            def emit(step, extra=()):
                for rec in [*_digest(guard.checkpoint_dir), *[
                    {**r, "artifact": "clean/" + r["artifact"]}
                    for r in _digest(guard.clean_dir)
                ], *extra]:
                    print(json.dumps({"seed": seed, "step": step, **rec}, sort_keys=True))

            for e, path in enumerate(paths):
                guard.process_batch(spark.read.parquet(path), e)
                emit(f"trigger {e}")
            workloads.maintain(spark, guard, SHARDS - 1, Tracer(spark, "digest", False))
            emit("maintain", [{"artifact": "expiry report",
                               "report": dict(sorted(reports[-1].items()))}])
    finally:
        host.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
