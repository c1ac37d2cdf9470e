"""Seeded inputs for the two workloads, and the expected outputs computed
from those inputs without the library (pyarrow, DuckDB and plain numpy).

Every generator is a pure function of the workload seed.  The corpus rows
come from ``fuggetabouspark.fixtures.make_rows`` (FIXTURES.md section 1);
everything planted on top of them (clones, boilerplate, guard shards) is
drawn from ``numpy.random.default_rng`` seeded from the same seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
     ("n_tok", pa.int32()), ("source", pa.string())]
)
ROW_GROUP = 512  # small row groups let Spark split these few-MB inputs across cores
BOILERPLATE = [[f"bp{k}w{i}" for i in range(60)] for k in range(4)]


def corpus_table(docs: int, seed: int) -> pa.Table:
    from fuggetabouspark.fixtures import make_rows

    return pa.Table.from_pandas(make_rows(0, docs, seed), schema=CORPUS_SCHEMA, preserve_index=False)


def digest(table: pa.Table) -> str:
    """Content digest of a table, to show that a seed regenerates it exactly."""
    h = hashlib.blake2b(digest_size=16)
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def write_partitioned(table: pa.Table, path: str) -> str:
    """Parquet partitioned by source, the Iceberg-shaped layout of FIXTURES.md."""
    pq.write_to_dataset(table, path, partition_cols=["source"], max_rows_per_group=ROW_GROUP)
    return path


# ------------------------------------------------------- corpus: sketches


def sketch_expectations(path: str, probe_keys: np.ndarray) -> dict:
    """Exact per-source facts of the corpus at ``path``, from DuckDB."""
    import duckdb

    con = duckdb.connect()
    src = f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    total = con.execute(f"SELECT SUM(n_tok) FROM {src}").fetchone()[0]
    counts = con.execute(
        f"SELECT source, t, COUNT(*) FROM (SELECT source, UNNEST(tokens) AS t FROM {src}) "
        "GROUP BY source, t"
    ).fetchnumpy()
    con.close()
    per_source = {}
    for s in np.unique(counts["source"]):
        sel = counts["source"] == s
        keys = counts["t"][sel].astype(np.int64)
        order = np.argsort(keys)
        per_source[str(s)] = (keys[order], counts["count_star()"][sel][order].astype(np.int64))
    present = {
        g: int(np.isin(probe_keys, keys).sum()) for g, (keys, _) in per_source.items()
    }
    return {"total_tokens": int(total), "per_source": per_source, "probe_present": present}


def probe_keys(n: int, seed: int, vocab: int) -> np.ndarray:
    """Half in-vocabulary keys, half keys that no document holds."""
    rng = np.random.default_rng([seed, 1])
    inside = rng.integers(0, vocab, n // 2)
    outside = 2_000_000_000 + rng.integers(0, 10**8, n - n // 2)
    keys = np.concatenate([inside, outside]).astype(np.int64)
    rng.shuffle(keys)
    return keys


# ------------------------------------------------------- corpus: near-dup


def near_dup_tables(docs: int, seed: int) -> tuple[pa.Table, pa.Table, list[tuple[str, str]]]:
    """(token corpus, text corpus, planted clone pairs).

    5% of docs get an exact clone (a new doc id with the same tokens); a
    disjoint 5% get one of four 60-word boilerplate paragraphs appended to
    their text.  The text corpus renders tokens as space-separated words.
    """
    base = corpus_table(docs, seed)
    rng = np.random.default_rng([seed, 2])
    picks = rng.permutation(docs)
    n_plant = docs // 20
    cloned, boiler = np.sort(picks[:n_plant]), np.sort(picks[n_plant:2 * n_plant])
    ids = base.column("doc_id").to_pylist()
    clones = base.take(pa.array(cloned)).set_column(
        0, "doc_id", pa.array([ids[i] + "_clone" for i in cloned], pa.string())
    )
    tokens = pa.concat_tables([base, clones])
    pairs = sorted((ids[i], ids[i] + "_clone") for i in cloned)

    para_of = dict(zip(boiler.tolist(), rng.integers(0, len(BOILERPLATE), boiler.size).tolist()))
    toks = tokens.column("tokens").to_pylist()
    texts = []
    for i, t in enumerate(toks):
        words = " ".join(map(str, t))
        if i in para_of:
            words += " " + " ".join(BOILERPLATE[para_of[i]])
        texts.append(words)
    text = pa.table({"doc_id": tokens.column("doc_id"), "text": pa.array(texts, pa.string())})
    return tokens, text, pairs


def _word_ids(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    vocab: dict[str, int] = {}
    flat, lens = [], []
    for t in texts:
        w = t.split(" ")
        lens.append(len(w))
        flat.extend(vocab.setdefault(x, len(vocab)) for x in w)
    return np.array(flat, np.uint64), np.array(lens, np.int64)


def mask_expected_removed(text: pa.Table, window: int = 50, min_docs: int = 2) -> int:
    """Tokens removed by drop-all-but-one masking of repeated passages.

    A window of ``window`` consecutive words is repeated when at least
    ``min_docs`` docs hold it.  Its keeper is the first occurrence in the
    doc with the smallest doc_id; every other occurrence's span is removed,
    and overlapping spans count once.  Windows are keyed by a 128-bit
    polynomial hash of their word ids.
    """
    ids = text.column("doc_id").to_pylist()
    flat, lens = _word_ids(text.column("text").to_pylist())
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    nwin = np.maximum(lens - window + 1, 0)
    doc = np.repeat(np.arange(len(ids)), nwin)
    pos = np.arange(nwin.sum()) - np.repeat(np.cumsum(nwin) - nwin, nwin)
    gpos = np.repeat(starts, nwin) + pos
    keys = []
    for base in (np.uint64(1_000_003), np.uint64(0x9E3779B97F4A7C15)):
        h = np.zeros(gpos.size, np.uint64)
        with np.errstate(over="ignore"):
            for j in range(window):
                h = h * base + flat[gpos + j] + np.uint64(1)
        keys.append(h)
    rank = np.empty(len(ids), np.int64)
    rank[np.argsort(np.array(ids, dtype=object), kind="stable")] = np.arange(len(ids))
    order = np.lexsort((pos, rank[doc], keys[1], keys[0]))
    k0, k1, d = keys[0][order], keys[1][order], doc[order]
    new_key = np.ones(order.size, bool)
    new_key[1:] = (k0[1:] != k0[:-1]) | (k1[1:] != k1[:-1])
    group = np.cumsum(new_key) - 1
    new_doc = new_key.copy()
    new_doc[1:] |= d[1:] != d[:-1]
    ndocs = np.bincount(group, weights=new_doc)
    drop = (ndocs[group] >= min_docs) & ~new_key
    cover = np.zeros(flat.size + 1, np.int64)
    np.add.at(cover, gpos[order][drop], 1)
    np.add.at(cover, gpos[order][drop] + window, -1)
    return int((np.cumsum(cover)[:-1] > 0).sum())


# ------------------------------------------------------------------ ingest_guard

GUARD_WORDS = 60      # longer than the guard's 50-word passage window
GUARD_DIM = 32        # embedding width; random 32-d vectors are never near-parallel
PARAGRAPH_WORDS = 60


def guard_shards(shards: int, docs: int, seed: int, window: int) -> tuple[list[pa.Table], dict]:
    """A fixed sequence of text + embedding shards and what each plants.

    Shard s is ingested at tick s + 1 and holds ``docs`` docs of 60 random
    words and a random 32-d vector.  Plants, each on its own docs:

    - from s >= 1: exact clones (text and vector) of plain docs of shard
      s-1, near clones (last word changed, new vector) and re-uploaded
      vectors (new text, the vector of a plain doc of shard s-1).  All
      three are history dups inside the ``window``-tick window.
    - in every shard: intra dups (the text of another doc of the same
      shard whose doc id is smaller as a string) and boilerplate docs (one
      of three 60-word paragraphs appended).  A boilerplate doc loses its
      paragraph (60 tokens) when the paragraph's last unmasked publication
      is inside the window.

    Plain docs are the ones no plant touched.  ``plants`` holds per shard
    the counts, the doc ids that must be dropped (by kind), and the passage
    tokens the guard must remove.
    """
    rng = np.random.default_rng([seed, 3])
    sizes = {"hist": docs // 10, "near": docs // 20, "vec": docs // 20, "intra": docs // 40,
             "boiler": docs // 20}
    paras = [" ".join(f"p{k}w{i}" for i in range(PARAGRAPH_WORDS)) for k in range(3)]
    last_pub: dict[int, int] = {}
    keys = ("hist", "near", "vec", "intra", "dropped", "removed")
    tables, plants = [], {k: [] for k in keys}
    texts: list[list[str]] = []
    embs: list[np.ndarray] = []
    plain: list[np.ndarray] = []
    for s in range(shards):
        words = rng.integers(0, 10**6, (docs, GUARD_WORDS))
        text = [" ".join(f"g{w}" for w in row) for row in words]
        emb = rng.standard_normal((docs, GUARD_DIM)).astype(np.float32)
        order = iter(np.split(rng.permutation(docs), np.cumsum(list(sizes.values()) + [sizes["intra"]])))
        pick = {k: next(order) for k in sizes}
        intra_src = next(order)
        plain_now = next(order)
        if s == 0:
            for k in ("hist", "near", "vec"):
                plain_now = np.concatenate([plain_now, pick[k]])
                pick[k] = pick[k][:0]
        else:
            n_h, n_n, n_v = (pick[k].size for k in ("hist", "near", "vec"))
            src = rng.choice(plain[s - 1], n_h + n_n + n_v, replace=False)
            for i, j in zip(pick["hist"], src[:n_h]):
                text[i], emb[i] = texts[s - 1][j], embs[s - 1][j]
            for i, j in zip(pick["near"], src[n_h:n_h + n_n]):
                text[i] = texts[s - 1][j].rsplit(" ", 1)[0] + f" n{s}x{i}"
            for i, j in zip(pick["vec"], src[n_h + n_n:]):
                emb[i] = embs[s - 1][j]
        # the guard keeps the copy whose doc id is smaller as a string
        ids = s * docs
        intra_dups = []
        for a, b in zip(pick["intra"], intra_src):
            keep, dup = sorted((a, b), key=lambda i: str(ids + i))
            text[dup] = text[keep]
            intra_dups.append(dup)
        intra_dups = np.array(intra_dups, np.int64)
        para_of = rng.integers(0, len(paras), pick["boiler"].size)
        for i, k in zip(pick["boiler"], para_of):
            text[i] += " " + paras[k]
        removed = 0
        for k in np.unique(para_of).tolist():
            if k in last_pub and s + 1 - last_pub[k] < window:
                removed += PARAGRAPH_WORDS * int((para_of == k).sum())
            else:
                last_pub[k] = s + 1
        texts.append(text)
        embs.append(emb)
        plain.append(plain_now)
        plants["hist"].append(int(pick["hist"].size))
        plants["near"].append(int(pick["near"].size))
        plants["vec"].append(int(pick["vec"].size))
        plants["intra"].append(int(intra_dups.size))
        plants["dropped"].append({
            "exact clone": (ids + pick["hist"]).tolist(), "near clone": (ids + pick["near"]).tolist(),
            "re-uploaded vector": (ids + pick["vec"]).tolist(), "intra dup": (ids + intra_dups).tolist(),
        })
        plants["removed"].append(removed)
        tables.append(pa.table({
            "doc_id": pa.array(np.arange(ids, ids + docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel(), pa.float32()), GUARD_DIM)
            .cast(pa.list_(pa.float32())),
        }))
    return tables, plants


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return path
