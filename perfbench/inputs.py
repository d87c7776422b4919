"""Seeded inputs and their expected outputs, cached per input key.

Everything here runs before the first Spark session of a run, so generation
and oracle time never count toward a metric. The same key always yields the
same bytes; ``digest`` fingerprints what a run actually read, so a parent run
and a change run can be shown to have used identical inputs.

* ``docs_corpus`` — the interleaved ``docs`` table of ``ocr_spark.corpus``.
  Ordinary documents come from the generator as is (``heavy_pct=0``); the
  0.1% heavy tail is drawn from the same generator with ``heavy_pct=1``,
  one document per stratum of the 5k–20k span range at the stratum's
  midpoint size. Seeds then differ in content but not in how many heavy
  documents, or how many spans in them, a run processes: a single heavy
  document is one task, and its size alone would otherwise swing a pass by
  more than the regression bound from one seed to the next.
  The expected ``extract_docs`` output comes from ``tests/oracle.py``.
* ``gate_tables`` — ``documents`` and ``embeddings`` tables in the shape of
  the repository's sf0.01 test data, with planted near-duplicates.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil

from perfbench.harness import WORK


def stop_resource_tracker() -> None:
    """Stop and reap the helper process a "spawn" pool starts. Left alone it
    outlives the run by a moment after the interpreter exits."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


# ---------------------------------------------------------------------------
# docs corpus (+ extract oracle)
# ---------------------------------------------------------------------------
def _doc_indices(n_docs: int, heavy_pct: float) -> tuple[int, int]:
    n_heavy = max(1, round(n_docs * heavy_pct)) if heavy_pct > 0 else 0
    return n_docs - n_heavy, n_heavy


def _heavy_index(seed: int, n_regular: int, j: int, n_heavy: int) -> int:
    """Index of heavy document ``j``: the first index past the ordinary ones
    whose span count lies within 0.5% of the midpoint of stratum ``j`` of the
    generator's 5k–20k heavy range.

    Candidates are screened by replaying the generator's first two draws
    (heavy coin, then span count) and confirmed by generating the document,
    so a generator change can never slip a wrong size through silently."""
    import numpy as np

    from ocr_spark.corpus import _gen_doc

    target = 5_000 + 15_000 * (j + 0.5) / n_heavy
    lo, hi = target * 0.995, target * 1.005
    idx = n_regular + j * 1_000_000
    for _ in range(200_000):
        rng = np.random.RandomState((seed * 1_000_003 + idx) % (2**31 - 1))
        rng.rand()
        if lo <= rng.randint(5_000, 20_001) <= hi and lo <= len(_gen_doc(seed, idx, 0.0, 1.0)[1]) <= hi:
            return idx
        idx += 1
    raise RuntimeError(f"no heavy document near {target:.0f} spans for seed {seed}")


def _gen_chunk(task: tuple) -> list[tuple]:
    """Worker: generate one chunk of documents (and their oracle output)."""
    from ocr_spark.corpus import _gen_doc

    seed, kind, lo, hi, media_pct, n_regular, n_heavy, with_oracle = task
    if with_oracle:
        from tests.oracle import extract_doc
    rows = []
    if kind == "regular":
        idxs = range(lo, hi)
        picked = [(i, _gen_doc(seed, i, media_pct, 0.0)) for i in idxs]
    else:
        picked = [(idx, _gen_doc(seed, idx, media_pct, 1.0))
                  for idx in (_heavy_index(seed, n_regular, j, n_heavy) for j in range(lo, hi))]
    for idx, (doc_id, spans) in picked:
        span_dicts = [{"kind": k, "text": t, "media_ref": m, "offset": o}
                      for k, t, m, o in spans]
        expected = extract_doc(doc_id, span_dicts) if with_oracle else None
        rows.append((idx, doc_id, span_dicts, expected))
    return rows


def _arrow_docs_schema():
    import pyarrow as pa

    span = pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])
    return pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.field("element", span, nullable=False)), nullable=False),
    ])


def _key(parts: dict) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]


def docs_corpus(seed: int, n_docs: int, media_pct: float, heavy_pct: float,
                with_oracle: bool, n_files: int, workers: int) -> dict:
    """Generate (or reuse) a corpus. Returns ``{"dir", "expected", "digest",
    "bytes"}``.

    ``dir`` holds ``n_files`` parquet files, one scan split each, with the
    documents dealt round-robin so heavy documents land in different splits.
    Paths are rebuilt from the cache location on every call, so a cache
    never points outside the checkout it lives in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.corpus import CORPUS_VERSION

    parts = {"corpus": CORPUS_VERSION, "seed": seed, "n_docs": n_docs,
             "media_pct": media_pct, "heavy_pct": heavy_pct,
             "heavy": "stratum-midpoints", "oracle": with_oracle, "files": n_files}
    base = os.path.join(WORK, "inputs", "docs-" + _key(parts))
    paths = {"dir": os.path.join(base, "docs"),
             "expected": os.path.join(base, "expected.parquet") if with_oracle else None}
    meta_path = os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), **paths}

    n_regular, n_heavy = _doc_indices(n_docs, heavy_pct)
    step = max(1, n_regular // (workers * 4))
    tasks = [(seed, "regular", lo, min(lo + step, n_regular), media_pct,
              n_regular, n_heavy, with_oracle) for lo in range(0, n_regular, step)]
    tasks += [(seed, "heavy", j, j + 1, media_pct, n_regular, n_heavy, with_oracle)
              for j in range(n_heavy)]
    ctx = multiprocessing.get_context("spawn")
    try:
        with ctx.Pool(workers) as pool:
            chunks = pool.map(_gen_chunk, tasks)
            pool.close()
            pool.join()
    finally:
        stop_resource_tracker()
    rows = sorted((r for c in chunks for r in c), key=lambda r: r[0])

    tmp = base + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "docs"))
    schema = _arrow_docs_schema()
    h = hashlib.sha256()
    n_spans = n_chars = 0
    for f in range(n_files):
        mine = rows[f::n_files]
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": s} for _, d, s, _ in mine], schema=schema)
        pq.write_table(table, os.path.join(tmp, "docs", f"part-{f:05d}.parquet"))
    for _, doc_id, spans, _ in rows:
        h.update(doc_id.encode())
        for s in spans:
            h.update(json.dumps([s["kind"], s["text"], s["media_ref"], s["offset"]],
                                ensure_ascii=False).encode())
            n_spans += 1
            n_chars += len(s["text"] or "")
    if with_oracle:
        pq.write_table(
            pa.Table.from_pylist([{"doc_id": d, "spans": e} for _, d, _, e in rows],
                                 schema=schema),
            os.path.join(tmp, "expected.parquet"))
    meta = {
        "digest": {"docs": len(rows), "heavy_docs": n_heavy, "spans": n_spans,
                   "chars": n_chars, "sha256": h.hexdigest()[:16]},
        "bytes": dir_bytes(os.path.join(tmp, "docs")),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return {**meta, **paths}


# ---------------------------------------------------------------------------
# gate tables (+ DuckDB oracle results)
# ---------------------------------------------------------------------------
_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def gate_tables(seed: int, n_docs: int = 500, n_vecs: int = 500, dim: int = 64) -> dict:
    """``documents`` and ``embeddings`` parquet files for the gates.

    Documents hold 10–100 words drawn from a 30-word vocabulary; about 5%
    are an earlier document's text plus `` dup`` (the near-duplicates the
    dedup gates must find) and a few are exact copies. Embeddings are unit
    vectors with one of ten labels."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = {"gates": "v1", "seed": seed, "n_docs": n_docs, "n_vecs": n_vecs, "dim": dim}
    base = os.path.join(WORK, "inputs", "gates-" + _key(parts))
    meta_path = os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), "dir": base}

    rng = np.random.RandomState(seed % (2**31 - 1))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup")
        elif i > 10 and r < 0.055:
            texts.append(texts[rng.randint(0, i)])
        else:
            n = rng.randint(10, 101)
            texts.append(" ".join(_VOCAB[j] for j in rng.randint(0, len(_VOCAB), n)))
    langs = rng.choice(len(_LANGS), n_docs, p=_LANG_P)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_vecs).astype(np.int32)),
    })
    tmp = base + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))
    h = hashlib.sha256()
    for name in ("documents.parquet", "embeddings.parquet"):
        with open(os.path.join(tmp, name), "rb") as f:
            h.update(f.read())
    meta = {"digest": {"docs": n_docs, "vectors": n_vecs,
                       "chars": int(sum(len(t) for t in texts)),
                       "sha256": h.hexdigest()[:16]}}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return {**meta, "dir": base}


def canon_digest(pdf) -> dict:
    """Row count, sorted column names and a hash of the parity canon."""
    from tests.parity_util import canon

    rows = canon(pdf)
    return {"rows": len(rows), "columns": sorted(pdf.columns),
            "sha256": hashlib.sha256(repr(rows).encode()).hexdigest()}


def oracle_digests(meta: dict, names: list[str]) -> dict[str, dict]:
    """DuckDB ``oracle_sql()`` result of each gate, as a canon digest, cached
    on the SQL text and the input files."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            key = _key({"sql": sql[name], "inputs": meta["digest"]["sha256"]})
            path = os.path.join(cache_dir, f"{name}-{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)
                continue
            if con is None:
                con = duckdb.connect()
                for t in ("documents", "embeddings"):
                    con.execute(f"create view {t} as select * from "
                                f"read_parquet('{meta['dir']}/{t}.parquet')")
            out[name] = canon_digest(con.execute(sql[name]).df())
            with open(path + ".partial", "w") as f:
                json.dump(out[name], f)
            os.rename(path + ".partial", path)
    finally:
        if con is not None:
            con.close()
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
