"""The workloads, extract_text and pipeline_media, and the gate set.

Every workload is a closed loop with one client: one thread submits one Spark
action at a time and the parallelism is Spark's N task threads. A workload
object knows how to

* ``prepare`` its seeded inputs and expected outputs (cached, untimed),
* ``load`` them into a fresh session (part of set-up),
* ``warm_up`` — one untimed pass whose output is checked against the oracle,
* ``timed`` — the measured passes, and
* ``layers`` — the per-layer measurements of a traced run.

Layers are the repository's modules, measured from outside: spans around
calls into their public functions, differences between forced prefixes of a
plan (Spark is lazy), and engine counters from the status store.
"""

from __future__ import annotations

import os
import shutil

from perfbench import inputs
from perfbench.harness import WORK, Ops, Run, force, median

# entry-contract gates over the dedup, curation and similarity operators, so a
# warmed pass fits the run budget (about 4 s at local[4]); see README.md for
# the gates left out and what each cost
GATES = ("dedup_jaccard", "embedding_near_dup", "chunk_dedup", "topk_similar")

STAGES = ("extracted", "questions", "problems", "embeddings")

# split sizes: every corpus file (well under 1 MB) is its own scan split, so
# a workload sets its scan task count by the number of files it writes
SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(1 << 20),
    "spark.sql.files.openCostInBytes": str(1 << 20),
}


def _chain_len() -> int:
    from ocr_spark.functions import textnorm

    return (1 + len(textnorm.MATH_PATTERNS) + len(textnorm.LAYOUT_PATTERNS)
            + len(textnorm.FIGURE_REF_PATTERNS))


def _prefixes(docs) -> list[tuple[str, object]]:
    """Cumulative prefixes of ``extract_docs``: scan → offset sort → NUL
    strip → T4 math → T6 layout → T5 figure tags → the full operator."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.textnorm import (apply_math_patterns, format_layout,
                                              insert_image_tags)
    from ocr_spark.operators.extract import extract_docs

    doc_id = F.col("doc_id")
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1).otherwise(0),
    )
    text_spans = F.filter(ordered, lambda s: s["kind"] != "media")
    steps = [
        ("nul", lambda t: F.regexp_replace(t, r"\x00", "")),
        ("math", apply_math_patterns),
        ("layout", format_layout),
        ("figure", lambda t: insert_image_tags(t, doc_id, sentinel=True)),
    ]
    out = [("scan", docs.select("doc_id", "spans")),
           ("sort", docs.select("doc_id", ordered.alias("spans")))]
    def upto(fns):  # F.transform reads the lambda's arity: one parameter only
        def texts(s):
            t = s["text"]
            for f in fns:
                t = f(t)
            return t
        return texts

    for k, (name, _fn) in enumerate(steps):
        chain = upto([fn for _, fn in steps[:k + 1]])
        out.append((name, docs.select("doc_id", F.transform(text_spans, chain).alias("t"))))
    out.append(("full", extract_docs(docs)))
    return out


def measure_prefixes(docs, tracer, repeats: int) -> dict[str, float]:
    """Median forced time of each prefix, rounds interleaved."""
    plans = _prefixes(docs)
    times: dict[str, list[float]] = {name: [] for name, _ in plans}
    import time

    for _ in range(repeats):
        for name, df in plans:
            with tracer.span(f"prefix.{name}"):
                t0 = time.perf_counter()
                force(df)
                times[name].append(time.perf_counter() - t0)
    return {k: median(v) for k, v in times.items()}


def extract_layers(docs, tracer, engine, repeats: int) -> dict[str, float]:
    """textnorm.* and extract.* self times over ``docs``."""
    from ocr_spark.operators.extract import extract_docs

    t = measure_prefixes(docs, tracer, repeats)
    full = extract_docs(docs)
    plan = full._jdf.queryExecution().optimizedPlan().toString()
    counters: dict = {}
    with engine.group(counters):
        force(full)
    return {
        "extract.scan_s": t["scan"],
        "extract.sort_s": t["sort"] - t["scan"],
        "textnorm.nul_strip_s": t["nul"] - t["sort"],
        "textnorm.math_s": t["math"] - t["nul"],
        "textnorm.layout_s": t["layout"] - t["math"],
        "textnorm.figure_s": t["figure"] - t["layout"],
        "extract.split_promote_s": t["full"] - t["figure"],
        "extract.chain_copies": plan.count("regexp_replace(") / _chain_len(),
        "extract.tasks": counters["max_stage_tasks"],
        "extract.task_skew": counters["task_skew"],
    }


# ---------------------------------------------------------------------------
class ExtractText:
    """``extract_docs`` over the default interleaved corpus, noop sink."""

    name = "extract_text"
    conf = SPLIT_CONF
    shuffle_partitions = 16
    n_docs = 3000

    def prepare(self, seed: int, workers: int) -> dict:
        self.meta = inputs.docs_corpus(seed, self.n_docs, media_pct=0.15,
                                       heavy_pct=0.001, with_oracle=True,
                                       n_files=32, workers=workers)
        return self.meta["digest"]

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.meta["dir"])
        force(self.docs)

    def warm_up(self, ops: Ops) -> None:
        """Three untimed passes; the first also checks every document's span
        sequence against the oracle (a null-safe full outer join on doc_id)."""
        from ocr_spark.operators.extract import extract_docs

        got = extract_docs(self.docs).alias("got")
        want = self.docs.sparkSession.read.parquet(self.meta["expected"]).alias("want")
        bad = ops.run("extract_docs", lambda: got.join(want, "doc_id", "full_outer")
                      .filter(~got["spans"].eqNullSafe(want["spans"])).count())
        if bad is not None:
            ops.check("extract_docs", bad == 0, f"({bad} documents differ from the oracle)")
        # the JIT is still compiling after one pass: two more, noop-sunk
        for _ in range(2):
            ops.run("extract_docs", lambda: force(extract_docs(self.docs)))

    def timed(self, seconds: float, run: Run) -> dict:
        from ocr_spark.operators.extract import extract_docs

        samples: list[float] = []

        def one(_i):
            with run.pass_(samples, "extract.extract_docs"):
                run.ops.run("extract_docs", lambda: force(extract_docs(self.docs)))

        run.loop(one, seconds, min_samples=6)
        pass_s = median(samples)
        return {"samples": samples,
                "report": {"extract_docs_per_s": (self.meta["digest"]["docs"] / pass_s,
                                                  "docs/s", len(samples))}}

    def layers(self, tracer, engine) -> dict[str, float]:
        return extract_layers(self.docs, tracer, engine, repeats=3)


# ---------------------------------------------------------------------------
class GateSet:
    """Dedup / curation / similarity gates of ``__spark_entry__``, noop sink.

    Not a workload of its own (see README.md): a traced ``pipeline_media``
    run measures the gate layers with it, in the same session."""

    def prepare(self, seed: int, workers: int) -> dict:
        self.meta = inputs.gate_tables(seed)
        self.expected = inputs.oracle_digests(self.meta, list(GATES))
        return self.meta["digest"]

    def load(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        for t in ("documents", "embeddings"):
            force(spark.read.parquet(os.path.join(self.meta["dir"], f"{t}.parquet")))

    def warm_up(self, ops: Ops) -> None:
        for g in GATES:
            pdf = ops.run(g, lambda g=g: self.queries[g](self.spark, self.meta["dir"]).toPandas())
            if pdf is None:
                continue
            got, want = inputs.canon_digest(pdf), self.expected[g]
            ops.check(g, got == want,
                      f"({got['rows']} vs {want['rows']} rows, columns {got['columns']})")

    def timed(self, seconds: float, run: Run) -> dict:
        import time

        per_gate: dict[str, list[float]] = {g: [] for g in GATES}
        shuffle: dict[str, list[float]] = {g: [] for g in GATES}
        samples: list[float] = []

        def one(_i):
            with run.pass_(samples, "gates.pass"):
                for g in GATES:
                    c: dict = {}
                    with run.tracer.span(f"gate.{g}"), run.engine.group(c):
                        t0 = time.perf_counter()
                        run.ops.run(g, lambda g=g: force(self.queries[g](self.spark, self.meta["dir"])))
                        per_gate[g].append(time.perf_counter() - t0)
                    shuffle[g].append(c["shuffle_write_bytes"])

        run.loop(one, seconds, min_samples=2)
        self.per_gate = {g: median(v) for g, v in per_gate.items()}
        self.shuffle = {g: median(v) for g, v in shuffle.items()}
        gates_s = sum(self.per_gate.values())
        return {"samples": samples, "report": {"gates_s": (gates_s, "s", len(samples))}}

    def layers(self, tracer, engine) -> dict[str, float]:
        out = {}
        for g in GATES:
            out[f"gate.{g}_s"] = self.per_gate[g]
            out[f"gate.{g}.shuffle_bytes"] = self.shuffle[g]
        return out


# ---------------------------------------------------------------------------
class PipelineMedia:
    """Checkpointed four-stage pipeline, and a crash-and-resume leg.

    The crash-and-resume leg runs first, in the fresh JVM, as the warm-up:
    a job resumed after a crash starts in a new process, so a cold resume is
    what a user waits for. The crash lands in the third of the four stages,
    so the resume skips committed stages, redoes part of one and runs one.
    The timed passes then run the uninterrupted pipeline into a fresh catalog
    each, and the check compares the resumed catalog with the last
    uninterrupted one."""

    name = "pipeline_media"
    conf: dict[str, str] = {}   # default split sizes: catalog reads stay packed
    companion = GateSet         # measured in the same session by a traced run
    shuffle_partitions = 8
    n_docs = 500
    n_partitions = 2        # manifest buckets per stage
    crash_after = 1         # buckets committed before the simulated crash

    def prepare(self, seed: int, workers: int) -> dict:
        # a different seed stream from extract_text's corpus
        self.meta = inputs.docs_corpus(seed + 7_919_000, self.n_docs, media_pct=0.6,
                                       heavy_pct=0.001, with_oracle=False,
                                       n_files=8, workers=workers)
        self.root = os.path.join(WORK, "catalogs")
        shutil.rmtree(self.root, ignore_errors=True)
        self.resumed = os.path.join(self.root, "resumed")
        return self.meta["digest"]

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.meta["dir"])
        force(self.docs)

    def _pipeline(self, path: str, run_id: str, granular: bool = False):
        from ocr_spark.plans.pipeline import run_pipeline_checkpointed
        from ocr_spark.storage import Catalog

        return run_pipeline_checkpointed(Catalog(self.spark, path), self.docs,
                                         n_partitions=self.n_partitions,
                                         run_id=run_id, granular=granular)

    def warm_up(self, ops: Ops) -> None:
        """Simulated crash in the third stage: ``extracted`` and ``questions``
        commit, ``problems`` raises after ``crash_after`` of its buckets; then
        ``run_pipeline_checkpointed(granular=True)`` resumes the run."""
        import time

        from ocr_spark.operators.extract import extract_docs
        from ocr_spark.operators.structure import extract_problems
        from ocr_spark.plans.pipeline import questions_from_extracted
        from ocr_spark.storage import Catalog, run_stage

        def crash():
            cat = Catalog(self.spark, self.resumed)
            kw = {"n_partitions": self.n_partitions, "run_id": "crash"}
            ext = run_stage(cat, "extracted", self.docs, extract_docs, lineage="docs",
                            granular=False, **kw)
            run_stage(cat, "questions", ext, questions_from_extracted, lineage="extracted",
                      granular=False, **kw)
            try:
                run_stage(cat, "problems", ext, extract_problems, lineage="extracted",
                          granular=True, fail_after_partitions=self.crash_after, **kw)
            except RuntimeError:
                return True
            return False

        crashed = ops.run("crash", crash)
        ops.check("crash", crashed is True, "(run_stage did not raise)")
        t0 = time.perf_counter()
        ops.run("resume", lambda: self._pipeline(self.resumed, "resume", granular=True))
        self.resume_s = time.perf_counter() - t0

    def timed(self, seconds: float, run: Run) -> dict:
        samples: list[float] = []

        def one(i):
            shutil.rmtree(self._run_path(i - 1), ignore_errors=True)
            with run.pass_(samples, "pipeline.run"):
                run.ops.run("run_pipeline_checkpointed",
                            lambda: self._pipeline(self._run_path(i), f"run{i}"))
            self.last = self._run_path(i)

        run.loop(one, seconds, min_samples=2)
        self.jobs = [p["jobs"] for p in run.passes]
        amp = inputs.dir_bytes(self.last) / self.meta["bytes"]
        return {"samples": samples,
                "report": {"pipeline_s": (median(samples), "s", len(samples)),
                           "resume_s": (self.resume_s, "s", 1),
                           "storage_amplification": (amp, "ratio", 1)}}

    def _run_path(self, i: int) -> str:
        return os.path.join(self.root, f"run{i}")

    def check(self, ops: Ops) -> None:
        """Resumed tables equal the uninterrupted ones; every manifest row
        has rows_in == rows_out and every bucket of every stage committed."""
        from pyspark.sql import functions as F

        for stage in STAGES:
            rows = []
            for root in (self.last, self.resumed):
                df = self.spark.read.parquet(os.path.join(root, stage)).drop("__pid")
                rows.append(sorted(r[0] for r in df.select(
                    F.to_json(F.struct(*sorted(df.columns)))).collect()))
            ops.check(f"resume[{stage}]", rows[0] == rows[1],
                      f"({len(rows[0])} vs {len(rows[1])} rows)")
        for root in (self.last, self.resumed):
            m = self.spark.read.parquet(os.path.join(root, "__manifest__"))
            done = m.filter(F.col("status") == "completed")
            bad = done.filter(F.col("rows_in") != F.col("rows_out")).count()
            parts = done.select("stage", "partition_id").distinct().count()
            ops.check(f"manifest[{os.path.basename(root)}]",
                      bad == 0 and parts == len(STAGES) * self.n_partitions,
                      f"({bad} rows_in != rows_out, {parts} buckets)")

    def layers(self, tracer, engine) -> dict[str, float]:
        import time

        from ocr_spark.operators.extract import render_markdown
        from ocr_spark.operators.structure import extract_problems
        from ocr_spark.plans.pipeline import embeddings_from_extracted

        out = extract_layers(self.docs, tracer, engine, repeats=2)
        ext = self.spark.read.parquet(os.path.join(self.last, "extracted")).drop("__pid")
        n_rows = ext.count()
        t: dict[str, list[float]] = {k: [] for k in ("read", "problems", "render", "embed")}
        shuffle: list[float] = []
        for _ in range(2):
            for name, df in (("read", ext), ("problems", extract_problems(ext)),
                             ("render", render_markdown(ext)),
                             ("embed", embeddings_from_extracted(ext))):
                c: dict = {}
                with tracer.span(f"prefix.{name}"), engine.group(c):
                    t0 = time.perf_counter()
                    force(df)
                    t[name].append(time.perf_counter() - t0)
                if name == "problems":
                    shuffle.append(c["shuffle_write_bytes"])
        m = {k: median(v) for k, v in t.items()}
        out["structure.problems_s"] = m["problems"] - m["read"]
        out["structure.shuffle_bytes"] = median(shuffle)
        out["embed.udf_s"] = m["embed"] - m["render"]
        out["embed.rows_per_s"] = n_rows / m["embed"]

        runs = [s for s in tracer.spans if s["name"] == "pipeline.run"
                and any(k["parent"] == s["id"] for k in tracer.spans)]
        for stage in STAGES:
            out[f"storage.stage_s.{stage}"] = median(
                [sum(s["end"] - s["start"] for s in tracer.spans
                     if s["parent"] == r["id"] and s["name"] == f"storage.stage.{stage}")
                 for r in runs])
        stage_ids = {r["id"]: [s["id"] for s in tracer.spans if s["parent"] == r["id"]]
                     for r in runs}
        out["storage.manifest_s"] = median(
            [sum(s["end"] - s["start"] for s in tracer.spans
                 if s["name"] == "storage.manifest" and s["parent"] in kids)
             for kids in stage_ids.values()])
        out["storage.bytes_written"] = float(inputs.dir_bytes(self.last))
        out["storage.amplification"] = out["storage.bytes_written"] / self.meta["bytes"]
        out["storage.spark_jobs"] = median(self.jobs)
        out["storage.resume_s"] = self.resume_s
        out["storage.resume_redo_ratio"] = self._redo_ratio()
        return out

    def _redo_ratio(self) -> float:
        """Rows recomputed by the resume ÷ rows not committed at the crash."""
        from pyspark.sql import functions as F

        def rows_in(root, run_id=None):
            m = self.spark.read.parquet(os.path.join(root, "__manifest__"))
            if run_id is not None:
                m = m.filter(F.col("run_id") == run_id)
            return m.agg(F.sum("rows_in")).first()[0] or 0

        pending = rows_in(self.last) - rows_in(self.resumed, "crash")
        return rows_in(self.resumed, "resume") / pending

    def patch_targets(self):
        import ocr_spark.plans.pipeline as pipeline
        from ocr_spark.storage import Catalog

        return [(pipeline, "run_stage", "storage.stage.{0}"),
                (Catalog, "completed_partitions", "storage.manifest"),
                (Catalog, "append_manifest", "storage.manifest")]


# ---------------------------------------------------------------------------
WORKLOADS = {w.name: w for w in (ExtractText, PipelineMedia)}
