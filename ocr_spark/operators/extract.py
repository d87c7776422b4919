"""Core extraction pipeline: docs(spans) → extracted(spans) (M1).

Re-creates the reference's per-page transform chain
(/root/reference/src/ocr_to_markdown.py:373-420: math patterns → figure tags
→ layout) over the interleaved span model.

Scale design
------------
The primary implementation (:func:`extract_docs`) uses ONLY higher-order
array functions (``transform`` / ``filter`` / ``flatten``) on the ``spans``
column: a narrow, shuffle-free, Python-free projection that whole-stage
codegen fuses into the scan. A 20k-span skew doc is just a big cell — no
hot partition, no salting needed on this path.

The normalization chain (NUL strip → T4 → T6 → T5, 24 ``regexp_replace``)
runs ONCE per text span on both paths. Splitting and promoting reads the
split result three times, and Catalyst does no common-subexpression
elimination inside lambda bodies, so a split referenced from the per-span
lambda would be re-inlined at each use (three plan copies, the chain run
twice per span). :func:`_split_span` binds it as a higher-order-function
argument instead, which Spark evaluates once.

The salted exploded variant (:func:`extract_docs_salted`) exists for
pipelines that must shuffle per-span (north_rule names salted repartitioning
explicitly): it explodes spans with a salt bucket, processes
``(doc_id, salt)`` groups, then reassembles per doc with an order-exact
two-level sort. Tests assert both paths produce identical span sequences.

Span semantics
--------------
* non-media spans: text := layout(math(text)); figure refs ``[図N] [表N]
  [Fig.N] [TableN]`` are rewritten to markdown image tags and PROMOTED to
  ``media`` spans in place (document order preserved, offsets re-densified).
* media spans pass through unchanged.
* per-row invariant: span-sequence equality (kind, text, media_ref, order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.textnorm import (
    _IMG_SENTINEL,
    apply_math_patterns,
    format_layout,
    insert_image_tags,
)

_IMG_TAG_RE = r"^!\[図(\d+)\]\((.+)\)$"


def _normalized_text(span_text: Column, doc_id: Column, image_base_path: str) -> Column:
    """math rewrite → layout format → sentinel-wrapped image tags.

    Literal NULs are stripped from the content FIRST: the image-tag pass
    frames its insertions with an in-band ``\\x00`` sentinel, so a content
    NUL (guaranteed to occur somewhere in a 10^12-doc web corpus) would
    forge the framing and split a text span mid-word — the same
    content-vs-framing collision class as a WET payload containing
    'WARC/1.0'. NUL carries no text semantics, so stripping is lossless."""
    out = apply_math_patterns(F.regexp_replace(span_text, r"\x00", ""))
    out = format_layout(out)
    out = insert_image_tags(out, doc_id, image_base_path=image_base_path, sentinel=True)
    return out


def _promote_parts(parts: Column, span: Column) -> Column:
    """Split parts of one span → spans: image tags become media spans."""
    # keep empty parts only when the span produced a single (possibly empty) part
    kept = F.when(F.size(parts) == 1, parts).otherwise(
        F.filter(parts, lambda p: p != "")
    )
    return F.transform(
        kept,
        lambda p: F.when(
            p.rlike(_IMG_TAG_RE),
            F.struct(
                F.lit("media").alias("kind"),
                p.alias("text"),
                F.regexp_extract(p, _IMG_TAG_RE, 2).alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
        ).otherwise(
            F.struct(
                span["kind"].alias("kind"),
                p.alias("text"),
                span["media_ref"].alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ),
    )


def _split_span(span: Column, doc_id: Column, image_base_path: str) -> Column:
    """One span → array of spans (media promoted, offsets filled later).

    ``_promote_parts`` reads the split three times, so the split is bound as
    the argument of a one-element ``transform`` (evaluated once) rather than
    referenced from a lambda body (re-inlined at each use); see "Scale
    design". ``transform(array(x), f)[1] == f(x)``."""
    new_text = _normalized_text(span["text"], doc_id, image_base_path)
    return F.element_at(
        F.transform(
            F.array(F.split(new_text, _IMG_SENTINEL)),
            lambda parts: _promote_parts(parts, span),
        ),
        1,
    )


def extract_docs(docs: DataFrame, image_base_path: str = "images") -> DataFrame:
    """docs(doc_id, spans) → extracted(doc_id, spans). Narrow, shuffle-free.

    The input spans are first re-sorted by ``offset`` (the invariant's order
    key) so correctness never depends on upstream array order.
    """
    doc_id = F.col("doc_id")
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    nested = F.transform(
        ordered,
        lambda s: F.when(s["kind"] == "media", F.array(s)).otherwise(
            _split_span(s, doc_id, image_base_path)
        ),
    )
    flat = F.flatten(nested)
    redense = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select("doc_id", redense.alias("spans"))


def extract_docs_salted(
    docs: DataFrame, image_base_path: str = "images", salt_buckets: int = 16,
    chunk: int = 256,
) -> DataFrame:
    """Skew-safe exploded variant: explode → salted per-chunk processing →
    order-exact reassembly (north_rule's salted-repartitioning path).

    Spans are bucketed by ``floor(offset / chunk)`` so a 20k-span doc spreads
    over ~80 tasks; reassembly is a two-level sort: ``sort_array`` inside each
    chunk, then chunks ordered by chunk id, then ``flatten`` — giving exactly
    the global ``offset`` order without a single-task global sort per doc.
    """
    ex = docs.select("doc_id", F.explode("spans").alias("s"))
    ex = ex.withColumn("chunk_id", (F.col("s.offset") / F.lit(chunk)).cast("long"))
    # salt only distributes rows of one doc across reducers; key stays exact
    ex = ex.repartition(F.col("doc_id"), F.pmod(F.xxhash64("doc_id", "chunk_id"), F.lit(salt_buckets)))

    doc_id = F.col("doc_id")
    processed = ex.select(
        "doc_id",
        "chunk_id",
        F.when(F.col("s.kind") == "media", F.array(F.col("s"))).otherwise(
            _split_span(F.col("s"), doc_id, image_base_path)
        ).alias("parts"),
        F.col("s.offset").alias("orig_offset"),
    )
    # level 1: per (doc, chunk) — order parts by original offset
    chunks = processed.groupBy("doc_id", "chunk_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("orig_offset", "parts"))),
                lambda x: x["parts"],
            )
        ).alias("chunk_spans")
    )
    # level 2: per doc — order chunks by chunk_id, flatten, re-densify offsets
    assembled = chunks.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_spans"))),
                lambda x: x["chunk_spans"],
            )
        ).alias("flat")
    )
    redense = F.transform(
        F.col("flat"),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return assembled.select("doc_id", redense.alias("spans"))


def render_markdown(extracted: DataFrame) -> Column | DataFrame:
    """extracted(doc_id, spans) → (doc_id, content): the markdown render
    used for the ``questions`` table (reference per-page .md files,
    /root/reference/src/ocr_to_markdown.py:452-459).

    Spans join with blank lines in offset order; pure native fold.
    """
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    content = F.array_join(F.transform(ordered, lambda s: s["text"]), "\n\n")
    return extracted.select("doc_id", content.alias("content"))


def convert_text_reference_exact(
    text: Column | str, base_filename: Column, image_base_path: str = "images"
) -> Column:
    """Reference-exact whole-text path (math → figure tags with \\n\\n →
    layout), matching /root/reference/src/ocr_to_markdown.py:400-409 for
    plain-text documents. Used by the questions import path and tested
    against a pure-Python oracle."""
    out = apply_math_patterns(F.col(text) if isinstance(text, str) else text)
    out = insert_image_tags(out, base_filename, image_base_path=image_base_path, sentinel=False)
    out = format_layout(out)
    return out
