"""Pure-Python oracle twin of the Spark extraction operators.

Implements the reference transform semantics directly with CPython ``re``
(the same library the reference uses), so tests assert the Spark (Java-regex,
codegen) implementations match CPython behavior span-for-span.

Pattern tables mirror /root/reference/src/ocr_to_markdown.py:61-89,352-371.
"""

from __future__ import annotations

import re

MATH_PATTERNS = [
    (r"√(\d+)", r"$\\sqrt{\1}$"),
    (r"(\d+)/(\d+)", r"$\\frac{\1}{\2}$"),
    (r"(\w+)\^(\d+)", r"$\1^{\2}$"),
    (r"(\w+)_(\d+)", r"$\1_{\2}$"),
    (r"sin\(([^)]+)\)", r"$\\sin(\1)$"),
    (r"cos\(([^)]+)\)", r"$\\cos(\1)$"),
    (r"tan\(([^)]+)\)", r"$\\tan(\1)$"),
    (r"\[数式:([^]]+)\]", r"$$\1$$"),
    (r"∫\s*([^d]+)d([a-z])", r"$\\int \1 d\2$"),
    (r"α", r"$\\alpha$"),
    (r"β", r"$\\beta$"),
    (r"γ", r"$\\gamma$"),
    (r"θ", r"$\\theta$"),
    (r"π", r"$\\pi$"),
    (r"∞", r"$\\infty$"),
]

FIGURE_PATTERN = re.compile(r"\[図(\d+)\]|\[表(\d+)\]|\[Fig\.(\d+)\]|\[Table(\d+)\]")

SENTINEL = "\x00"


def apply_math_patterns(text: str) -> str:
    result = text
    for pattern, replacement in MATH_PATTERNS:
        result = re.sub(pattern, replacement, result)
    return result


def insert_image_tags(text: str, base: str, image_base_path: str = "images",
                      sentinel: bool = False) -> str:
    pre = SENTINEL if sentinel else "\n\n"
    post = SENTINEL if sentinel else "\n\n"

    def replace_figure(match: re.Match) -> str:
        fig_num = match.group(1) or match.group(2) or match.group(3) or match.group(4)
        if not fig_num:
            return match.group(0)
        img_path = f"{image_base_path}/{base}_figure_{fig_num}.png"
        return f"{pre}![図{fig_num}]({img_path}){post}"

    return FIGURE_PATTERN.sub(replace_figure, text)


def format_layout(text: str) -> str:
    text = re.sub(r"\n{3,}", "\n\n", text)
    text = re.sub(r"^(\s*)([•·・])(\s*)", r"\1- ", text, flags=re.MULTILINE)
    text = re.sub(r"^(\d+)[\.．、]\s+(.+)$", r"## \1. \2", text, flags=re.MULTILINE)
    text = re.sub(r"^(\s*)(\d+)[\.．、](\s*)(?!\d)", r"\1\2. ", text, flags=re.MULTILINE)
    return text


def convert_text_reference_exact(text: str, base: str, image_base_path: str = "images") -> str:
    """math → figure tags (\\n\\n) → layout, the reference's whole-text order."""
    out = apply_math_patterns(text)
    out = insert_image_tags(out, base, image_base_path, sentinel=False)
    out = format_layout(out)
    return out


_IMG_TAG_RE = re.compile(r"^!\[図(\d+)\]\((.+)\)$")


def extract_doc(doc_id: str, spans: list[dict], image_base_path: str = "images") -> list[dict]:
    """Oracle for operators.extract.extract_docs on one document."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    out: list[dict] = []
    for s in ordered:
        if s["kind"] == "media":
            out.append(dict(s))
            continue
        # content NULs are stripped before T4, as in
        # operators.extract._normalized_text: NUL is the split sentinel
        t = apply_math_patterns(s["text"].replace("\x00", ""))
        t = format_layout(t)
        t = insert_image_tags(t, doc_id, image_base_path, sentinel=True)
        parts = t.split(SENTINEL)
        if len(parts) > 1:
            parts = [p for p in parts if p != ""]
        for p in parts:
            m = _IMG_TAG_RE.match(p)
            if m:
                out.append({"kind": "media", "text": p, "media_ref": m.group(2), "offset": 0})
            else:
                out.append({"kind": s["kind"], "text": p, "media_ref": s["media_ref"], "offset": 0})
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def render_markdown(spans: list[dict]) -> str:
    ordered = sorted(spans, key=lambda s: s["offset"])
    return "\n\n".join("" if s["text"] is None else s["text"] for s in ordered)


def derive_question_number(filename: str) -> str:
    m = re.search(r"_page_(\d+)", filename)
    if m:
        return m.group(1)
    m = re.search(r"[_-](\d+)", filename)
    if m:
        return m.group(1)
    m = re.search(r"^(\d+)", filename)
    if m:
        return m.group(1)
    return "000"


def derive_question_id(filename: str, prefix: str = "Q") -> str:
    return f"{prefix}{derive_question_number(filename).zfill(3)}"
