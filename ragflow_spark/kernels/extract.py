"""Per-document extraction: sniff -> parse -> sections -> chunks.

This is the single pure function the Spark pipeline vectorizes over
Arrow batches (ragflow_spark/plans/pipeline.py). One parse per page:
the chunker runs in the same call so the DOM is never built twice
(SURVEY.md §4.2 "avoidable by composing them in one select").

Mirrors the reference's end-to-end per-document path: payload ->
HtmlParser sections -> '\\n'.join (reference agent/component/
invoke.py:92-94) -> chunk templates; errors become coded rows, never
exceptions (reference agent/component/baidu.py:70-71 convention).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ragflow_spark.kernels.chunk import (
    DEFAULT_TOKEN_BUDGET,
    choose_template,
    chunk_spans_with_counts,
)
from ragflow_spark.kernels.htmlx import html_extract
from ragflow_spark.kernels.pdfx import pdf_extract
from ragflow_spark.kernels.sniff import (
    CODE_EMPTY_PAYLOAD,
    CODE_INTERNAL,
    CODE_OK,
    sniff_payload,
)


@dataclass
class ExtractResult:
    content_type: str  # 'html' | 'pdf' | 'empty'
    extracted_text: str
    parse_status: str  # 'ok' | 'failed'
    parse_code: int
    n_sections: int
    # parallel arrays: one entry per chunk
    chunk_templates: list[str] = field(default_factory=list)
    chunk_starts: list[int] = field(default_factory=list)
    chunk_ends: list[int] = field(default_factory=list)
    chunk_tokens: list[int] = field(default_factory=list)


def extract_document(
    payload: bytes | None, budget: int = DEFAULT_TOKEN_BUDGET
) -> ExtractResult:
    """Total function: any byte string (or None) -> ExtractResult.
    A CODE_INTERNAL row keeps the sniffed kind ('html' if sniffing
    itself raised)."""
    kind = "html"
    try:
        kind = sniff_payload(payload)
        if kind == "empty":
            return ExtractResult("empty", "", "failed", CODE_EMPTY_PAYLOAD, 0)
        if kind == "pdf":
            sections, code = pdf_extract(payload)
        else:
            sections, code, _enc = html_extract(payload)
        if code != CODE_OK:
            return ExtractResult(kind, "", "failed", code, 0)
        kinds = [k for k, _t in sections]
        texts = [t for _k, t in sections]
        text = "\n".join(texts)
        template = choose_template(kinds, texts)
        res = ExtractResult(kind, text, "ok", CODE_OK, len(sections))
        for a, b, n in chunk_spans_with_counts(
            template, text, kinds, texts, budget
        ):
            res.chunk_templates.append(template)
            res.chunk_starts.append(a)
            res.chunk_ends.append(b)
            res.chunk_tokens.append(n)
        return res
    except Exception:
        return ExtractResult(kind, "", "failed", CODE_INTERNAL, 0)
