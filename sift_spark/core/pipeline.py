"""Single-document sift pipeline: the scalar kernel the Spark UDFs wrap.

Mirrors app.Run (/root/reference/internal/app/sift.go:79-104):

  1. extract html -> markdown (selector | include-all | readability)
  2. no search query: return full content, or apply the simple size limit
  3. search query: chunk -> classify-filter -> BM25 rank (fallback to
     strategy order) -> context selection -> format

All byte-sensitive behavior stays in this one code path so Spark-side and
test-side outputs are identical (SURVEY.md §4.2 "byte-identical parity").
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from . import extract as extract_mod
from .counters import TOKENS, Counter
from .ranking import lexical_search
from .selection import BEGINNING, ChunkSelector

import re

DEFAULT_MAX_UNITS = 2500  # cmd/sift/main.go:52-55 (no-search default)

# Go's isSpace set is exactly {space, tab, newline, CR} (sift.go:323)
_SIMPLE_TOKEN_RE = re.compile(r"[ \t\n\r]*[^ \t\n\r]+")
DEFAULT_CONTEXT_BEFORE = 1  # cmd/sift/main.go:119
DEFAULT_CONTEXT_AFTER = 2  # cmd/sift/main.go:120


@dataclass
class SiftParams:
    selector: str = ""
    include_all: bool = False
    max_units: int = DEFAULT_MAX_UNITS
    counting_method: str = TOKENS
    strategy: str = BEGINNING
    search_query: str = ""
    context_before: int = DEFAULT_CONTEXT_BEFORE
    context_after: int = DEFAULT_CONTEXT_AFTER
    context_units: int = 0
    extra: dict = field(default_factory=dict)
    # captured on the DRIVER when params are constructed and shipped to
    # workers inside the UDF closure, so the real-vocab tokenizer works
    # without per-node env setup (ship the file itself via
    # `spark-submit --files` on a cluster)
    cl100k_path: str | None = field(
        default_factory=lambda: os.environ.get("SIFT_SPARK_CL100K_PATH")
    )


def extract_document(html, params):
    """html (str) -> (markdown, error)."""
    return extract_mod.to_markdown(
        html, selector=params.selector, include_all=params.include_all
    )


def transform_text(text, params):
    """Post-extraction transformations (app.Run steps 2+)."""
    search_query = params.search_query.strip()
    if not search_query:
        if params.max_units <= 0:
            return text
        return apply_simple_size_limit(
            text, params.max_units, params.counting_method,
            params.cl100k_path,
        )
    return _apply_search_transformations(text, params, search_query)


def run_sift(html, params):
    """Full per-document pipeline -> (result_text, error)."""
    markdown, error = extract_document(html, params)
    if error is not None:
        return "", error
    if markdown.strip() == "":
        # processSource: empty extraction is an error for the combining
        # layer (sift.go:154-156); single-row semantics -> empty + marker
        return "", "no content extracted"
    return transform_text(markdown, params), None


def combine_documents(texts):
    """Multi-source combination: skip failures, join with a blank line
    (sift.go:107-130)."""
    parts = [t for t in texts if t]
    return "\n\n".join(parts)


# ---- simple size limit (sift.go:305-372) -------------------------------------------


def apply_simple_size_limit(content, max_units, counting_method,
                            vocab_path=None):
    if max_units <= 0:
        return content
    counter = Counter(counting_method, vocab_path)
    # bind the scalar counting function once: Counter.count dispatches
    # on method per call, and this loop runs per token of every
    # extracted document
    from .counters import CHARS as _CHARS, WORDS as _WORDS
    from .counters import char_count, word_count

    if counting_method == _WORDS:
        count_fn = word_count
    elif counting_method == _CHARS:
        count_fn = char_count
    else:
        count_fn = counter.count

    # split into word tokens carrying their leading whitespace (plus a
    # possible trailing whitespace-only token) -- regex form of the Go
    # rune loop (sift.go:317-345), byte-identical output
    tokens = _SIMPLE_TOKEN_RE.findall(content)
    consumed = sum(len(t) for t in tokens)
    if consumed < len(content):
        tokens.append(content[consumed:])

    result = []
    current_units = 0
    for token in tokens:
        token_units = count_fn(token)
        if current_units + token_units > max_units:
            break
        result.append(token)
        current_units += token_units
        if current_units >= max_units:
            break
    return "".join(result).rstrip(" \t\n\r")


# ---- search path (sift.go:161-251) --------------------------------------------------


def prepare_chunks(text, params):
    """Chunk + classify filter -> (selector, chunks)
    (sift.go:184-213)."""
    selector = ChunkSelector(
        params.counting_method, params.max_units, params.strategy,
        vocab_path=params.cl100k_path,
    )
    chunks = selector.prepare_chunks(text)
    if chunks and not params.include_all:
        chunks = selector.filter_extraneous(chunks)
    return selector, chunks


def _apply_search_transformations(text, params, search_query):
    selector, chunks = prepare_chunks(text, params)
    if not chunks:
        return ""

    # callers guarantee a non-empty search_query (transform_text and
    # apply_content_transformations both gate on it); the no-query
    # strategy path lives in apply_content_transformations
    scored = lexical_search(chunks, search_query)
    ordered = selector.prepare_for_search(scored)
    return selector.select_with_context_config(
        ordered, chunks, params.context_before, params.context_after,
        params.context_units,
    )


def apply_content_transformations(text, params):
    """Non-search chunked path (used by tests mirroring
    sift_test.go:50-208): chunk -> filter -> strategy order -> select."""
    if text.strip() == "":
        return ""
    selector, chunks = prepare_chunks(text, params)
    if not chunks:
        return ""
    search_query = params.search_query.strip()
    if search_query:
        return _apply_search_transformations(text, params, search_query)
    ordered = selector.prepare_for_strategy(chunks)
    return selector.select_with_context_config(
        ordered, chunks, 0, 0, params.context_units
    )
