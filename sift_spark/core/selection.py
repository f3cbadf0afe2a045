"""Chunk selection, sizing strategies, context windows, output formatting.

Semantics from /root/reference/internal/app/chunk_selection.go and
context_calculator.go: strategy ordering (beginning / middle-out / end),
fixed context windows with budget accumulation + partial boundary chunks,
smart context (field-type driven before/after budget split), no-limit
search top-k, overlap-prefix removal, smart separators and search gap
markers. This is the order-dependent sequential layer; per-document it is
cheap (chunk counts are small), so the Spark layer runs it inside the
grouped/vectorized UDFs (SURVEY.md §2.7, §4.2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .chunker import split_text
from .classify import is_extraneous
from .counters import CHARS, TOKENS, WORDS, Counter

BEGINNING = "beginning"
MIDDLE = "middle"
END = "end"

# chunk sizing defaults (chunk_selection.go:31-41)
BASE_SIZES = {TOKENS: 200, WORDS: 150, CHARS: 700}
TEXT_THRESHOLDS = {TOKENS: 2500, WORDS: 1800, CHARS: 9500}
LARGE_TEXT_MULTIPLIER = 1.5

MIN_SCORE_THRESHOLD = 0.01  # chunk_selection.go:598
MAX_RELEVANT_CHUNKS = 5  # chunk_selection.go:613
FALLBACK_CHUNKS = 2  # chunk_selection.go:626
GAP_MARKER = "\n\n---\n\n"  # chunk_selection.go:186


def chunk_size(text, counting_method):
    """Unit-aware chunk size (chunk_selection.go:117-143): the method's
    base size, raised by LARGE_TEXT_MULTIPLIER once the text's UTF-8
    length passes the method's threshold. Unknown methods size as chars.
    The one copy of the rule: ChunkSelector, the extraction kernel's
    chunk count and the Spark split UDF all call it."""
    base = BASE_SIZES.get(counting_method, BASE_SIZES[CHARS])
    threshold = TEXT_THRESHOLDS.get(counting_method, TEXT_THRESHOLDS[CHARS])
    if len(text.encode("utf-8", "surrogatepass")) > threshold:
        return int(base * LARGE_TEXT_MULTIPLIER)
    return base


@dataclass
class ChunkWithIndex:
    text: str
    index: int
    score: float = 0.0


# ---- field-type detection + context strategies (context_calculator.go) ------------

_HEADER_RE = re.compile(r"^\s*#{1,6}\s+")
_BULLET_RE = re.compile(r"^\s*[-*+]\s+")
_NUMBER_RE = re.compile(r"^\s*\d+\.\s+")
_CODEBLOCK_RE = re.compile(r"^```|```$")
_INLINE_CODE_RE = re.compile(r"`[^`]+`")
_BOLD_RE = re.compile(r"\*\*[^*\s][^*]*[^*\s]\*\*|\*\*[^*\s]\*\*")
_ITALIC_RE = re.compile(
    r"(?:^|[^*])\*[^*\s][^*]*[^*\s]\*(?:[^*]|$)|(?:^|[^*])\*[^*\s]\*(?:[^*]|$)"
)

FIELD_BODY = "body"
FIELD_CODE = "code"
FIELD_BOLD = "bold"
FIELD_ITALIC = "italic"


def detect_field_type(chunk_text):
    """-> (field, is_list); field in {h1..h6, code, bold, italic, body}
    (context_calculator.go:159-230)."""
    trimmed = chunk_text.strip()
    if not trimmed:
        return FIELD_BODY, False
    if _HEADER_RE.match(trimmed):
        level = 0
        for ch in trimmed:
            if ch == "#":
                level += 1
            else:
                break
        if level > 6:
            level = 4
        return f"h{level}", False
    if _BULLET_RE.match(trimmed) or _NUMBER_RE.match(trimmed):
        return FIELD_BODY, True
    if _CODEBLOCK_RE.search(chunk_text):
        return FIELD_CODE, False
    if _INLINE_CODE_RE.search(chunk_text):
        return FIELD_CODE, False
    if _BOLD_RE.search(chunk_text):
        return FIELD_BOLD, False
    if _ITALIC_RE.search(chunk_text):
        return FIELD_ITALIC, False
    return FIELD_BODY, False


def context_strategy(field, is_list):
    """-> (before_ratio, after_ratio, name)
    (context_calculator.go:233-278)."""
    if is_list:
        return 0.8, 0.2, "list-preceding"
    if field in ("h1", "h2", "h3", "h4", "h5", "h6"):
        return 0.2, 0.8, "header-following"
    if field == FIELD_CODE:
        return 0.3, 0.7, "code-following"
    if field == FIELD_BOLD:
        return 0.65, 0.35, "emphasis-preceding"
    return 0.5, 0.5, "balanced"


# ---- ChunkSelector -----------------------------------------------------------------


class ChunkSelector:
    """Counterpart of app.ChunkSelector (chunk_selection.go:77-103)."""

    def __init__(self, counting_method, max_units, strategy=BEGINNING,
                 vocab_path=None):
        self.counter = Counter(counting_method, vocab_path)
        self.max_units = max_units
        self.strategy = strategy
        self.is_search_mode = False

    # -- chunk preparation -----------------------------------------------------

    def chunk_size(self, text):
        return chunk_size(text, self.counter.method)

    def prepare_chunks(self, text):
        return split_text(text, self.chunk_size(text))

    def filter_extraneous(self, chunks):
        total = len(chunks)
        return [
            chunk
            for i, chunk in enumerate(chunks)
            if not is_extraneous(chunk, i, total)
        ]

    # -- ordering ----------------------------------------------------------------

    def prepare_for_strategy(self, chunks):
        indexed = [ChunkWithIndex(text, i) for i, text in enumerate(chunks)]
        if self.strategy == END:
            return list(reversed(indexed))
        if self.strategy == MIDDLE:
            return _middle_out(indexed)
        return indexed

    def prepare_for_search(self, scored):
        """scored: list of (text, score, index) already sorted by score
        desc (stable on ties, matching Go sort.Slice order from a stable
        pre-sort in our search layer)."""
        self.is_search_mode = True
        return [ChunkWithIndex(t, i, s) for (t, s, i) in scored]

    # -- selection ---------------------------------------------------------------

    def apply_size_constraints(self, chunks):
        ordered = self.prepare_for_strategy(chunks)
        return self.select(ordered, chunks, 0, 0)

    def select(self, ordered, all_chunks, context_before, context_after):
        return self.select_with_context_config(
            ordered, all_chunks, context_before, context_after, 0
        )

    def select_with_context_config(
        self,
        ordered,
        all_chunks,
        context_before,
        context_after,
        context_units,
    ):
        if not ordered:
            return ""
        # a positive context budget selects smart context (search only)
        if context_units > 0 and self.is_search_mode:
            return self._select_smart(ordered, all_chunks, context_units)
        return self._select_fixed(ordered, all_chunks, context_before, context_after)

    # fixed-count context selection (chunk_selection.go:589-714)
    def _select_fixed(self, ordered, all_chunks, context_before, context_after):
        if self.max_units <= 0:
            if self.is_search_mode:
                passing = [c for c in ordered if c.score > MIN_SCORE_THRESHOLD]
                max_relevant = len(passing) // 2
                if max_relevant == 0 and passing:
                    max_relevant = 1
                max_relevant = min(max_relevant, MAX_RELEVANT_CHUNKS)
                relevant = passing[:max_relevant]
                if not relevant and ordered:
                    relevant = ordered[: min(FALLBACK_CHUNKS, len(ordered))]
            else:
                relevant = ordered
            selected, added = [], set()
            for target in relevant:
                for cand in _context_candidates(
                    target.index, all_chunks, context_before, context_after, added
                ):
                    if cand.index not in added:
                        selected.append(cand)
                        added.add(cand.index)
            return self._format(selected)

        selected, added = [], set()
        current = 0
        for target in ordered:
            if current >= self.max_units:
                break
            candidates = _context_candidates(
                target.index, all_chunks, context_before, context_after, added
            )
            for cand in candidates:
                units = self.counter.count(cand.text)
                if current + units <= self.max_units:
                    selected.append(cand)
                    added.add(cand.index)
                    current += units
                elif current < self.max_units:
                    partial = self.counter.partial(
                        cand.text, self.max_units - current
                    )
                    if partial:
                        selected.append(ChunkWithIndex(partial, cand.index))
                        current = self.max_units
                    break
            if current >= self.max_units:
                break
        return self._format(selected)

    # smart-context selection (chunk_selection.go:522-586)
    def _select_smart(self, ordered, all_chunks, context_units):
        calculator = ContextCalculator(self.counter, context_units)
        selected, added = [], set()
        current = 0
        for target in ordered:
            if target.index in added:
                continue
            remaining = context_units - current
            if remaining <= 0:
                break
            result_chunks = calculator.smart_context(target, all_chunks, remaining)
            for chunk in result_chunks:
                if chunk.index in added:
                    continue
                units = self.counter.count(chunk.text)
                if current + units <= context_units:
                    selected.append(chunk)
                    added.add(chunk.index)
                    current += units
                else:
                    remaining_units = context_units - current
                    if remaining_units > 0:
                        partial = self.counter.partial(chunk.text, remaining_units)
                        if partial:
                            selected.append(ChunkWithIndex(partial, chunk.index))
                            current = context_units
                    break
            if current >= context_units:
                break
        return self._format(selected)

    # -- formatting (chunk_selection.go:161-230) ----------------------------------

    def _format(self, selected):
        if not selected:
            return ""
        selected = sorted(selected, key=lambda c: c.index)
        parts = []
        prev = None
        for i, chunk in enumerate(selected):
            text = chunk.text
            if i > 0:
                text = remove_overlap_prefix(text, prev.text)
            if i > 0 and text.strip():
                if self.is_search_mode and chunk.index != prev.index + 1:
                    parts.append(GAP_MARKER)
                else:
                    parts.append(determine_separator(prev.text, text))
            if text.strip():
                parts.append(text)
            prev = chunk
        return "".join(parts)


class ContextCalculator:
    """Smart-context budget distribution (context_calculator.go:19-324)."""

    def __init__(self, counter, max_context_units):
        self.counter = counter
        self.max_context_units = max_context_units

    def smart_context(self, target, all_chunks, budget_units):
        field, is_list = detect_field_type(target.text)
        before_ratio, _after_ratio, _name = context_strategy(field, is_list)

        target_units = self.counter.count(target.text)
        available = budget_units - target_units
        if available <= 0:
            if target_units > budget_units:
                truncated = self.counter.partial(target.text, budget_units)
                return [ChunkWithIndex(truncated, target.index, target.score)]
            return [target]

        before_budget = int(available * before_ratio)
        after_budget = available - before_budget

        selected = [target]
        if before_budget > 0:
            selected.extend(
                self._collect(all_chunks, target.index - 1, -1, before_budget)
            )
        if after_budget > 0:
            selected.extend(
                self._collect(all_chunks, target.index + 1, 1, after_budget)
            )
        return selected

    def _collect(self, all_chunks, start, direction, budget):
        collected = []
        total = 0
        i = start
        while 0 <= i < len(all_chunks):
            if budget <= 0:
                break
            text = all_chunks[i]
            units = self.counter.count(text)
            if total + units <= budget:
                collected.append(ChunkWithIndex(text, i))
                total += units
                budget -= units
            else:
                if budget > 0:
                    partial = self.counter.partial(text, budget)
                    if partial:
                        collected.append(ChunkWithIndex(partial, i))
                break
            i += direction
        if direction < 0:
            collected.reverse()
        return collected


# ---- helpers -----------------------------------------------------------------------


def _middle_out(chunks):
    """Middle-out ordering, right-then-left (chunk_selection.go:445-474);
    exact order asserted by chunk_selection_test.go:532 ([2,3,1,4,0])."""
    if len(chunks) <= 1:
        return list(chunks)
    middle = len(chunks) // 2
    result = [chunks[middle]]
    left, right = middle - 1, middle + 1
    while len(result) < len(chunks):
        if right < len(chunks):
            result.append(chunks[right])
            right += 1
        if left >= 0:
            result.append(chunks[left])
            left -= 1
    return result


def _context_candidates(target_index, all_chunks, before, after, added):
    """Target plus its fixed context neighbors, skipping already-added
    (chunk_selection.go:283-306)."""
    candidates = []
    for i in range(target_index - before, target_index):
        if i >= 0 and i not in added:
            candidates.append(ChunkWithIndex(all_chunks[i], i))
    if target_index not in added:
        candidates.append(ChunkWithIndex(all_chunks[target_index], target_index))
    for i in range(target_index + 1, target_index + after + 1):
        if i < len(all_chunks) and i not in added:
            candidates.append(ChunkWithIndex(all_chunks[i], i))
    return candidates


def determine_separator(prev_chunk, _current_chunk):
    """chunk_selection.go:203-230."""
    if prev_chunk == "":
        return ""
    prev_trimmed = prev_chunk.strip()
    if prev_trimmed == "":
        return "\n\n"
    if prev_chunk.endswith("\n\n"):
        return "\n\n"
    if prev_chunk.endswith("\n"):
        return "\n"
    if prev_trimmed[-1] in ".!?" and len(prev_trimmed) > 40:
        return "\n\n"
    return "\n"


def remove_overlap_prefix(current_chunk, previous_chunk):
    """chunk_selection.go:234-267: drop up to 15 leading words of the
    current chunk matching the trailing words of the previous chunk."""
    current_words = current_chunk.split()
    previous_words = previous_chunk.split()
    if not current_words or not previous_words:
        return current_chunk
    max_check = min(len(current_words), len(previous_words), 15)
    for i in range(max_check, 0, -1):
        if previous_words[-i:] == current_words[:i]:
            if i < len(current_words):
                return " ".join(current_words[i:])
            return ""
    return current_chunk
