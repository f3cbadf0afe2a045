"""CLI-parity entry point: the reference's `sift` command surface over
the same core kernels.

    python -m sift_spark.cli [sources...] [flags]

Flag surface and defaulting rules follow /root/reference/cmd/sift/
main.go:17-127 exactly: -t/-w/-c limits pick the counting method
(default 2500 tokens for non-search, unlimited for search), strategy
flags, --search, --selector, --include-all, --context-tokens (default
200 when given without a value). Sources are local files or "-" (stdin);
HTTP fetch is out of scope for the engine (corpora are pre-crawled
tables, SURVEY.md §2.1) and reported as an error per source.

Multi-source semantics match extractAndCombineContent (sift.go:107-130):
failed sources warn to stderr and are skipped; results join with a blank
line; error only if all fail.
"""

from __future__ import annotations

import argparse
import sys

from .core.counters import CHARS, TOKENS, WORDS
from .core.pipeline import (
    DEFAULT_CONTEXT_AFTER,
    DEFAULT_CONTEXT_BEFORE,
    DEFAULT_MAX_UNITS,
    SiftParams,
    run_sift,
    transform_text,
)

MAX_FILE_BYTES = 50 * 1024 * 1024  # fetch.go:20


def build_params(args):
    if args.token_limit > 0:
        method, max_units = TOKENS, args.token_limit
    elif args.word_limit > 0:
        method, max_units = WORDS, args.word_limit
    elif args.character_limit > 0:
        method, max_units = CHARS, args.character_limit
    elif not args.search:
        method, max_units = TOKENS, DEFAULT_MAX_UNITS
    else:
        method, max_units = TOKENS, 0  # search: no size constraint

    if args.middle:
        strategy = "middle"
    elif args.end:
        strategy = "end"
    else:
        strategy = "beginning"

    # a given --context-tokens of 0 means 200 (main.go:105-107)
    context_units = (0 if args.context_tokens is None
                     else args.context_tokens or 200)

    if method == TOKENS:
        from .core.counters import FallbackTokenizer, get_tokenizer

        if isinstance(get_tokenizer(), FallbackTokenizer):
            print(
                "warning: cl100k_base vocab not available; counting with "
                "the deterministic fallback tokenizer (set "
                "$SIFT_SPARK_CL100K_PATH to a tiktoken-format rank file "
                "for exact parity with sift's token budgets)",
                file=sys.stderr,
            )

    return SiftParams(
        selector=args.selector,
        include_all=args.include_all,
        max_units=max_units,
        counting_method=method,
        strategy=strategy,
        search_query=args.search,
        context_before=DEFAULT_CONTEXT_BEFORE,
        context_after=DEFAULT_CONTEXT_AFTER,
        context_units=context_units,
    )


def read_source(source):
    """-> (content, error)."""
    if source == "-":
        return sys.stdin.read(), None
    if source.startswith(("http://", "https://")):
        return None, "HTTP fetch is out of scope: load pages into a table"
    try:
        import os

        if os.path.getsize(source) > MAX_FILE_BYTES:
            return None, f"file too large (> {MAX_FILE_BYTES} bytes)"
        with open(source, encoding="utf-8", errors="replace") as fh:
            return fh.read(), None
    except OSError as exc:
        return None, str(exc)


def main(argv=None):
    parser = argparse.ArgumentParser(
        prog="sift-spark", description="text content extraction"
    )
    parser.add_argument("sources", nargs="*", default=[])
    parser.add_argument("-s", "--selector", default="")
    # mutually-exclusive groups mirror the reference's
    # MarkFlagsMutuallyExclusive sets (cmd/sift/main.go)
    limits = parser.add_mutually_exclusive_group()
    limits.add_argument("-t", "--token-limit", type=int, default=0)
    limits.add_argument("-w", "--word-limit", type=int, default=0)
    limits.add_argument("-c", "--character-limit", type=int, default=0)
    parser.add_argument("--search", default="")
    strategies = parser.add_mutually_exclusive_group()
    strategies.add_argument("--beginning", action="store_true")
    strategies.add_argument("--middle", action="store_true")
    strategies.add_argument("--end", action="store_true")
    parser.add_argument("--context-tokens", type=int, nargs="?", const=200,
                        default=None)
    parser.add_argument("--include-all", action="store_true")
    # accepted for surface parity but NON-FUNCTIONAL, exactly like the
    # reference: cfg.OutputFormat is never consumed (sift.go:79-104 dead
    # flags); output is always the plain result text
    formats = parser.add_mutually_exclusive_group()
    formats.add_argument("--md", action="store_true")
    formats.add_argument("--text", action="store_true")
    formats.add_argument("--json", action="store_true")
    parser.add_argument("-q", "--quiet", action="store_true")
    args = parser.parse_args(argv)

    params = build_params(args)
    sources = args.sources or ["-"]

    extracted = []
    for source in sources:
        content, error = read_source(source)
        if error is None:
            # per-source: html -> markdown (no sizing yet; that applies
            # to the combined document, sift.go:94-103)
            text, error = run_sift(
                content,
                SiftParams(selector=params.selector,
                           include_all=params.include_all,
                           max_units=0, search_query=""),
            )
            if error is None and text.strip():
                extracted.append(text)
                continue
            error = error or "no content extracted"
        if not args.quiet:
            print(f"Warning: failed to process source {source!r}: {error}",
                  file=sys.stderr)

    if not extracted:
        print("Error: no content extracted from any source", file=sys.stderr)
        return 1

    combined = "\n\n".join(extracted)
    result = transform_text(combined, params)
    # always the plain result (reference: fmt.Print(result); the format
    # flags are parsed but never consumed, main.go:168-176)
    print(result, end="")
    return 0


if __name__ == "__main__":
    sys.exit(main())
