"""CLI-parity entry point tests (pure core, no Spark)."""

import json
import subprocess
import sys

import pytest

from tests.fixtures import SIMPLE_HTML


@pytest.fixture()
def html_file(tmp_path):
    path = tmp_path / "page.html"
    path.write_text(SIMPLE_HTML)
    return str(path)


def run_cli(argv, stdin=None):
    return subprocess.run(
        [sys.executable, "-m", "sift_spark.cli", *argv],
        capture_output=True, text=True, input=stdin, cwd="/root/repo",
    )


def test_basic_extraction(html_file):
    proc = run_cli([html_file, "-q"])
    assert proc.returncode == 0
    assert "Main Article Title" in proc.stdout
    assert "Site Header" not in proc.stdout


def test_word_limit(html_file):
    proc = run_cli([html_file, "-w", "10", "-q"])
    assert proc.returncode == 0
    assert len(proc.stdout.split()) <= 10


def test_selector(html_file):
    proc = run_cli([html_file, "-s", "article", "-q"])
    assert proc.returncode == 0
    assert "Main Article Title" in proc.stdout


def test_selector_error(html_file):
    proc = run_cli([html_file, "-s", ".missing"])
    assert proc.returncode == 1
    assert "no content extracted" in proc.stderr


def test_stdin():
    proc = run_cli(["-q"], stdin=SIMPLE_HTML)
    assert proc.returncode == 0
    assert "Main Article Title" in proc.stdout


def test_search(html_file):
    proc = run_cli([html_file, "--search", "important information", "-q"])
    assert proc.returncode == 0
    assert "important information" in proc.stdout


def test_multi_source_skips_failures(html_file, tmp_path):
    proc = run_cli([html_file, str(tmp_path / "missing.html")])
    assert proc.returncode == 0
    assert "Warning: failed to process source" in proc.stderr
    assert "Main Article Title" in proc.stdout


def test_format_flags_accepted_but_nonfunctional(html_file):
    """Reference parity: the --md/--text/--json flags are parsed but
    never consumed (cfg.OutputFormat is dead in cmd/sift/main.go) --
    output is always the plain result text, and the flags are mutually
    exclusive like the reference's MarkFlagsMutuallyExclusive set."""
    plain = run_cli([html_file, "-q"])
    for flag in ("--json", "--md", "--text"):
        proc = run_cli([html_file, flag, "-q"])
        assert proc.returncode == 0
        assert proc.stdout == plain.stdout
    both = run_cli([html_file, "--json", "--md", "-q"])
    assert both.returncode != 0


def test_limit_flags_mutually_exclusive(html_file):
    proc = run_cli([html_file, "-w", "100", "-c", "500"])
    assert proc.returncode != 0
    proc2 = run_cli([html_file, "--middle", "--end"])
    assert proc2.returncode != 0


def test_matches_core_bytes(html_file):
    from sift_spark.core.counters import WORDS
    from sift_spark.core.pipeline import SiftParams, run_sift

    proc = run_cli([html_file, "-w", "25", "-q"])
    expected, error = run_sift(
        SIMPLE_HTML, SiftParams(counting_method=WORDS, max_units=25)
    )
    assert error is None
    assert proc.stdout == expected


def test_token_mode_warns_about_fallback(html_file):
    """Default mode is tokens/2500 (main.go:52-55); without the real
    cl100k vocab the CLI must tell the user budgets come from the
    deterministic fallback tokenizer."""
    proc = run_cli([html_file])  # default: token counting
    assert proc.returncode == 0
    assert "deterministic fallback tokenizer" in proc.stderr
    assert "SIFT_SPARK_CL100K_PATH" in proc.stderr

    # word mode must NOT warn
    proc_w = run_cli([html_file, "-w", "50", "-q"])
    assert "fallback tokenizer" not in proc_w.stderr


def test_dist_zip_matches_source():
    """The spark-submit artifact must never drift from source (the
    round-4 third review caught a stale css.py in the zip): the zip is
    not tracked, so build it with `sh scripts/package.sh` and check
    that every sift_spark/*.py is present byte-identical."""
    import os
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(["sh", os.path.join(repo, "scripts", "package.sh")],
                   check=True, capture_output=True)
    zip_path = os.path.join(repo, "dist", "sift_spark.zip")
    assert os.path.exists(zip_path), "scripts/package.sh wrote no zip"
    with zipfile.ZipFile(zip_path) as zf:
        zipped = set(zf.namelist())
        for root, _dirs, files in os.walk(os.path.join(repo, "sift_spark")):
            if "__pycache__" in root:
                continue
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                rel = os.path.relpath(path, repo)
                assert rel in zipped, f"{rel} missing from dist zip"
                with open(path, "rb") as fh:
                    assert zf.read(rel) == fh.read(), (
                        f"{rel} is stale in dist zip -- "
                        "run sh scripts/package.sh"
                    )


def _owners(matches):
    """The functions in sift_spark/ ("module.py:outer:inner") whose
    bodies hold an AST node for which `matches(node)` is true; a match
    outside any function is owned by the bare module path."""
    import ast
    from pathlib import Path

    package = Path(__file__).resolve().parent.parent / "sift_spark"

    def owners(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from owners(child, f"{scope}:{child.name}")
            elif matches(child):
                yield scope
            else:
                yield from owners(child, scope)

    return {
        owner
        for path in sorted(package.rglob("*.py"))
        for owner in owners(ast.parse(path.read_text()),
                            path.relative_to(package).as_posix())
    }


def test_bucket_cap_has_one_home():
    """The hot-bucket cap's helper column "_bucket_n" is named in ONE
    function, cap_buckets: every blocked join (in-batch and seen side;
    minhash, simhash, embedding) caps through it, so a change of cap
    policy is one edit."""
    import ast

    found = _owners(lambda node: isinstance(node, ast.Constant)
                    and node.value == "_bucket_n")
    assert found == {"operators/dedup.py:cap_buckets"}, sorted(found)


def _calls_to(name):
    """An `_owners` matcher for calls to `name` (bare or attribute)."""
    import ast

    return lambda node: isinstance(node, ast.Call) and name in (
        getattr(node.func, "id", None), getattr(node.func, "attr", None))


def test_seen_join_has_one_home():
    """Only the two blocked joins call cap_buckets: block_self_join for
    every in-batch path and block_seen_join for every seen loop (minhash,
    simhash, embedding), so no matcher hand-writes its own capped join."""
    found = _owners(_calls_to("cap_buckets"))
    assert found == {"operators/dedup.py:block_self_join",
                     "operators/dedup.py:block_seen_join"}, sorted(found)


def test_width_check_has_one_home():
    """raise_error is called in one function, the in-plan width check
    that the minhash and embedding seen loops run on both sides."""
    found = _owners(_calls_to("raise_error"))
    assert found == {"operators/dedup.py:width_checked"}, sorted(found)


def test_chunk_size_rule_has_one_home():
    """The large-text chunk-size rule (chunk_selection.go:117-143) is
    written once: LARGE_TEXT_MULTIPLIER is named in one function,
    core/selection.chunk_size, which ChunkSelector, the extraction
    kernel's chunk count and the Spark split UDF all call."""
    import ast

    found = _owners(lambda node: isinstance(node, ast.Name)
                    and node.id == "LARGE_TEXT_MULTIPLIER")
    functions = {owner for owner in found if ":" in owner}
    assert functions == {"core/selection.py:chunk_size"}, sorted(found)


def test_admission_cap_has_one_home():
    """MAX_HTML_BYTES is read in one function, the admission gate that
    extract_pages, extract_markdown and html_node_table all go
    through, so no per-page kernel can skip or re-word the cap."""
    import ast

    found = _owners(lambda node: isinstance(node, ast.Name)
                    and node.id == "MAX_HTML_BYTES"
                    and isinstance(node.ctx, ast.Load))
    assert found == {"operators/extract.py:_admit"}, sorted(found)


def test_md5_prefix_hash_has_one_home():
    """The engine-side md5-prefix hash (conv of an md5 hex prefix) is
    written once, in dedup.md5_prefix_col, which md5_hash60, the sample
    and shard buckets and the DSIR/textclf feature buckets all call."""
    import ast

    found = _owners(lambda node: isinstance(node, ast.Attribute)
                    and node.attr == "conv")
    assert found == {"operators/dedup.py:md5_prefix_col"}, sorted(found)


def test_sigmoid_has_one_home():
    """The linear classifiers have one link, the rational sigmoid
    0.5 + 0.5*z/(1+|z|) their oracles re-derive: no exp() call in
    operators/nodeclf.py or operators/textclf.py, and |z| is taken in
    rational_sigmoid_col (the engine side) and in its one Python copy,
    the narrow scorer's per-batch kernel."""
    modules = ("operators/nodeclf.py", "operators/textclf.py")

    def owned(found):
        return {owner for owner in found if owner.startswith(modules)}

    assert owned(_owners(_calls_to("exp"))) == set()
    found = owned(_owners(_calls_to("abs")))
    assert found == {"operators/nodeclf.py:rational_sigmoid_col",
                     "operators/textclf.py:classifier_score_udf:_score"
                     }, sorted(found)


def _call_site_trees(tests=False):
    """(repo-relative path, parsed AST) of every file that calls into
    sift_spark/: the package itself, the three root scripts, scripts/
    and perfbench/, plus tests/ when `tests` is true."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    paths = sorted((repo / "sift_spark").rglob("*.py"))
    paths += [repo / name for name in (
        "__spark_entry__.py", "bench.py", "submit_job.py")]
    for folder in ("scripts", "perfbench", *(("tests",) if tests else ())):
        paths += sorted((repo / folder).rglob("*.py"))
    return [(path.relative_to(repo).as_posix(), ast.parse(path.read_text()))
            for path in paths]


def test_public_surface_has_callers_or_reasons():
    """Every public top-level def/class in sift_spark/ is either used by
    a non-test file or listed, with its reason, in STATUS.md's
    "Test-only by design" table -- and that table lists nothing else, so
    a name that gains a caller or is deleted leaves it too."""
    import ast
    import re
    from pathlib import Path

    trees = _call_site_trees()
    defined = {
        node.name
        for path, tree in trees if path.startswith("sift_spark/")
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and not node.name.startswith("_")
    }
    used = set()
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])

    status = (Path(__file__).resolve().parent.parent / "STATUS.md").read_text()
    table = status.split("\n## Test-only by design\n", 1)[1]
    table = table.split("\n#", 1)[0]
    listed = set(re.findall(r"^\| `(\w+)` \|", table, re.M))
    assert defined - used == listed, (
        f"uncalled and unlisted: {sorted(defined - used - listed)}; "
        f"listed but called or gone: {sorted(listed - (defined - used))}")


def test_every_option_has_a_caller():
    """Every optional parameter of a top-level def in sift_spark/ has at
    least two values in use across the call sites in the package, the
    root scripts, scripts/, perfbench/ and tests/. A call that omits the
    option puts its default in use. An argument that is a literal, or a
    name bound to a literal at module level in the caller's file, puts
    that value in use; any other expression, a `*args` call, or a
    `**kwargs` call whose splat may carry the option puts a varying
    value in use. A `**kwargs` call may carry only the names some file
    spells as a string key of a dict literal or as a keyword of a
    `dict(...)` call, so a splat that only forwards its caller's `**kw`
    carries nothing. A call through a local name counts for every
    package function its enclosing def lists in a tuple, list or dict
    literal: that is a dispatch table (`for fn in (f, g): fn(x, k=1)`).
    An option with one value in use is a constant: if that value is the
    default it belongs in the code, otherwise the parameter should be
    required."""
    import ast

    def literal(node, names):
        """A hashable token for the value `node` spells, or None when it
        varies."""
        if isinstance(node, ast.Name) and node.id in names:
            return names[node.id]
        try:
            return repr(ast.literal_eval(node))
        except (ValueError, TypeError):
            return None

    def module_literals(tree):
        """Module-level names bound once, to a literal."""
        bound = {}
        for node in tree.body:
            if isinstance(node, ast.Assign):
                for target in node.targets:
                    if isinstance(target, ast.Name):
                        bound.setdefault(target.id, []).append(node.value)
        return {name: token for name, values in bound.items()
                if len(values) == 1
                and (token := literal(values[0], {})) is not None}

    options = {}
    for module, tree in _call_site_trees():
        if not module.startswith("sift_spark/"):
            continue
        names = module_literals(tree)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = node.args
            positional = [a.arg for a in (*args.posonlyargs, *args.args)]
            defaults = list(zip(
                positional[len(positional) - len(args.defaults):],
                args.defaults))
            defaults += [(a.arg, default) for a, default in zip(
                args.kwonlyargs, args.kw_defaults) if default is not None]
            for name, default in defaults:
                # a default that is no literal is still one value
                token = literal(default, names) or ast.dump(default)
                options[(module, node.name, name)] = positional, token

    by_function = {}
    for key in options:
        by_function.setdefault(key[1], []).append(key)

    def name_of(node):
        return getattr(node, "id", None) or getattr(node, "attr", None)

    trees = _call_site_trees(tests=True)
    splat_keys = set()
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                splat_keys.update(k.value for k in node.keys
                                  if isinstance(k, ast.Constant)
                                  and isinstance(k.value, str))
            elif isinstance(node, ast.Call) and name_of(node.func) == "dict":
                splat_keys.update(k.arg for k in node.keywords if k.arg)

    in_use = {key: set() for key in options}  # None: a value that varies

    def mark(call, functions, names):
        keywords = {k.arg: k.value for k in call.keywords}
        n_plain = next((i for i, a in enumerate(call.args)
                        if isinstance(a, ast.Starred)), len(call.args))
        starred = n_plain < len(call.args)
        for key in (k for f in functions for k in by_function.get(f, ())):
            positional, default = options[key]
            name = key[2]
            index = positional.index(name) if name in positional else None
            if name in keywords:
                value = literal(keywords[name], names)
            elif index is not None and index < n_plain:
                value = literal(call.args[index], names)
            elif ((index is not None and starred)
                  or (None in keywords and name in splat_keys)):
                value = None
            else:
                value = default
            in_use[key].add(value)

    for _, tree in trees:
        names = module_literals(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                mark(node, [name_of(node.func)], names)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                table = {
                    name_of(e) for lit in ast.walk(node)
                    if isinstance(lit, (ast.Tuple, ast.List, ast.Dict))
                    for e in (lit.values if isinstance(lit, ast.Dict)
                              else lit.elts)
                } & set(by_function)
                for call in ast.walk(node):
                    if (table and isinstance(call, ast.Call)
                            and isinstance(call.func, ast.Name)
                            and call.func.id not in by_function):
                        mark(call, table, names)

    def fix(key):
        if in_use[key] <= {options[key][1]}:
            return "only its default: make it code"
        return "one value, not the default: make it required"

    single = sorted(key for key, values in in_use.items()
                    if None not in values and len(values) < 2)
    assert not single, (
        f"{len(single)} of {len(options)} options have one value in use:\n"
        + "\n".join(f"{m}:{f}({o}=) {fix((m, f, o))}"
                     for m, f, o in single))
