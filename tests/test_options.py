"""Every option of the public API is set by some caller in the repo,
and by some caller outside the tests.

An optional parameter that nothing sets is a configuration no test or
workload ever runs; one that only tests set is a test hook or a choice
no user makes. This scan (AST only; no Spark session) reads every
``.py`` file of the repo and checks each optional parameter of a public
module-level function under ``fuggetabouspark/`` and of the
``StreamingIngestGuard`` and ``StreamingSketchBuilder`` constructors.
Callers under ``tests/`` and ``examples/`` do not count as callers for
the second check, unless the option is listed in TEST_ONLY with a
reason.

A parameter counts as set when some call passes it, by keyword or by
position. A value passed on under the same parameter name from an
enclosing function (``f(text_col=text_col)``) counts only if that
enclosing function's own option is set, and the same holds for keywords
forwarded through ``**kwargs``. ``**d`` is resolved when ``d`` is a dict
literal or ``dict(...)`` bound in the enclosing scope, or a call to a
function of the same file that returns one; any other ``**`` sets every
option of the callee.

Run it as a script (``python tests/test_options.py [repo]``) to print
the count of settable values, the options nothing sets and the options
only tests set.
"""

from __future__ import annotations

import ast
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
CONSTRUCTORS = {"StreamingIngestGuard", "StreamingSketchBuilder"}
# A deployment setting and the seeds of the fixture generators: set by
# whoever deploys or generates, never by a call in this repo.
ALLOWED = {
    ("get_spark", "arrow_batch_rows"),
    ("local_corpus", "seed"),
    ("spark_corpus", "seed"),
    ("write_corpus", "seed"),
}
# Directories whose calls are not callers for the test-only check.
TEST_DIRS = ("tests", "examples")
# Options that only calls under TEST_DIRS set, each with the reason it
# stays an option.
TEST_ONLY = {
    ("exact_dedup", "max_ids"): "bounds one group's id list; a test plants a huge group",
    ("ngram_jaccard_pairs", "threshold"): "the Jaccard cut of a standalone verify step",
    ("ngram_jaccard_pairs", "candidates"): "verifies LSH candidates instead of every pair",
    ("incremental_near_dup", "update_state"): "a pure query of near history",
    ("encode_png", "cycle_filters"): "the unfiltered encoding the filter cycling is measured against",
    ("embedding_near_dup", "bits"): "coarse bucket width, data dependent",
    ("embedding_near_dup", "fine_bits"): "the split width of an over-full bucket",
    ("embedding_near_dup", "max_bucket"): "when a bucket is split, data dependent",
    ("ivf_centroids", "iters"): "Lloyd rounds, a cost/quality trade",
    ("pq_topk", "query_chunk"): "driver memory per query chunk",
    ("local_corpus", "scale"): "the fixture generator's corpus size",
    ("hash64_strings", "seed"): "an independent hash family",
    ("read_corpus", "fmt"): "the input format of a user's corpus",
    ("build_sketches", "stbf_fanin"): "STBF partial fan-in, a memory/tier trade",
    ("seen_within", "window"): "a narrower query window than the sketch's own",
    ("StreamingSketchBuilder", "decay"): "whether each epoch decays its state",
    ("StreamingSketchBuilder", "partitions"): "the partials each epoch collects",
    ("StreamingSketchBuilder", "tick_col"): "the event-time column of a stream",
}


def _options(fn: ast.FunctionDef, method: bool) -> dict[str, int | None]:
    """Optional parameter -> its position in a call (None if keyword-only)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = {p.arg: i - method for i, p in enumerate(pos) if i >= first}
    out.update({p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _params(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]


def _dict_keys(node: ast.AST) -> set[str] | None:
    if isinstance(node, ast.Dict) and all(isinstance(k, ast.Constant) for k in node.keys):
        return {k.value for k in node.keys}
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "dict" and not node.args
            and all(kw.arg for kw in node.keywords)):
        return {kw.arg for kw in node.keywords}
    return None


def _sources(root: pathlib.Path):
    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).parts
        if not any(part.startswith(".") or part == "__pycache__" for part in rel):
            yield p, ast.parse(p.read_text())


class _Calls(ast.NodeVisitor):
    """Records, per (function name, option), whether some call sets it
    outright (True) or only forwards an enclosing function's option."""

    def __init__(self, fns, setby, tree):
        self.fns, self.setby, self.stack = fns, setby, []
        self.returns = {
            f.name: _dict_keys(f.body[-1].value)
            for f in tree.body
            if isinstance(f, ast.FunctionDef) and isinstance(f.body[-1], ast.Return)
            and f.body[-1].value is not None
        }
        self.bound = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                    and isinstance(node.targets[0], ast.Name):
                keys = _dict_keys(node.value)
                if keys is not None:
                    self.bound[node.targets[0].id] = keys

    def visit_FunctionDef(self, node):
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _mark(self, key, dep):
        cur = self.setby.setdefault(key, set())
        if dep is True:
            self.setby[key] = True
        elif cur is not True:
            cur.add(dep)

    def _source(self, name: str, value: ast.AST):
        """True, or the enclosing (function, option) the value forwards."""
        if isinstance(value, ast.Name) and value.id == name:
            for fn in reversed(self.stack):
                if name in _params(fn):
                    return (fn.name, name) if name in _options(fn, False) else True
        return True

    def _splat(self, value: ast.AST):
        """(keys, forwarding function): the keys a ``**value`` passes,
        None for all of them; the function whose ``**kwargs`` it is."""
        if isinstance(value, ast.Name):
            for fn in reversed(self.stack):
                if fn.args.kwarg is not None and fn.args.kwarg.arg == value.id:
                    return None, fn.name
                if value.id in _params(fn):
                    return None, None
            return self.bound.get(value.id), None
        if isinstance(value, ast.Call) and isinstance(value.func, ast.Name):
            return self.returns.get(value.func.id), None
        return _dict_keys(value), None

    def visit_Call(self, node):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        for opts, kwarg in self.fns.get(name, ()):
            for kw in node.keywords:
                if kw.arg is None:
                    keys, fwd = self._splat(kw.value)
                    for o in (opts if keys is None else keys & opts.keys()):
                        self._mark((name, o), (fwd, "**" + o) if fwd else True)
                elif kw.arg in opts:
                    self._mark((name, kw.arg), self._source(kw.arg, kw.value))
                elif kwarg:
                    self._mark((name, "**" + kw.arg), self._source(kw.arg, kw.value))
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            for o, i in opts.items():
                if i is not None and (starred or i < len(node.args)):
                    self._mark((name, o), True if starred else self._source(o, node.args[i]))
        self.generic_visit(node)


def scan(root: pathlib.Path = REPO, skip: tuple[str, ...] = ()):
    """(every settable value, the ones no call sets), each a sorted
    list of (module, function, option). Calls in files under the
    top-level directories ``skip`` do not count."""
    sources = list(_sources(root))
    targets, fns = [], {}
    for path, tree in sources:
        if path.relative_to(root).parts[0] != "fuggetabouspark":
            continue
        mod = path.relative_to(root).as_posix()
        methods = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        methods.add(m)
                        key = node.name if m.name == "__init__" else m.name
                        fns.setdefault(key, []).append((_options(m, True), m.args.kwarg))
                        if m.name == "__init__" and node.name in CONSTRUCTORS:
                            targets += [(mod, node.name, o) for o in _options(m, True)]
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node not in methods:
                fns.setdefault(node.name, []).append((_options(node, False), node.args.kwarg))
        targets += [
            (mod, n.name, o)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
            for o in _options(n, False)
        ]
    setby: dict = {}
    for path, tree in sources:
        if path.relative_to(root).parts[0] not in skip:
            _Calls(fns, setby, tree).visit(tree)

    def is_set(key, seen=frozenset()):
        deps = setby.get(key)
        if deps is True:
            return True
        return any(d not in seen and is_set(d, seen | {key}) for d in deps or ())

    return sorted(targets), [t for t in sorted(targets) if not is_set(t[1:])]


def test_every_option_is_set_by_some_caller():
    _, unset = scan()
    unused = [t for t in unset if t[1:] not in ALLOWED]
    assert not unused, "options no caller sets:\n" + "\n".join(
        f"  {m}: {f}({o})" for m, f, o in unused
    )


def test_allowed_options_still_exist():
    targets, _ = scan()
    assert ALLOWED <= {t[1:] for t in targets}


def _test_only(root: pathlib.Path = REPO):
    """The options that only calls under TEST_DIRS set."""
    unset = set(scan(root)[1])
    return [t for t in scan(root, TEST_DIRS)[1] if t not in unset]


def test_no_option_only_tests_set():
    only = _test_only()
    unlisted = [t for t in only if t[1:] not in TEST_ONLY]
    assert not unlisted, "options only tests set:\n" + "\n".join(
        f"  {m}: {f}({o})" for m, f, o in unlisted
    )
    # an entry whose option went, or gained a caller, leaves the list
    assert set(TEST_ONLY) == {t[1:] for t in only}


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else REPO
    targets, unset = scan(root)
    unused = [t for t in unset if t[1:] not in ALLOWED]
    print(f"{len(targets)} settable values, {len(unset)} set by nothing, {len(unused)} not allowed")
    for m, f, o in unused:
        print(f"  {m}: {f}({o})")
    only = [t for t in _test_only(root) if t[1:] not in TEST_ONLY]
    print(f"{len(only)} set only under {', '.join(TEST_DIRS)} and not in TEST_ONLY")
    for m, f, o in only:
        print(f"  {m}: {f}({o})")
