"""The word rule is written once.

Every dedup kernel, the guard's driver read and its Spark path split the
text into words with Spark's ``split(text, " ")`` and hash each word
with ``xxhash64``. Band keys and passage fingerprints from the two guard
paths must agree bit for bit, so a second copy of the rule that drifts
would make a checkpoint that mixes both paths miss keys without an
error. This scan (AST only; no Spark session) fails if a module under
``fuggetabouspark/`` calls Spark's ``split``, or maps ``xxhash64`` over
an array's elements, outside the helpers in ``dataops/textstats.py``.
Python's ``str.split`` does not count.

Run it as a script (``python tests/test_word_rule.py [repo]``) to list
the sites.
"""

from __future__ import annotations

import ast
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
HELPERS = {
    "split": ("fuggetabouspark/dataops/textstats.py", "_split_words"),
    "xxhash64": ("fuggetabouspark/dataops/textstats.py", "_word_hashes"),
}


def _spark_names(tree: ast.Module) -> tuple[set[str], dict[str, str]]:
    """Names bound to pyspark.sql.functions, and names imported from it."""
    modules, funcs = set(), {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
            funcs.update({a.asname or a.name: a.name for a in node.names})
        elif isinstance(node, ast.Import):
            modules |= {a.asname for a in node.names
                        if a.name == "pyspark.sql.functions" and a.asname}
    return modules, funcs


def _spark_call(node: ast.AST, modules: set[str], funcs: dict[str, str]) -> str | None:
    """The pyspark.sql.functions name that ``node`` calls, if any."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id in modules:
        return f.attr
    if isinstance(f, ast.Name):
        return funcs.get(f.id)
    return None


def _rules(node: ast.Call, name: str, modules, funcs) -> list[str]:
    """The word-rule pieces that the call ``node`` of ``name`` writes."""
    if name == "split":
        return ["split"]
    if name == "transform":
        fn = node.args[1] if len(node.args) > 1 else None
        if (isinstance(fn, ast.Lambda) and fn.args.args
                and _spark_call(fn.body, modules, funcs) == "xxhash64"
                and [ast.dump(a) for a in fn.body.args]
                == [ast.dump(ast.Name(fn.args.args[0].arg, ast.Load()))]):
            return ["xxhash64"]
    return []


def scan(root: pathlib.Path = REPO) -> list[tuple[str, int, str, str]]:
    """(file, line, enclosing function, rule) of every word-rule site
    outside its helper."""
    out = []
    for path in sorted((root / "fuggetabouspark").rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        modules, funcs = _spark_names(tree)

        def visit(node, fn_name):
            for child in ast.iter_child_nodes(node):
                name = fn_name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                called = _spark_call(child, modules, funcs)
                for rule in _rules(child, called, modules, funcs) if called else []:
                    if HELPERS[rule] != (rel, name):
                        out.append((rel, child.lineno, name, rule))
                visit(child, name)

        visit(tree, "<module>")
    return out


def test_word_rule_has_one_copy():
    sites = scan()
    assert not sites, "the word rule outside its helper:\n" + "\n".join(
        f"  {f}:{line} in {fn}: {rule}" for f, line, fn, rule in sites
    )


def test_helpers_exist():
    for rel, fn in HELPERS.values():
        tree = ast.parse((REPO / rel).read_text())
        assert fn in {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}, (rel, fn)


if __name__ == "__main__":
    for f, line, fn, rule in scan(pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else REPO):
        print(f"{f}:{line} in {fn}: {rule}")
