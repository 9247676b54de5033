"""The command-line scripts in `tools/` and `bench.py` are not imported
by the suite, so nothing else notices when one stops compiling, imports
a module that is gone, or when a doc still names a deleted script; and
nothing notices a library function that no caller is left for. These
checks are static (no Spark, no subprocess)."""

import ast
import glob
import importlib.util
import os
import py_compile
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]
# program files that must not read the reference checkout: it is not
# part of the repo, so code that opens it only runs where it happens to
# be installed (docstrings may still cite it as a source)
PROGRAM_FILES = (
    sorted(glob.glob(os.path.join(REPO, "cello_spark", "**", "*.py"), recursive=True))
    + SCRIPTS
    + [os.path.join(REPO, "__spark_entry__.py")]
)
REFERENCE_CHECKOUT = "/root/reference"
# files that name tools/<script> paths. BENCH/BASELINE.md is left out:
# it is a history and cites retired scripts on purpose.
REFERRERS = PROGRAM_FILES + [
    os.path.join(REPO, p) for p in ("README.md", ".claude/skills/verify/SKILL.md")
]
# markdown that documents the program as it is. The change logs, the
# roadmap, the reviews and the bench history are left out: they name
# deleted code on purpose.
DOCS = [
    os.path.join(REPO, p)
    for p in (
        "README.md",
        "SURVEY.md",
        "FIXTURES.md",
        "TESTDATA.md",
        "perfbench/README.md",
        ".claude/skills/verify/SKILL.md",
    )
]


def _rel(path):
    return os.path.relpath(path, REPO)


def _code_trees(path):
    """The module's AST, plus the ASTs of string constants that are
    Python source: the child-process templates the benchmark tools
    fill with str.format ({repo!r}, {{...}}) and run with `python -c`."""
    tree = ast.parse(open(path).read(), path)
    yield tree
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            src = re.sub(r"(?<!\{)\{\w+(![rsa])?\}(?!\})", "0", node.value)
            src = src.replace("{{", "{").replace("}}", "}")
            if "import " not in src:
                continue
            try:
                yield ast.parse(src)
            except SyntaxError:
                continue


def _module_path(dotted, importer):
    """In-repo file for a dotted module name, or None if it is not an
    in-repo name. A bare name also resolves next to the importer or in
    tools/ (bench.py puts tools/ on sys.path)."""
    parts = dotted.split(".")
    roots = [REPO, os.path.dirname(importer), os.path.join(REPO, "tools")]
    for root in roots:
        base = os.path.join(root, *parts)
        for cand in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(cand):
                return cand
    if parts[0] in ("cello_spark", "tools", "__spark_entry__"):
        # an in-repo namespace, but no such file: report it
        return os.path.join(REPO, *parts) + ".py"
    return None


def _top_level_names(path):
    names = set()
    stack = list(ast.parse(open(path).read(), path).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse + getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
    return names


@pytest.mark.parametrize("path", SCRIPTS, ids=_rel)
def test_script_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


@pytest.mark.parametrize("path", SCRIPTS, ids=_rel)
def test_script_imports_resolve(path):
    """Every imported module is an in-repo file or an installed one,
    and every name imported from an in-repo module is defined there."""
    missing = []
    for tree in _code_trees(path):
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                imports = [(a.name, []) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
                imports = [(node.module, [a.name for a in node.names])]
            else:
                continue
            for module, names in imports:
                target = _module_path(module, path)
                if target is None:
                    if importlib.util.find_spec(module.split(".")[0]) is None:
                        missing.append(module)
                elif not os.path.isfile(target):
                    missing.append(module)
                else:
                    defined = _top_level_names(target)
                    for name in names:
                        sub = _module_path(f"{module}.{name}", path)
                        if name not in defined and not (sub and os.path.isfile(sub)):
                            missing.append(f"{module}.{name}")
    assert not missing, f"{_rel(path)}: unresolved imports {missing}"


def test_named_tool_scripts_exist():
    stale = []
    for path in REFERRERS:
        for name in re.findall(r"tools/([\w-]+\.(?:py|sh))", open(path).read()):
            if not os.path.isfile(os.path.join(REPO, "tools", name)):
                stale.append(f"{_rel(path)}: tools/{name}")
    assert not stale, "references to missing scripts:\n" + "\n".join(stale)


def _docstrings(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                yield first.value


def test_no_code_reads_the_reference_checkout():
    found = []
    for path in PROGRAM_FILES:
        tree = ast.parse(open(path).read(), path)
        docs = {id(c) for c in _docstrings(tree)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and REFERENCE_CHECKOUT in node.value
                and id(node) not in docs
            ):
                found.append(f"{_rel(path)}:{node.lineno}")
    assert not found, f"string constants naming {REFERENCE_CHECKOUT}:\n" + "\n".join(found)


def _repo_python():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_every_top_level_name_is_used():
    """Every top-level function and UPPER_CASE constant of cello_spark/
    and tools/ is named somewhere outside its own definition: in the
    repo's Python (tests, perfbench/ and its own module included) or in
    DOCS. A name nothing mentions has no caller left and is deleted, not
    kept. Dunder names are exempt; module entries (tools' and
    worker_daemon's `main`) count through their own `__main__` guard."""
    where: dict[str, list[tuple[str, int]]] = {}
    for path in list(_repo_python()) + DOCS:
        for i, line in enumerate(open(path, encoding="utf-8"), 1):
            for word in set(re.findall(r"\w+", line)):
                where.setdefault(word, []).append((path, i))
    library = sorted(
        glob.glob(os.path.join(REPO, "cello_spark", "**", "*.py"), recursive=True)
    ) + sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    unused = []
    for path in library:
        for node in ast.parse(open(path).read(), path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    n.id
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name) and re.fullmatch(r"_?[A-Z][A-Z0-9_]*", n.id)
                ]
            else:
                continue
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                if not any(
                    f != path or not node.lineno <= i <= node.end_lineno
                    for f, i in where.get(name, [])
                ):
                    unused.append(f"{_rel(path)}:{node.lineno} {name}")
    assert not unused, "top-level names nothing else mentions:\n" + "\n".join(unused)
