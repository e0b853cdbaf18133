"""Every defaulted parameter of the package has a caller that sets it.

A parameter with one value in use is a constant, not an option: this
AST-only scan (no Spark) collects every call site in the package,
``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py`` and
``tests/``, and fails on any defaulted parameter of a package function
that no call site sets by keyword, by position, or through ``*args`` /
``**kwargs``. Calls resolve by name (``f(...)`` and ``x.f(...)``), so
names defined more than once are skipped, as are ``oracle.py``, the
registry's ``@query`` functions and the reference implementations the
tests compare against.
"""

import ast
import collections
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "fashion_knowledge_graph_spark"
CALLERS = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py",
           ROOT / "__spark_entry__.py", ROOT / "tests"]
# reference implementations kept for the tests that compare against them
REFERENCES = {"link_exact", "image_mentions_udf_chain", "simhash_py",
              "banding_recall", "lsh_params_for"}
# selectors between two implementations of one result, removed in favour
# of the size gates that already pick the plan
SELECTORS = {"rank_strategy", "engine", "num_partitions", "plan_audit"}


def _files(path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


@functools.cache
def _parse(path):
    return ast.parse(path.read_text())


def _is_query(fn):
    for d in fn.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if getattr(d, "id", getattr(d, "attr", None)) == "query":
            return True
    return False


@functools.cache
def _definitions():
    """(path, FunctionDef, is_method) for every package function."""
    out = []
    for f in _files(PKG):
        if f.name == "oracle.py":
            continue
        nodes = list(ast.walk(_parse(f)))
        methods = {id(n) for c in nodes if isinstance(c, ast.ClassDef)
                   for n in c.body}
        out += [(f, n, id(n) in methods) for n in nodes
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not _is_query(n)]
    return out


def _defaulted(fn):
    a = fn.args
    pos = a.posonlyargs + a.args
    return ([p.arg for p in pos[len(pos) - len(a.defaults):]]
            + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None])


def _set_params():
    """name -> set of parameter names some call site sets."""
    defs = _definitions()
    count = collections.Counter(fn.name for _, fn, _ in defs)
    unique = {fn.name: (fn, method) for _, fn, method in defs
              if count[fn.name] == 1}
    seen = collections.defaultdict(set)
    for src in CALLERS:
        for f in _files(src):
            for call in ast.walk(_parse(f)):
                if not isinstance(call, ast.Call):
                    continue
                name = getattr(call.func, "id",
                               getattr(call.func, "attr", None))
                if name not in unique:
                    continue
                fn, method = unique[name]
                a = fn.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                if method and not any(getattr(d, "id", None) == "staticmethod"
                                      for d in fn.decorator_list):
                    pos = pos[1:]
                starred = any(isinstance(x, ast.Starred) for x in call.args)
                seen[name].update(pos if starred else pos[:len(call.args)])
                for kw in call.keywords:
                    if kw.arg is None:
                        seen[name].update(
                            pos + [p.arg for p in a.kwonlyargs])
                    else:
                        seen[name].add(kw.arg)
    return defs, count, seen


def test_every_defaulted_parameter_is_set_somewhere():
    defs, count, seen = _set_params()
    never = sorted(
        f"{f.relative_to(ROOT)}:{fn.lineno} {fn.name}({p})"
        for f, fn, _ in defs
        if count[fn.name] == 1 and fn.name not in REFERENCES
        for p in _defaulted(fn) if p not in seen[fn.name])
    assert not never, (f"{len(never)} defaulted parameters no call site "
                       "sets:\n" + "\n".join(never))


def test_no_implementation_selectors_or_linking_top_k():
    found = sorted(
        f"{f.relative_to(ROOT)}:{fn.lineno} {fn.name}({a.arg})"
        for f, fn, _ in _definitions()
        for a in fn.args.args + fn.args.kwonlyargs
        if a.arg in SELECTORS
        or (f.name == "linking.py" and a.arg == "top_k"))
    assert not found, "\n".join(found)
