"""Package layout guard: every module of the package is reachable by
imports — function-local ones included — from a production entry point,
except the pinned legacy set below.  A new module no entry point imports
is dead code and fails this test."""

import ast
import os

PKG = "planet_dump_ng_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)
ENTRY_POINTS = ("cli", "pipeline", "llm_pipeline", "worker_daemon")

#: Modules no entry point reaches, kept only because tests still check
#: them: the query registry (``plans``) of the retired scoring driver, the
#: side CLIs, the streaming jobs and the operator modules only those use.
#: They leave together with their tests; the set may only shrink.
LEGACY = {
    f"{PKG}.{m}"
    for m in (
        "ann_cli",
        "bm25_cli",
        "dataset_card",
        "dsir_cli",
        "lm_cli",
        "pindex_cli",
        "search_cli",
        "tokenizer_cli",
        "operators.layout",
        "operators.linalg",
        "operators.multimodal",
        "operators.sketches",
        "operators.skew",
        "operators.temporal",
        "operators.unigram",
        "streaming",
        "streaming.jobs",
    )
}


def _modules() -> dict[str, str]:
    """Dotted module name -> source path, for every module of the package."""
    out = {}
    for dirpath, _, files in os.walk(ROOT):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, os.path.dirname(ROOT))[: -len(".py")]
            name = rel.replace(os.sep, ".")
            out[name.removesuffix(".__init__")] = path
    return out


def _imported(name: str, path: str, modules: dict[str, str]) -> set[str]:
    """Package modules one module imports, with every parent package."""
    is_pkg = path.endswith("__init__.py")
    targets = []
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            targets += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = name.split(".")[: len(name.split(".")) - node.level + is_pkg]
                base = ".".join(parts + ([base] if base else []))
            targets.append(base)
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            targets += [f"{base}.{a.name}" for a in node.names]
    found = set()
    for t in targets:
        parts = t.split(".")
        found |= {
            ".".join(parts[:i])
            for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        }
    return found


def test_every_module_is_reachable_from_an_entry_point():
    modules = _modules()
    seen: set[str] = set()
    todo = [f"{PKG}.{m}" for m in ENTRY_POINTS] + [PKG]
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo += _imported(m, modules[m], modules)
    legacy = LEGACY | {m for m in modules if m.startswith(f"{PKG}.plans")}
    assert sorted(set(modules) - seen - legacy) == []
    # a legacy module that was deleted or became reachable leaves the set
    assert sorted(m for m in legacy if m not in modules or m in seen) == []
