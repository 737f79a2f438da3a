"""Every module-level function and class in ``graphrag_kb_server_spark/``
is reached from a real caller, or is on ``KEEP`` with its reason.

The real callers are the driver contract (``__spark_entry__.py``), the
bench CLI (``bench.py``), the benchmark (``perfbench/*.py``), the scripts
in ``tools/`` and the package's own module-level code. The walk is by
name over the AST: a def is reached when a reached body names it (as a
``Name`` or an ``Attribute``), and its own body is then walked. A
multi-line string literal that parses as Python (``tools/scaling_run.py``
embeds the script it runs) is walked as code. Tests are not roots, so a
def that only a test calls fails here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graphrag_kb_server_spark"

KEEP = {
    "hierarchical_communities": "G2: the leveled community hierarchy of the paper's graph operator",
    "largest_connected_component": "G2: the largest-component step of the paper's graph operator",
    "graph_modularity": "test_ref_communities measures the 98.5%-of-Leiden bound with it",
    "upsert": "S8: versioned upsert of re-crawled pages into a table",
    "incremental_docs": "T9: the documents an incremental index pass still has to add",
    "truncate_by_token_budget": "Spark twin the driver token_budget_prefix is pinned to",
    "token_count_udf": "Spark tokenizer of truncate_by_token_budget",
    "vector_similarity_chunk_pick": "Spark twin the driver vector_pick_ids is pinned to",
    "golden_chunks": "the golden chunking fixture of FIXTURES.md (twin of chunk_documents)",
    "golden_triples": "plain-Python reference twin of extract_mentions",
    "precision_recall": "scores the golden_* twins against the Spark operators",
}


def _names(tree: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Identifiers a piece of code refers to, with those of any
    multi-line string literal in it that parses as Python. Each
    ``import x as y`` found is recorded in ``aliases`` as ``y -> x``."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias) and node.asname:
            aliases[node.asname] = node.name.rsplit(".", 1)[-1]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and "\n" in node.value):
            try:
                out |= _names(ast.parse(node.value), aliases)
            except SyntaxError:
                pass
    return out


def reached() -> tuple[dict[str, list[str]], set[str]]:
    """``name -> [module]`` of every package def, and the names reached."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    aliases: dict[str, str] = {}
    todo: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((mod, node))
                for dec in node.decorator_list:
                    todo |= _names(dec, aliases)
            else:
                todo |= _names(node, aliases)
    for path in [ROOT / "__spark_entry__.py", ROOT / "bench.py",
                 *sorted((ROOT / "perfbench").glob("*.py")),
                 *sorted((ROOT / "tools").glob("*.py"))]:
        todo |= _names(ast.parse(path.read_text()), aliases)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        if name in aliases:
            todo.add(aliases[name])
        for _, node in defs.get(name, ()):
            todo |= _names(node, aliases) - seen
    return {n: [m for m, _ in w] for n, w in defs.items()}, seen


def test_every_package_def_has_a_real_caller():
    defs, seen = reached()
    missing = sorted(f"{m}:{n}" for n, mods in defs.items()
                     if n not in seen and n not in KEEP for m in mods)
    assert not missing, (
        "reached only from tests or from nothing; delete them or give each "
        "a real caller: " + ", ".join(missing))


def test_keep_list_is_exact():
    """Each kept name is a package def that no real caller reaches."""
    defs, seen = reached()
    assert not [n for n in KEEP if n not in defs or n in seen]
