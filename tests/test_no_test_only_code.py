"""Every module-level function and class in ``graphrag_kb_server_spark/``
is reached from a real caller, and every defaulted parameter of a
package def or of a ``bench.py`` def is set by one, or the def or
parameter is on a keep list with its reason.

The real callers are the driver contract (``__spark_entry__.py``), the
bench CLI (``bench.py``), the benchmark (``perfbench/*.py``), the scripts
in ``tools/`` and the package's own module-level code. The walk is by
name over the AST: a def is reached when a reached body names it (as a
``Name`` or an ``Attribute``), and its own body is then walked. An
``x.attr`` counts only when ``x`` is not bound to an import from outside
the package (``pq.read_table`` does not reach a package ``read_table``).
The bodies of ``KEEP`` defs are walked too. A module-level alias of a
package def (``name = some_def``) is a def of its own: it must be
reached, and only then does it reach the def it names. Tests are not
roots, so a def, an alias or an option that only a test uses fails
here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE_NAME = "graphrag_kb_server_spark"

KEEP = {
    "hierarchical_communities": "G2: the leveled community hierarchy of the paper's graph operator",
    "largest_connected_component": "G2: the largest-component step of the paper's graph operator",
    "graph_modularity": "test_ref_communities measures the 98.5%-of-Leiden bound with it",
    "upsert": "S8: versioned upsert of re-crawled pages into a table",
    "incremental_docs": "T9: the documents an incremental index pass still has to add",
    "truncate_by_token_budget": "Spark twin the driver token_budget_prefix is pinned to",
    "token_count_udf": "Spark tokenizer of truncate_by_token_budget",
    "vector_similarity_chunk_pick": "Spark twin the driver vector_pick_ids is pinned to",
    "golden_triples": "plain-Python reference twin of extract_mentions",
    "precision_recall": "scores the golden_* twins against the Spark operators",
}

#: ``module.def.param`` of the defaulted parameters no real caller sets.
#: Only four kinds stay, and each reason names its kind:
#: - model slot: where a real model or user input plugs in; a test
#:   drives each with a fake;
#: - parity selector: picks the distributed path that a parity test
#:   compares with its driver twin;
#: - fixture-gated test: set only by a test that skips where its fixtures
#:   are absent, so it cannot be checked on every host;
#: - guard bound: the bound of a safety guard that a test trips.
KEEP_OPTIONS = {
    "plans.query_pipeline.answer_query.llm_fn": "model slot: a real model answers here (PAPER §0, SURVEY §7)",
    "operators.reports.generate_reports.report_fn": "model slot: a real model writes community reports here",
    "operators.personalization.generate_questions.question_fn": "model slot: a real model writes topic questions here",
    "plans.query_pipeline.kg_query.user_keywords": "model slot: the reference's union of user-supplied keywords (SURVEY Q1)",
    "operators.personalization.match_and_score.score_fn": "model slot: a real model scores candidates here; test_p2_custom_fn_arrow_batched drives a fake",
    "operators.personalization.summarize_documents.summarize_fn": "model slot: a real model summarizes documents here; test_p7_summarize_documents drives a fake",
    "operators.centrality.approx_betweenness.driver_cap": "parity selector: 0 forces the distributed path test_r06_driver_parity compares with the driver twin",
    "operators.linking.canonical_map.driver_cap": "parity selector: 0 forces the distributed path test_r06_driver_parity compares with the driver twin",
    "operators.communities.hierarchical_communities.max_cluster_size": "fixture-gated test: test_ref_communities forces splits on the reference graph",
    "operators.communities.hierarchical_communities.max_levels": "fixture-gated test: test_ref_communities bounds the levels",
    "operators.communities.hierarchical_communities.refine": "fixture-gated test: test_ref_communities measures the refinement gain",
    "operators.communities.community_hierarchy.period": "fixture-gated test: test_communities_schema pins the period column",
    "operators.tokenize.bpe_merges.max_words": "guard bound: test_tokenize trips the distinct-word guard",
}


def _roots(root: Path) -> list[Path]:
    return [root / "__spark_entry__.py", root / "bench.py",
            *sorted((root / "perfbench").glob("*.py")),
            *sorted((root / "tools").glob("*.py"))]


def _foreign(tree: ast.AST) -> set[str]:
    """Names a piece of code binds to imports from outside the package."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level or (node.module or "").startswith(PACKAGE_NAME):
                continue
            out |= {a.asname or a.name for a in node.names}
        elif isinstance(node, ast.Import):
            out |= {a.asname or a.name.split(".")[0] for a in node.names
                    if not a.name.startswith(PACKAGE_NAME)}
    return out


def _names(tree: ast.AST, aliases: dict[str, str], foreign: set[str]) -> set[str]:
    """Identifiers a piece of code refers to. An ``x.attr`` whose ``x``
    is in ``foreign`` does not count. Each ``import x as y`` found is
    recorded in ``aliases`` as ``y -> x``."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            if not (isinstance(node.value, ast.Name) and node.value.id in foreign):
                out.add(node.attr)
        elif isinstance(node, ast.alias) and node.asname:
            aliases[node.asname] = node.name.rsplit(".", 1)[-1]
    return out


def _def_alias(node: ast.AST, defs) -> list[str]:
    """The names a module-level ``name = some_def`` binds to a package
    def; empty for any other statement."""
    if (isinstance(node, ast.Assign) and isinstance(node.value, ast.Name)
            and node.value.id in defs
            and all(isinstance(t, ast.Name) for t in node.targets)):
        return [t.id for t in node.targets]
    return []


def reached(root: Path = ROOT, keep=KEEP) -> tuple[dict[str, list[str]], set[str]]:
    """``name -> [module]`` of every package def, and the names reached."""
    defs: dict[str, list[tuple[str, ast.AST, set[str]]]] = {}
    aliases: dict[str, str] = {}
    todo: set[str] = set(keep)
    modules = []
    for path in sorted((root / PACKAGE_NAME).rglob("*.py")):
        mod = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        foreign = _foreign(tree)
        modules.append((mod, tree, foreign))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((mod, node, foreign))
    for mod, tree, foreign in modules:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                for dec in node.decorator_list:
                    todo |= _names(dec, aliases, foreign)
            elif names := _def_alias(node, defs):
                for name in names:
                    defs.setdefault(name, []).append((mod, node, foreign))
            else:
                todo |= _names(node, aliases, foreign)
    for path in _roots(root):
        tree = ast.parse(path.read_text())
        todo |= _names(tree, aliases, _foreign(tree))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        if name in aliases:
            todo.add(aliases[name])
        for _, node, foreign in defs.get(name, ()):
            todo |= _names(node, aliases, foreign) - seen
    return {n: [m for m, _, _ in w] for n, w in defs.items()}, seen


def test_every_package_def_has_a_real_caller():
    defs, seen = reached()
    missing = sorted(f"{m}:{n}" for n, mods in defs.items()
                     if n not in seen and n not in KEEP for m in mods)
    assert not missing, (
        "reached only from tests or from nothing; delete them or give each "
        "a real caller: " + ", ".join(missing))


def test_keep_list_is_exact():
    """Each kept name is a package def that the real callers alone do
    not reach."""
    defs, _ = reached()
    _, seen = reached(keep=())
    assert not [n for n in KEEP if n not in defs or n in seen]


def test_attribute_of_a_foreign_import_reaches_nothing(tmp_path):
    """A package def named like a pyarrow function, used only by a test,
    is not reached through ``pq.write_table`` in a real caller."""
    pkg = tmp_path / PACKAGE_NAME
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "store.py").write_text(
        "import pyarrow.parquet as pq\n\n\n"
        "def save(table, path):\n    pq.write_table(table, path)\n\n\n"
        "def write_table(table, path):\n    return None\n")
    (tmp_path / "__spark_entry__.py").write_text(
        f"from {PACKAGE_NAME}.store import save\n\nsave(None, 'x')\n")
    (tmp_path / "bench.py").write_text("")
    _, seen = reached(tmp_path, keep=())
    assert "save" in seen
    assert "write_table" not in seen


def test_alias_of_a_package_def_must_be_reached(tmp_path):
    """A module-level alias of a package def that only a test reads is
    not reached, and does not reach the def it names; one a real caller
    reads reaches it."""
    pkg = tmp_path / PACKAGE_NAME
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "def run():\n    return 1\n\n\n"
        "def helper():\n    return 2\n\n\n"
        "old_helper = helper\nold_run = run\n")
    (tmp_path / "__spark_entry__.py").write_text(
        f"from {PACKAGE_NAME}.ops import old_run\n\nold_run()\n")
    (tmp_path / "bench.py").write_text("")
    defs, seen = reached(tmp_path, keep=())
    assert {"old_helper", "old_run"} <= set(defs)
    assert {"old_run", "run"} <= seen
    assert not {"old_helper", "helper"} & seen


# ── defaulted parameters ─────────────────────────────────────────────

def _defaulted(fn: ast.AST) -> list[tuple[str, int | None]]:
    """(name, position) of a def's defaulted parameters; None for
    keyword-only ones."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    return out + [(a.arg, None) for a, d in
                  zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]


def _option_defs(root: Path):
    """(key, callee name, def node, is method) of every package def
    outside golden.py and of every def in ``bench.py``; a class's
    ``__init__`` is called by the class name. The key is
    ``module.qualname``, with ``bench`` as bench.py's module."""
    out = []

    def walk(tree, mod, cls):
        for node in ast.iter_child_nodes(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in node.decorator_list)
                qual = f"{cls}.{node.name}" if cls else node.name
                callee = cls if cls and node.name == "__init__" else node.name
                out.append((f"{mod}.{qual}", callee, node, bool(cls) and not static))
                walk(node, mod, None)
            elif isinstance(node, ast.ClassDef):
                walk(node, mod, node.name)
            else:
                walk(node, mod, cls)

    for path in sorted((root / PACKAGE_NAME).rglob("*.py")):
        if path.name == "golden.py":
            continue
        rel = path.relative_to(root / PACKAGE_NAME).with_suffix("")
        walk(ast.parse(path.read_text()), ".".join(rel.parts), None)
    walk(ast.parse((root / "bench.py").read_text()), "bench", None)
    return out


def _calls(paths: list[Path]) -> dict[str, list[tuple[int, bool, set[str], bool]]]:
    """callee name -> [(positional count, has ``*args``, keyword names,
    has an unresolved ``**``)] over every call in ``paths``.
    ``functools.partial(f, ...)`` counts as a call of ``f``; the keys of
    a ``**{...}`` or ``**dict(...)`` literal count as keywords."""
    out: dict[str, list] = {}

    def name_of(f):
        return f.id if isinstance(f, ast.Name) else (
            f.attr if isinstance(f, ast.Attribute) else None)

    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            callee, args = name_of(node.func), list(node.args)
            if callee == "partial" and args:
                callee, args = name_of(args[0]), args[1:]
            if callee is None:
                continue
            kw, star_kw = set(), False
            for k in node.keywords:
                if k.arg is not None:
                    kw.add(k.arg)
                elif isinstance(k.value, ast.Dict):
                    kw |= {e.value for e in k.value.keys
                           if isinstance(e, ast.Constant)}
                elif (isinstance(k.value, ast.Call)
                      and name_of(k.value.func) == "dict"):
                    kw |= {kk.arg for kk in k.value.keywords if kk.arg}
                else:
                    star_kw = True
            n_pos = sum(not isinstance(a, ast.Starred) for a in args)
            starred = any(isinstance(a, ast.Starred) for a in args)
            out.setdefault(callee, []).append((n_pos, starred, kw, star_kw))
    return out


def unset_options(root: Path = ROOT) -> list[str]:
    """``module.def.param`` of every defaulted parameter of a package def
    (golden twins exempt) or a bench.py def that no call in a real
    caller sets, by keyword, by position or through ``*``/``**``."""
    calls = _calls([*_roots(root), *sorted((root / PACKAGE_NAME).rglob("*.py"))])
    out = []
    for key, callee, fn, is_method in _option_defs(root):
        for param, pos in _defaulted(fn):
            ix = None if pos is None else pos - is_method
            if not any(param in kw or star_kw or starred and ix is not None
                       or ix is not None and n_pos > ix
                       for n_pos, starred, kw, star_kw in calls.get(callee, ())):
                out.append(f"{key}.{param}")
    return out


def test_every_option_is_set_by_a_real_caller():
    """A default that no real caller overrides is a constant: inline it
    or name it at module level instead of taking it as a parameter.
    bench.py's own defs count too, and a call inside bench.py sets
    them."""
    missing = [o for o in unset_options() if o not in KEEP_OPTIONS]
    assert not missing, (
        "no real caller sets these parameters; make each a constant or "
        "give it a real caller: " + ", ".join(missing))


def test_keep_options_is_exact():
    """Each kept option is a defaulted parameter no real caller sets."""
    unset = set(unset_options())
    assert not [o for o in KEEP_OPTIONS if o not in unset]
