"""Every package module, and every package function, must be reached
from a root the system runs.

The roots are the query registry, the streaming pipeline, the driver
entry point, ``bench.py`` and the ``perfbench`` harness. The module
closure follows every import, including the ones inside functions,
through the package and through ``tools.*`` (perfbench imports
``tools.measure_sf10_composite``). A module only tests import is dead
weight: give it a caller the system runs, or delete it with its tests.
The only modules left unreached are the ``EXAMPLE_BACKED`` ones, so a
new test-only module fails here.

The function closure takes the same roots plus ``examples/`` and
follows names, attributes and imports from function to function. The
functions it leaves are the ``KEPT_UNREACHED`` ones and what they call;
``plans/`` holds registered queries and their oracles only. Pure
``ast``, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ds_caselaw_ingester_spark"

ROOTS = (
    "ds_caselaw_ingester_spark/plans/registry.py",
    "ds_caselaw_ingester_spark/streaming/pipeline.py",
    "__spark_entry__.py",
    "bench.py",
    *sorted(
        str(p.relative_to(ROOT))
        for p in (ROOT / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    ),
)

# Reached only from an example (and its tests). Each stays because an
# example in examples/ runs it; a module added here needs one too.
EXAMPLE_BACKED = {
    "ds_caselaw_ingester_spark.operators.export",
    "ds_caselaw_ingester_spark.operators.report",
    "ds_caselaw_ingester_spark.operators.sketches",
    "ds_caselaw_ingester_spark.streaming.curation_sink",
    "ds_caselaw_ingester_spark.streaming.semdedup_sink",
    "ds_caselaw_ingester_spark.streaming.sketch_sink",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_file(name: str) -> "Path | None":
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imports(path: Path) -> "set[str]":
    """Every module name `path` imports, at any depth: for ``from m
    import x`` both m and m.x (x may be a submodule), plus m's parent
    packages, which Python imports first."""
    tree = ast.parse(path.read_text(), str(path))
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here[: len(here) - node.level + 1]
                base = ".".join([*pkg, base] if base else pkg)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _reached() -> "set[str]":
    seen: set[str] = set()
    todo = [ROOT / r for r in ROOTS]
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for imp in _imports(path):
            if imp.split(".")[0] in (PACKAGE, "tools"):
                target = _module_file(imp)
                if target is not None:
                    todo.append(target)
    return seen


def test_every_package_module_is_reached_from_a_system_root():
    modules = {
        _module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")
    }
    unreached = modules - _reached()
    assert unreached == EXAMPLE_BACKED, sorted(unreached ^ EXAMPLE_BACKED)


# ---------------------------------------------------------------------------
# plans/ holds registered queries only
# ---------------------------------------------------------------------------

PLANS = ROOT / PACKAGE / "plans"


def _register_calls(tree: ast.Module):
    """(decorated function, register(...) call) for every @register."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            for d in node.decorator_list:
                if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                    yield node, d


def test_every_plans_query_is_registered():
    unregistered = []
    for path in sorted(PLANS.glob("queries_*.py")):
        tree = ast.parse(path.read_text(), str(path))
        registered = {fn.name for fn, _ in _register_calls(tree)}
        unregistered += [
            f"{path.name}:{n.name}"
            for n in tree.body
            if isinstance(n, ast.FunctionDef)
            and n.name.startswith("q_")
            and n.name not in registered
        ]
    assert not unregistered, unregistered


def test_every_plans_oracle_belongs_to_a_registered_query():
    orphans = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        used = {
            a.id
            for _, call in _register_calls(tree)
            for a in call.args[1:2]
            if isinstance(a, ast.Name)
        }
        orphans += [
            f"{path.name}:{t.id}"
            for n in tree.body
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name) and t.id.endswith("_ORACLE") and t.id not in used
        ]
    assert not orphans, orphans


# ---------------------------------------------------------------------------
# function-level closure
# ---------------------------------------------------------------------------

# Package functions no system root or example calls, each kept for the
# reason given. The set may only shrink: an entry the system comes to
# call fails the test until it is removed here.
KEPT_UNREACHED = {
    "operators.quality_clf.py_score": "Python reference the quality-gate engines are compared against",
    "operators.quality_clf.py_features": "Python reference featurizer behind py_score",
    "operators.quality_clf.py_replay_train": "Python replay the classifier training is compared against",
    "operators.repetition.py_repetition_profile": "Python reference both repetition engines are compared against",
    "operators.unigram_lm.py_doc_perplexity": "Python reference the LM perplexity engines are compared against",
    "operators.repetition.repetition_profile": "relational form checked against the registered repetition_profile oracle",
    "operators.unigram_lm.unigram_perplexity": "relational perplexity the batch LM scorer is compared against",
    "operators.unigram_lm.unigram_fit": "trains the vocab the LM gate scores with",
    "operators.pq.load_index": "reads the index format the curate_and_index example's save_index writes",
    "operators.curation.curate_increment_seq": "batch incremental curation API, pinned by its equivalence-contract tests",
    "operators.curation.curation_band_index_seq": "band index the batch incremental curation API extends",
    "streaming.curation_sink.migrate_index_to_bucketed": "remedy the curation sink's layout errors name",
    "streaming.curation_sink.rebuild_index_meta": "remedy the curation sink's sidecar errors name",
}


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text(), str(path))
        here = self.name.split(".")
        if path.name != "__init__.py":
            here = here[:-1]
        self.alias: dict[str, str] = {}  # local name -> dotted target
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.split(".")[0]
                    self.alias[local] = a.name if a.asname else local
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = here[: len(here) - node.level + 1]
                    base = ".".join([*pkg, base] if base else pkg)
                for a in node.names:
                    self.alias[a.asname or a.name] = f"{base}.{a.name}"
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }


class _Closure:
    """Nodes: ("def", module, name) for a top-level def; ("mod", module)
    for a module's top-level code (imports run it); ("file", module) for
    a root, all of whose code counts, string constants included
    (perfbench wraps functions by name)."""

    def __init__(self):
        self.mods: dict = {}

    def mod(self, name: str) -> "_Module | None":
        if name not in self.mods:
            f = _module_file(name)
            self.mods[name] = _Module(f) if f else None
        return self.mods[name]

    def resolve(self, dotted: str):
        parts = dotted.split(".")
        if parts[0] not in (PACKAGE, "tools"):
            return None
        for i in range(len(parts), 0, -1):
            m = self.mod(".".join(parts[:i]))
            if m is None:
                continue
            rest = parts[i:]
            if not rest:
                return ("mod", m.name)
            if rest[0] in m.defs:
                return ("def", m.name, rest[0])
            if rest[0] in m.alias:
                return self.resolve(".".join([m.alias[rest[0]], *rest[1:]]))
            return None
        return None

    def refs(self, m: _Module, nodes) -> set:
        out = set()
        for top in nodes:
            for n in ast.walk(top):
                if isinstance(n, (ast.Import, ast.ImportFrom)):
                    for a in n.names:
                        local = a.asname or a.name.split(".")[0]
                        target = a.name if isinstance(n, ast.Import) else m.alias.get(local)
                        r = self.resolve(target) if target else None
                        if r:
                            out.add(r)
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    out.add(("str", n.value))
                elif isinstance(n, (ast.Name, ast.Attribute)):
                    chain = []
                    while isinstance(n, ast.Attribute):
                        chain.append(n.attr)
                        n = n.value
                    if not isinstance(n, ast.Name):
                        continue
                    chain = [n.id, *reversed(chain)]
                    if chain[0] in m.defs:
                        out.add(("def", m.name, chain[0]))
                    elif chain[0] in m.alias:
                        for k in range(len(chain), 0, -1):
                            r = self.resolve(".".join([m.alias[chain[0]], *chain[1:k]]))
                            if r:
                                out.add(r)
                                break
        return out

    def run(self, roots: "list[Path]", extra=()) -> set:
        seen: set = set()
        todo = [("file", _module_name(p)) for p in roots] + list(extra)
        for p in roots:
            self.mods.setdefault(_module_name(p), _Module(p))
        while todo:
            node = todo.pop()
            if node in seen:
                continue
            seen.add(node)
            m = self.mod(node[1])
            if m is None:
                continue
            if node[0] == "file" or m.name.startswith("tools"):
                rs = self.refs(m, [m.tree])
                targets = [self.mod(r[1]) for r in rs if r[0] in ("mod", "def")]
                for r in rs:
                    if r[0] == "str":
                        todo += [("def", t.name, r[1]) for t in targets if t and r[1] in t.defs]
                    elif r[0] == "mod" and r[1].startswith("tools"):
                        todo.append(("file", r[1]))
                    else:
                        todo.append(r)
            elif node[0] == "mod":
                todo += [("mod", ".".join(m.name.split(".")[:i])) for i in range(1, m.name.count(".") + 1)]
                todo += [r for r in self.refs(m, self._module_level(m)) if r[0] != "str"]
            else:
                todo.append(("mod", m.name))
                todo += [r for r in self.refs(m, [m.defs[node[2]]]) if r[0] != "str"]
        return {(n[1], n[2]) for n in seen if n[0] == "def"}

    @staticmethod
    def _module_level(m: _Module) -> list:
        """Top-level code an import runs: statements, decorators, default
        values, and each @register-ed function (the registry holds it)."""
        nodes = []
        for s in m.tree.body:
            if isinstance(s, ast.ClassDef):
                nodes += s.decorator_list
            elif isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                nodes += s.decorator_list + s.args.defaults
                nodes += [d for d in s.args.kw_defaults if d is not None]
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                    for d in s.decorator_list
                ):
                    nodes.append(ast.Name(id=s.name, ctx=ast.Load()))
            else:
                nodes.append(s)
        return nodes


def test_every_package_function_is_reached_or_kept():
    roots = [ROOT / r for r in ROOTS] + sorted((ROOT / "examples").glob("*.py"))
    closure = _Closure()
    functions = {
        (m.name, n)
        for p in (ROOT / PACKAGE).rglob("*.py")
        for m in [closure.mod(_module_name(p))]
        for n in m.defs
    }
    reached = closure.run(roots)
    kept = {(f"{PACKAGE}.{k.rpartition('.')[0]}", k.rpartition(".")[2]) for k in KEPT_UNREACHED}
    assert kept <= functions, sorted(kept - functions)
    assert not kept & reached, ("now reached, drop from KEPT_UNREACHED", sorted(kept & reached))
    behind_kept = closure.run(roots, extra=[("def", *k) for k in kept]) - reached
    unreached = functions - reached
    assert unreached == behind_kept, sorted(unreached - behind_kept)
