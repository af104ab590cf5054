"""Package reachability guard (AST only, no Spark).

The package holds only what a query, job or CLI runs. This walks the
call graph from the roots below, resolving every name per module
(``from X import f as g``, module aliases such as ``D.f``, and imports
inside function bodies), and fails with every top-level function or
class in the package that no root reaches and that ``ALLOWED`` does not
name.

Roots:
- the query registry (``plans/registry.py``);
- the ``__main__`` block of every ``jobs/`` CLI;
- ``scripts/``, ``bench.py``, ``perfbench/`` and ``__spark_entry__.py``.

A second guard holds every defaulted parameter of a public function in
``operators/``, ``functions/``, ``sources/``, ``jobs/`` and
``session.py`` to one that some call in the package, ``scripts/``,
``bench.py``, ``perfbench/``, ``__spark_entry__.py`` or ``tests/``
passes; ``ALLOWED_OPTIONS`` names the exceptions.

Run as a script to print the unreached definitions and the options no
caller sets: ``python tests/test_reachability.py``.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mapreduce_stockheadlines_spark"

# name -> reason. A name here is kept although no root reaches it, and
# counts as a root itself, so its helpers stay reachable.
ALLOWED = {
    # Test references: a remaining test compares a live operator
    # against them.
    "operators.sampling.dsir_log_ratios":
        "two-census reference that tests/test_sampling.py pins "
        "dsir_fit_scores (the curate CLI's DSIR stage) against",
    "operators.sampling.dsir_scores":
        "separate-target scorer that tests/test_sampling.py pins "
        "dsir_fit_scores against",
    "operators.textstats.winnow_gram_col":
        "one-expression semantic reference the staged winnow grams "
        "(x08, curate) are pinned equal to; the plan-guard test builds "
        "its inlining pathology from it",
    # CLI artifact writers: the only way to produce an artifact that a
    # CLI flag reads, or the path a CLI message names.
    "operators.bpe.save_bpe": "writes what curate --bpe-dir reads",
    "operators.unigram.save_unigram":
        "writes what curate --unigram-dir reads",
    "operators.wordpiece.save_wordpiece":
        "writes what curate --wordpiece-dir reads",
    "operators.relevance.save_bigram_lm": "writes what curate --lm-dir reads",
    # Reached only by their own unit tests since the streaming ingest
    # that called them was deleted: ROADMAP item 5 stage 2 decides
    # their fate with those tests.
    "sources.versioned.write_table_version": "ROADMAP item 5 stage 2",
    "sources.versioned.read_table": "ROADMAP item 5 stage 2",
    "sources.versioned._reclaim_stale_claim": "ROADMAP item 5 stage 2",
    "operators.sketches.distinct_sketches": "ROADMAP item 5 stage 2",
    "operators.sketches.upsert_sketches": "ROADMAP item 5 stage 2",
    "operators.sketches.kmv_merge": "ROADMAP item 5 stage 2",
    "operators.membership.bloom_lookup":
        "ROADMAP item 5 stage 2; the Arrow twin of bloom_lookup_join "
        "(x01), pinned equal to it",
    "operators.membership.bloom_gated_anti_join": "ROADMAP item 5 stage 2",
}

_MODULE = "<module>"
_MAIN = "<main>"


def _is_main_guard(node: ast.stmt) -> bool:
    return (
        isinstance(node, ast.If)
        and isinstance(node.test, ast.Compare)
        and isinstance(node.test.left, ast.Name)
        and node.test.left.id == "__name__"
    )


class _Module:
    def __init__(self, name: str, path: str, in_package: bool):
        self.name = name
        self.in_package = in_package
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), path)
        self.defs: dict[str, ast.stmt] = {}
        self.top_aliases: dict[str, tuple[str, str | None]] | None = None
        for node in self.tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                self.defs[node.name] = node

    def absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.name.split(".")
        # A module's package is its name minus the last part.
        base = parts[: len(parts) - node.level]
        return ".".join(base + ([node.module] if node.module else []))


def _load(tests: bool = False) -> dict[str, _Module]:
    """The package and the external roots; with ``tests``, also the
    test modules, as callers only (they are no roots)."""
    mods: dict[str, _Module] = {}
    pkg_dir = os.path.join(ROOT, PKG)
    for dirpath, _, files in os.walk(pkg_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), ROOT)[:-3]
            name = rel.replace(os.sep, ".")
            if name.endswith(".__init__"):
                name = name[: -len(".__init__")]
            mods[name] = _Module(name, os.path.join(dirpath, fn), True)
    externals = [os.path.join(ROOT, "bench.py"),
                 os.path.join(ROOT, "__spark_entry__.py")]
    test_files = []
    for d in ("scripts", "perfbench", "tests"):
        for fn in sorted(os.listdir(os.path.join(ROOT, d))):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(ROOT, d, fn)
            if d == "tests" or fn.startswith("test_"):
                test_files.append(path)
            else:
                externals.append(path)
    for kind, paths in (("<ext>", externals),
                        ("<test>", test_files if tests else [])):
        for path in paths:
            rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
            mods[f"{kind}.{rel}"] = _Module(f"{kind}.{rel}", path, False)
    return mods


class _Graph:
    def __init__(self, mods: dict[str, _Module]):
        self.mods = mods
        self.edges: dict[tuple[str, str], set[tuple[str, str]]] = {}
        for m in mods.values():
            self._module_edges(m)

    def _target(self, mod: str, name: str, seen=()) -> tuple[str, str] | None:
        """Resolve ``name`` as bound at the top level of module ``mod``
        to a definition node, following re-exports."""
        if f"{mod}.{name}" in self.mods:
            return (f"{mod}.{name}", _MODULE)
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return (mod, name)
        alias = self._aliases(m).get(name)
        if alias is None:
            return None
        return self._target(alias[0], alias[1], seen + ((mod, name),)) \
            if alias[1] else (alias[0], _MODULE)

    @staticmethod
    def _bind(m: _Module, node: ast.AST, out: dict) -> None:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
        elif isinstance(node, ast.ImportFrom):
            src = m.absolute(node)
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)

    def _aliases(self, m: _Module, scope: ast.AST | None = None):
        """Names the imports bind -> (module, attribute or None): the
        module-level imports, overridden by those inside ``scope``."""
        if m.top_aliases is None:
            m.top_aliases = {}
            todo = list(m.tree.body)
            while todo:
                node = todo.pop(0)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef, ast.Lambda)):
                    continue
                self._bind(m, node, m.top_aliases)
                todo.extend(ast.iter_child_nodes(node))
        out = dict(m.top_aliases)
        if scope is not None:
            for node in ast.walk(scope):
                self._bind(m, node, out)
        return out

    def _resolve(self, m: _Module, aliases: dict,
                 node: ast.AST) -> tuple[str, str] | None:
        """The definition a Name or dotted Attribute expression denotes
        (a bare imported-module name denotes that module), or None."""
        if isinstance(node, ast.Name):
            if node.id in aliases:
                src, attr = aliases[node.id]
                return self._target(src, attr) if attr else (src, _MODULE)
            return (m.name, node.id) if node.id in m.defs else None
        chain = []
        cur = node
        while isinstance(cur, ast.Attribute):
            chain.append(cur.attr)
            cur = cur.value
        if not chain or not isinstance(cur, ast.Name):
            return None
        if cur.id in aliases:
            src, attr = aliases[cur.id]
            mod = f"{src}.{attr}" if attr else src
        else:
            mod = cur.id
        # ``D.f``, ``pkg.sub.f``: walk the dotted chain.
        *path, last = reversed(chain)
        for part in path:
            if f"{mod}.{part}" not in self.mods:
                return None
            mod = f"{mod}.{part}"
        if mod not in self.mods or f"{mod}.{last}" in self.mods:
            return None
        return self._target(mod, last)

    def _refs(self, m: _Module, nodes: list[ast.AST],
              scope: ast.AST | None = None) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        aliases = self._aliases(m, scope)
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, (ast.Name, ast.Attribute)):
                    t = self._resolve(m, aliases, node)
                    if t:
                        out.add(t)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    # Importing a module runs its module-level code.
                    if isinstance(node, ast.Import):
                        srcs = [a.name for a in node.names]
                    else:
                        src = m.absolute(node)
                        srcs = [src] + [f"{src}.{a.name}" for a in node.names]
                    for s in srcs:
                        parts = s.split(".")
                        for i in range(1, len(parts) + 1):
                            name = ".".join(parts[:i])
                            if name in self.mods:
                                out.add((name, _MODULE))
        return out

    def _module_edges(self, m: _Module) -> None:
        top: list[ast.AST] = []
        main: list[ast.AST] = []
        for node in m.tree.body:
            if node in m.defs.values():
                body = self._refs(m, [node], scope=node)
                self.edges[(m.name, node.name)] = body | {(m.name, _MODULE)}
            elif _is_main_guard(node):
                main.append(node)
            else:
                top.append(node)
        self.edges[(m.name, _MODULE)] = self._refs(m, top)
        self.edges[(m.name, _MAIN)] = self._refs(m, main) | {(m.name, _MODULE)}

    def reach(self, roots: set[tuple[str, str]]) -> set[tuple[str, str]]:
        seen: set[tuple[str, str]] = set()
        todo = list(roots)
        while todo:
            n = todo.pop()
            if n in seen:
                continue
            seen.add(n)
            todo.extend(self.edges.get(n, ()))
        return seen


def _roots(mods: dict[str, _Module]) -> set[tuple[str, str]]:
    roots: set[tuple[str, str]] = set()
    for name, m in mods.items():
        if not m.in_package:
            roots |= {(name, _MODULE), (name, _MAIN)}
            roots |= {(name, d) for d in m.defs}
        elif name.startswith(f"{PKG}.jobs."):
            roots.add((name, _MAIN))
    roots.add((f"{PKG}.plans.registry", _MODULE))
    for qual in ALLOWED:
        mod, _, name = qual.rpartition(".")
        roots.add((f"{PKG}.{mod}", name))
    return roots


def unreached() -> list[str]:
    """Package definitions that no root reaches, as ``module.name``
    relative to the package."""
    mods = _load()
    live = _Graph(mods).reach(_roots(mods))
    out = []
    for name, m in mods.items():
        if not m.in_package:
            continue
        for d in m.defs:
            if (name, d) not in live:
                out.append(f"{name[len(PKG) + 1:]}.{d}")
    return sorted(out)


def test_every_package_definition_is_reached_from_a_root():
    dead = unreached()
    assert not dead, (
        "package definitions that no query, job, CLI or script reaches "
        "(delete them, or name them in ALLOWED with a reason):\n  "
        + "\n  ".join(dead)
    )


def test_allowlist_names_existing_unreached_definitions():
    mods = _load()
    for qual in ALLOWED:
        mod, _, name = qual.rpartition(".")
        assert name in mods[f"{PKG}.{mod}"].defs, qual
    # An allowlisted name that a root reaches anyway is stale.
    without = _Graph(mods).reach(
        _roots(mods) - {(f"{PKG}.{q.rpartition('.')[0]}", q.rpartition(".")[2])
                        for q in ALLOWED}
    )
    stale = [
        q for q in ALLOWED
        if (f"{PKG}.{q.rpartition('.')[0]}", q.rpartition(".")[2]) in without
    ]
    assert not stale, f"allowlisted but reached from a root: {stale}"


# Option guard: every defaulted parameter of a public package function
# is one that some call passes. A default no call overrides is a fork
# nobody runs; write the value at its use site instead.
_OPTION_SCOPE = ("operators.", "functions.", "sources.", "jobs.", "session")
# Parameters that bind a column of the caller's frame name data, not a
# tuning value.
_COLUMN_SUFFIXES = ("_col", "_cols", "_alias")
_COLUMN_NAMES = {"alias", "left_ts", "right_ts", "left_id", "right_id",
                 "left_text", "right_text"}

# "module.function(param)" -> reason. Only parameters that a caller
# outside the package passes by keyword, with the default value (which
# the guard does not count as setting it), so removing them would break
# that caller.
ALLOWED_OPTIONS = {
    "operators.dedup.lsh_candidate_pairs(num_hashes)":
        "perfbench's curate workload passes num_hashes=8; it must also "
        "equal the signature width that callers set through "
        "minhash_signature(num_hashes=)",
    "operators.dedup.lsh_candidate_pairs(bands)":
        "perfbench's curate workload passes bands=4",
}


_NO_VALUE = object()


def _literal(node: ast.AST, consts: dict) -> object:
    """The value of a literal or of a module constant bound to one,
    else ``_NO_VALUE``."""
    if isinstance(node, ast.Name):
        return consts.get(node.id, _NO_VALUE)
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError):
        return _NO_VALUE


def _constants(m: _Module) -> dict[str, object]:
    """Module-level names bound to literals (``K = 0.5``, ``A, B = 1, 2``)."""
    out = {}
    for node in m.tree.body:
        if not isinstance(node, ast.Assign) or len(node.targets) != 1:
            continue
        t, v = node.targets[0], node.value
        pairs = [(t, v)]
        if isinstance(t, ast.Tuple) and isinstance(v, ast.Tuple):
            pairs = list(zip(t.elts, v.elts))
        for name, value in pairs:
            val = _literal(value, {})
            if isinstance(name, ast.Name) and val is not _NO_VALUE:
                out[name.id] = val
    return out


def _options(mods: dict[str, _Module]) -> dict[str, tuple]:
    """"module.function(param)" -> (module, function, param, positional
    index or None for keyword-only, default value or ``_NO_VALUE`` when
    it is no literal) for every defaulted parameter in scope."""
    out = {}
    for name, m in mods.items():
        rel = name[len(PKG) + 1:]
        if not m.in_package or not rel.startswith(_OPTION_SCOPE):
            continue
        consts = _constants(m)
        for fn, node in m.defs.items():
            if fn.startswith("_") or isinstance(node, ast.ClassDef):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [(p.arg, i, a.defaults[i - first])
                      for i, p in enumerate(pos) if i >= first]
            params += [(p.arg, None, d) for p, d in
                       zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, i, d in params:
                if not (p.endswith(_COLUMN_SUFFIXES) or p in _COLUMN_NAMES):
                    out[f"{rel}.{fn}({p})"] = (
                        name, fn, p, i, _literal(d, consts)
                    )
    return out


def _unset(mods: dict[str, _Module]) -> list[str]:
    """Options no call in the package, scripts, benchmarks or tests
    passes, positionally or by keyword (``*args``/``**kwargs`` count as
    passing every one). An argument that is a literal equal to the
    default repeats it and sets nothing. A call through a bare name the
    imports do not bind (a local unpacked from a helper that returns
    imported functions) counts for every public function of that
    name."""
    graph = _Graph(mods)
    opts = _options(mods)
    by_name: dict[str, set[tuple[str, str]]] = {}
    for mod, fn, _, _, _ in opts.values():
        by_name.setdefault(fn, set()).add((mod, fn))
    calls: dict[tuple[str, str], list[ast.Call]] = {}
    for m in mods.values():
        for top in m.tree.body:
            scoped = isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            aliases = graph._aliases(m, top if scoped else None)
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                t = graph._resolve(m, aliases, n.func)
                if t:
                    targets = {t}
                elif isinstance(n.func, ast.Name):
                    targets = by_name.get(n.func.id, ())
                else:
                    continue
                for t in targets:
                    calls.setdefault(t, []).append(n)

    def sets(arg: ast.AST, default: object) -> bool:
        # type too: 1 == 1.0 == True, but each selects a different value
        val = _literal(arg, {})
        return val is _NO_VALUE or default is _NO_VALUE or (
            type(val), val) != (type(default), default)

    def passes(c: ast.Call, p: str, i: int | None, default: object) -> bool:
        for k in c.keywords:
            if k.arg is None or (k.arg == p and sets(k.value, default)):
                return True
        if i is None:
            return False
        star = any(isinstance(a, ast.Starred) for a in c.args[: i + 1])
        return star or (len(c.args) > i and sets(c.args[i], default))

    return sorted(
        opt for opt, (mod, fn, p, i, d) in opts.items()
        if not any(passes(c, p, i, d) for c in calls.get((mod, fn), ()))
    )


def unset_options() -> list[str]:
    """Options no caller sets that ``ALLOWED_OPTIONS`` does not name."""
    return [o for o in _unset(_load(tests=True)) if o not in ALLOWED_OPTIONS]


def test_every_option_is_set_by_a_caller():
    unset = unset_options()
    assert not unset, (
        "defaulted parameters that no query, job, CLI, script, benchmark "
        "or test sets (make each the fixed value it already has, or name "
        "it in ALLOWED_OPTIONS with a reason):\n  " + "\n  ".join(unset)
    )


def test_option_allowlist_names_existing_unset_options():
    mods = _load(tests=True)
    missing = sorted(set(ALLOWED_OPTIONS) - set(_options(mods)))
    assert not missing, f"allowlisted options that do not exist: {missing}"
    # An allowlisted option that a caller sets anyway is stale.
    stale = sorted(set(ALLOWED_OPTIONS) - set(_unset(mods)))
    assert not stale, f"allowlisted but set by a caller: {stale}"


def test_lineage_cuts_go_through_session_checkpoint():
    """Every lineage cut in the package calls ``session.checkpoint``, so
    one configured checkpoint dir decides local versus reliable for all
    of them."""
    calls = sorted(
        f"{name}:{n.lineno} .{n.func.attr}("
        for name, m in _load().items()
        if m.in_package and name != f"{PKG}.session"
        for n in ast.walk(m.tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("checkpoint", "localCheckpoint")
    )
    assert not calls, (
        "lineage cuts that bypass session.checkpoint:\n  " + "\n  ".join(calls)
    )


def test_stage_timing_lives_in_one_helper():
    """Builder sections are timed by ``plans.extensions._stage`` alone:
    no timing sink or per-builder timer exists in the package, and no
    ``plans/`` code outside ``_stage`` calls the ``time`` module."""
    banned = {"_stage_secs", "_mark", "_probe"}
    hits = []
    for name, m in _load().items():
        if not m.in_package:
            continue
        # names bound to the time module, and names imported from it
        mod_names, fn_names = set(), set()
        for n in ast.walk(m.tree):
            if isinstance(n, ast.Import):
                mod_names |= {a.asname or a.name for a in n.names
                              if a.name == "time"}
            elif isinstance(n, ast.ImportFrom) and n.module == "time":
                fn_names |= {a.asname or a.name for a in n.names}
        skip = {
            id(x)
            for n in m.tree.body
            if name == f"{PKG}.plans.extensions"
            and isinstance(n, ast.FunctionDef) and n.name == "_stage"
            for x in ast.walk(n)
        }
        for n in ast.walk(m.tree):
            ident = (
                n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute)
                else n.arg if isinstance(n, (ast.arg, ast.keyword))
                else n.name if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                else None
            )
            if ident in banned:
                hits.append(f"{name}:{n.lineno} {ident}")
            if (
                name.startswith(f"{PKG}.plans.")
                and isinstance(n, ast.Call)
                and id(n) not in skip
                and (
                    isinstance(n.func, ast.Attribute)
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id in mod_names
                    or isinstance(n.func, ast.Name)
                    and n.func.id in fn_names
                )
            ):
                hits.append(f"{name}:{n.lineno} time call")
    assert not hits, (
        "stage timing outside plans.extensions._stage:\n  "
        + "\n  ".join(sorted(hits))
    )


def test_slow_tests_names_exist():
    """Every ``conftest.SLOW_TESTS`` name (without its ``[param]``
    suffix) is a ``def test_…`` under tests/: a stale name would
    silently mark nothing slow."""
    from conftest import SLOW_TESTS

    tests_dir = os.path.join(ROOT, "tests")
    defined = set()
    for fn in os.listdir(tests_dir):
        if fn.endswith(".py"):
            with open(os.path.join(tests_dir, fn), encoding="utf-8") as f:
                tree = ast.parse(f.read(), fn)
            defined |= {
                n.name for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                and n.name.startswith("test_")
            }
    stale = sorted(
        name for name in SLOW_TESTS if name.split("[")[0] not in defined
    )
    assert not stale, f"SLOW_TESTS names no test defines: {stale}"


if __name__ == "__main__":
    print("unreached definitions:")
    for qual in unreached():
        print(f"  {qual}")
    print("options no caller sets:")
    for opt in unset_options():
        print(f"  {opt}")
