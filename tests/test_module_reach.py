"""Every ``json_skema_spark`` module must be reachable by imports from a
production entry point, so code that nothing runs cannot pile up unseen.
One level down, every public function must be reached from a caller
(``test_every_public_function_has_a_production_caller``), and every
defaulted parameter of the checked operator modules must be set by some
caller (``test_every_default_is_set_by_a_caller``).

The walk is static: it parses each reached file and follows every
``import``/``from ... import`` statement in it, including the ones inside
function bodies (most of the package imports lazily). Importing
``a.b.c`` also reaches the packages ``a`` and ``a.b``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "json_skema_spark"

# the production callers, for every check below: the package's entry
# points, the tools, and the benchmark harness
ENTRY_POINTS = (
    f"{PACKAGE}/__init__.py",
    f"{PACKAGE}/runner.py",
    f"{PACKAGE}/stream_runner.py",
    "__spark_entry__.py",
    "bench.py",
    *sorted(p.relative_to(ROOT).as_posix()
            for pattern in ("tools/*.py", "perfbench/**/*.py")
            for p in ROOT.glob(pattern)),
)

# Modules kept without a production import, each for a stated reason.
KEPT = {
    f"{PACKAGE}.plans.builder": "reference SchemaBuilder parity",
    f"{PACKAGE}.plans.render": "reference toJSON/toString parity",
    f"{PACKAGE}.sources.suite": "conformance gate (Test-Suite loader)",
    f"{PACKAGE}.sources.corpus": "conformance gate (schema corpus)",
}


def _module_files() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # `from pkg import sub` names the submodule pkg.sub
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    mods = _module_files()
    todo = [ROOT / p for p in ENTRY_POINTS]
    reached = {m for m, path in mods.items() if path in todo}
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in reached:
                    reached.add(mod)
                    todo.append(mods[mod])
    return reached


def test_every_module_has_a_production_importer():
    mods = set(_module_files())
    reached = reached_modules()
    assert sorted(mods - reached - set(KEPT)) == [], (
        "modules no entry point imports: give each a production caller or "
        "delete it")
    # a kept module that is deleted or gains a production importer leaves
    # the list, so the list cannot grow stale
    assert sorted(set(KEPT) - (mods - reached)) == []


# -- public functions -------------------------------------------------------
# Functions kept without a production caller, each for a stated reason.
KEPT_FUNCTIONS = {
    f"{PACKAGE}.functions.audio.register_decoder":
        "the seam through which tests substitute fake audio decoders",
    f"{PACKAGE}.functions.audio.unregister_decoder":
        "removes a decoder a test substituted",
    f"{PACKAGE}.functions.media.register_image_decoder":
        "the seam through which tests substitute fake image decoders",
    f"{PACKAGE}.functions.media.unregister_image_decoder":
        "removes an image decoder a test substituted",
    f"{PACKAGE}.plans.verdict.duplicate_key_violations":
        "reference parity: a duplicate key is a parse error "
        "(JsonParser.kt:250-256)",
    f"{PACKAGE}.plans.model.registry_from_dir":
        "reference parity with the pre-registered schema client "
        "(SchemaClient.kt:28-34)",
    f"{PACKAGE}.operators.dedup.release_persisted_signatures":
        "a library caller's release hook for the bases _persist_base caches",
}


def _referenced_names(nodes) -> set[str]:
    """Every name, attribute and string literal under ``nodes``: a string
    counts because a caller may name a function to wrap or look it up."""
    names: set[str] = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.Constant) \
                    and isinstance(node.value, str):
                names.add(node.value)
    return names


def unreached_functions() -> set[str]:
    """Qualified names of the public module-level functions, outside the
    KEPT modules, that no caller reaches. The roots are every statement of
    the ENTRY_POINTS files and the module-level statements of the package;
    the walk follows the body of each reached module-level function or
    class. Names are matched, not bindings, so a same-named function
    elsewhere can only make a function look reached, never unreached."""
    callers = {ROOT / p for p in ENTRY_POINTS}
    bodies: dict[str, list[ast.AST]] = {}  # name -> its def/class nodes
    public: set[tuple[str, str]] = set()  # (module, function)
    roots: list[ast.AST] = []
    files = _module_files()
    for mod, path in files.items():
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) \
                    and path not in callers:
                bodies.setdefault(node.name, []).append(node)
                roots += node.decorator_list
                if isinstance(node, ast.FunctionDef) \
                        and not node.name.startswith("_") and mod not in KEPT:
                    public.add((mod, node.name))
            else:
                roots.append(node)
    roots += [ast.parse(p.read_text(), str(p))
              for p in callers - set(files.values())]

    reached: set[str] = set()
    todo = _referenced_names(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo |= _referenced_names(bodies.get(name, ())) - reached
    return {f"{mod}.{fn}" for mod, fn in public if fn not in reached}


def test_every_public_function_has_a_production_caller():
    unreached = unreached_functions()
    assert sorted(unreached - set(KEPT_FUNCTIONS)) == [], (
        "public functions no caller reaches: give each a production caller "
        "or delete it")
    # a kept function that is deleted or gains a production caller leaves
    # the list, so the list cannot grow stale
    assert sorted(set(KEPT_FUNCTIONS) - unreached) == []


# -- settable values --------------------------------------------------------
# The table-scope operators on the validation path and the near-duplicate
# and similarity operators. Every defaulted parameter of their module-level
# public functions must be set by some call in the package or an entry
# point, or be kept below with a reason, so a value nothing ever sets
# cannot hide a branch nothing ever runs. A value a test sets counts only
# for an error path the shipped value cannot reach in a test. Outside this
# set, two families keep unset values on purpose: the network settings of
# ``plans.model.fetch_schema_document`` (deployment settings) and the
# LLM-prep operators (their scope is an open decision); the other modules
# are not checked yet (``unset_defaults()`` with a wider CHECKED lists
# their unset values).
CHECKED = tuple(f"{PACKAGE}/{m}.py" for m in (
    "functions/audio", "operators/checkpoint", "operators/dedup",
    "operators/drift", "operators/referential", "operators/similarity",
    "operators/stats", "operators/uniqueness", "operators/util",
    "streaming/drift_stream"))

# (function, parameter) kept without a setting caller, each for a reason.
KEPT_DEFAULTS = {
    ("mergeable_profile", "lg_k"):
        "parts built with different lg_k must merge (a test pins it)",
    ("mergeable_profile", "columns"):
        "the twin of profile(columns), which callers set: drift_report "
        "joins a merged profile to a profile() baseline column by column",
    ("profile", "per_partition"):
        "the per-partition baseline_profile rows of FIXTURES.md §3",
    ("pcm_invariant_check", "check_duration"):
        "opt-in duration gate; making it the default is its own decision",
    ("pcm_invariant_check", "duration_tolerance"):
        "tolerance of the opt-in duration gate",
    ("duplicate_clusters", "max_iter"):
        "the non-convergence error needs a round bound a short chain "
        "exceeds (a test sets 1); 20 rounds cover chains of ~10^6",
}


def _params(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """Positional parameter names, and each defaulted name's default."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    defaults |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)
                 if d is not None}
    return pos, defaults


def _call_sites(path: Path):
    """Yield ``(callee, slot, value, forwarded)`` for each argument of each
    call: ``slot`` is a keyword name or a positional index, and
    ``forwarded`` is ``(function, parameter)`` when the argument names an
    enclosing function's parameter."""

    def visit(node, scopes):
        if isinstance(node, ast.FunctionDef):
            a = node.args
            names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            scopes = scopes + [(node.name, names)]
        if isinstance(node, ast.Call):
            f = node.func
            callee = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)

            def owner(arg):
                if isinstance(arg, ast.Name):
                    for fn, names in reversed(scopes):
                        if arg.id in names:
                            return fn, arg.id
                return None

            for i, arg in enumerate(node.args):
                if isinstance(arg, ast.Starred):
                    break
                yield callee, i, arg, owner(arg)
            for kw in node.keywords:
                if kw.arg is not None:
                    yield callee, kw.arg, kw.value, owner(kw.value)
        for child in ast.iter_child_nodes(node):
            yield from visit(child, scopes)

    yield from visit(ast.parse(path.read_text(), str(path)), [])


def unset_defaults() -> set[tuple[str, str]]:
    """(function, parameter) pairs of the CHECKED modules that no call
    sets. A call that passes the default itself sets nothing, and one that
    passes through a same-named parameter of its enclosing function sets
    the value only if that parameter is required or set. Calls are matched
    to functions by name, so a same-named function elsewhere can only make
    a value look set, never unset."""
    callers = sorted({*(ROOT / PACKAGE).rglob("*.py"),
                      *(ROOT / p for p in ENTRY_POINTS)})
    signatures: dict[str, tuple[list[str], dict[str, ast.expr]]] = {}
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.FunctionDef):
                pos, defaults = _params(node)
                old = signatures.get(node.name, ([], {}))
                signatures[node.name] = (pos or old[0], old[1] | defaults)

    def is_default(callee, name, value):
        d = signatures.get(callee, ([], {}))[1].get(name)
        return isinstance(d, ast.Constant) and \
            isinstance(value, ast.Constant) and d.value == value.value

    setting = []  # (callee, parameter, forwarded-from or None)
    for path in callers:
        for callee, slot, value, fwd in _call_sites(path):
            if isinstance(slot, int):
                pos = signatures.get(callee, ([], {}))[0]
                slot = pos[slot] if slot < len(pos) else None
            if slot is None or is_default(callee, slot, value):
                continue
            setting.append((callee, slot,
                            fwd if fwd and fwd[1] == slot else None))

    reached: set[tuple[str, str]] = set()
    changed = True
    while changed:
        changed = False
        for callee, name, fwd in setting:
            if (callee, name) in reached:
                continue
            if fwd and fwd not in reached \
                    and fwd[1] in signatures.get(fwd[0], ([], {}))[1]:
                continue  # forwards a defaulted value nothing set (yet)
            reached.add((callee, name))
            changed = True

    unset = set()
    for rel in CHECKED:
        tree = ast.parse((ROOT / rel).read_text(), rel)
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) \
                    and not node.name.startswith("_"):
                unset |= {(node.name, p) for p in _params(node)[1]
                          if (node.name, p) not in reached}
    return unset


def test_every_default_is_set_by_a_caller():
    unset = unset_defaults()
    extra = sorted(unset - set(KEPT_DEFAULTS))
    assert not extra, (
        "defaulted parameters no caller sets: delete each (its default "
        "becomes the code) or keep it with a reason: "
        + ", ".join(f"{fn}({p})" for fn, p in extra))
    # a kept value that a caller starts setting leaves the list
    assert sorted(set(KEPT_DEFAULTS) - unset) == []
