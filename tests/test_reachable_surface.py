"""Every package def is run by an entry point, or kept for a reason.

A def that no entry point runs is code to read, test and keep working
for no result. This test walks the package from its entry points — the
gate queries, `KGPipeline`, `bench.py`, `perfbench/`, `scripts/` and
`__spark_entry__.py` — to a fixpoint, and pins the top-level functions
and classes, and the methods of reached classes, that it never reaches
to `KEEP`, each with the reason it stays. A new unreached def fails the
test, and so does a `KEEP` entry that is reached again or no longer
exists. A package module that no entry point and no reached code
imports fails too: a module of constants has no def to flag.

A parameter no caller sets is not an option either: a defaulted
parameter of a package def fails the test when no call in reached
package code or in the root files sets it (calls in `tests/` do not
count), unless its def is in `KEEP` or the parameter is pinned to
`KEEP_PARAMS` with a reason. Calls match by callee name, as `_reach`
does; a class call is a call to its `__init__`; positional arguments
set parameters by position after `self`; a call with `*args` or
`**kwargs` sets every parameter of the def.

The scan is by name, so it over-approximates: a def is reached when
reached code mentions its name (a call, an attribute or an import).
Module-level assignments are nodes too, reached only when named, so a
constant that only dead code reads reaches nothing. A method is its
own node: reached when its class is reached and reached code outside
its own body names it. Dunder methods are reached with their class,
since Python calls them by protocol, not by name.
"""

import ast
import pathlib

import knowledge_graph_creation_from_text_with_llms_spark as pkg
from knowledge_graph_creation_from_text_with_llms_spark import gate

PKG_ROOT = pathlib.Path(pkg.__file__).parent
REPO = PKG_ROOT.parent

# "<module path under the package>:<def>" (methods: "<class>.<method>")
# -> why it stays unreached (COVERAGE.md row first where one applies)
KEEP = {
    "streaming/stream.py:stream_triples":
        "§2.9 (a): the only stream that runs the KG chain",
    "operators/parser.py:format_triple_line":
        "P6: the reference writer's triple-line format (TripleGenerator.py:160)",
    "operators/parser.py:parse_triple_lines":
        "P6: the reference's quote-aware line parse, run by the parity tests",
    "operators/extractor.py:format_prompt":
        "P3: the reference's prompt, run by the e2e replay parity test",
    "operators/extractor.py:ReplayBackend":
        "P4: replays the reference's recorded LLM responses",
    "operators/extractor.py:HFCausalBackend":
        "P4: the real-model extraction backend (import-gated)",
    "functions/embeddings.py:SentenceEncoderBackend":
        "J3: the real-model label encoder (import-gated)",
    "functions/embeddings.py:embed_labels_with_model":
        "J3: the real-model embedding path",
    "functions/vectors.py:cosine_expr":
        "W1: reference form that cosine_prenorm_expr must equal bit for bit",
    "operators/graph.py:to_turtle_lines":
        "S9: the reference's TTL output",
    "operators/graph.py:from_turtle_lines":
        "S9: TTL load, the round trip of to_turtle_lines",
    "operators/graph.py:extract_id_expr":
        "P9: the reference's id extraction from a TTL URI",
    "operators/viz.py:to_dot":
        "S12: the reference's graph drawing",
    "operators/viz.py:write_visualization":
        "S12: the reference's visualization sink",
    "operators/viz.py:_dot_from_rows":
        "S12: DOT rendering behind to_dot and write_visualization",
    "sources/corpus.py:reference_source_table":
        "S1: the reference corpora, input of the parity tests",
    "sources/corpus.py:_read_dir_rows":
        "S1: file reader behind reference_source_table",
    "operators/multimodal.py:LibraryDecoder":
        "Multimodal columns: the real decoder behind media_features",
    "operators/bpe.py:encode_expr":
        "BPE tokenizer: applies the learned merges, checked against the vocab join",
    "operators/dedup.py:lsh_hot_buckets":
        "MinHash+LSH: the audit tool named in minhash_lsh_pairs' docstring",
    "operators/htmlclean.py:_CleanExtractor.handle_starttag":
        "called by `html.parser.HTMLParser`",
    "operators/htmlclean.py:_CleanExtractor.handle_endtag":
        "called by `html.parser.HTMLParser`",
    "operators/htmlclean.py:_CleanExtractor.handle_startendtag":
        "called by `html.parser.HTMLParser`",
    "operators/htmlclean.py:_CleanExtractor.handle_data":
        "called by `html.parser.HTMLParser`",
    "operators/htmlclean.py:_CleanExtractor._is_reference_sup":
        "helper of the `html.parser.HTMLParser` callbacks",
    "operators/htmlclean.py:_CleanExtractor._suppressed":
        "helper of the `html.parser.HTMLParser` callbacks",
}


# "<module path>:<def>(<parameter>)" -> why a defaulted parameter that
# no reached call sets stays: a test seam into a path that production
# selects from the input size, or the hook where an import-gated real
# backend enters
KEEP_PARAMS = {
    "operators/bpe.py:learn_bpe(max_driver_vocab)":
        "test seam: the distributed merge loop, selected for a vocabulary above 10^6 words",
    "operators/dedup.py:minhash_lsh_pairs(max_bucket_size)":
        "test seam: the over-cap bucket drop, selected for a band key in more than 500 docs",
    "operators/dedup.py:minhash_lsh_pairs_incremental(max_broadcast_keys)":
        "test seam: the shuffled probe, selected for a delta above 10^6 band rows",
    "operators/dedup.py:connected_components(max_iterations)":
        "test seam: the pointer-doubling fallback, selected for a chain longer than 20 rounds",
    "operators/linker.py:link_triples(pred_embeddings)":
        "J3: where a real encoder's predicate vectors enter",
    "operators/multimodal.py:extract_media_features(decoder_factory)":
        "Multimodal columns: where LibraryDecoder, the real decoder, enters",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier a node mentions: names, attributes, imports."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name.split(".")[-1])
    return out


def _package_nodes() -> tuple[
    dict[str, tuple[str, ast.AST]], dict[str, str], set[str]
]:
    """Top-level defs and assignments keyed "<module>:<name>", methods
    keyed "<module>:<class>.<name>" with the key of their class in
    `owners`, plus the names mentioned by module-level statements that
    run on import (neither a def, an assignment nor an import). A class
    node keeps its bases, decorators and non-method statements; each
    method body is its own node."""
    nodes: dict[str, tuple[str, ast.AST]] = {}
    owners: dict[str, str] = {}
    on_import: set[str] = set()
    for path in sorted(PKG_ROOT.rglob("*.py")):
        module = path.relative_to(PKG_ROOT).as_posix()
        for st in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                nodes[f"{module}:{st.name}"] = (st.name, st)
            elif isinstance(st, ast.ClassDef):
                cls = f"{module}:{st.name}"
                nodes[cls] = (st.name, _without_methods(st, nodes, owners, cls))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            nodes[f"{module}:{n.id}"] = (n.id, st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                on_import |= _names(st)
    return nodes, owners, on_import


def _without_methods(
    cls: ast.ClassDef,
    nodes: dict[str, tuple[str, ast.AST]],
    owners: dict[str, str],
    key: str,
) -> ast.ClassDef:
    """`cls` minus its methods, which go into `nodes` owned by `key`."""
    body = []
    for st in cls.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            nodes[f"{key}.{st.name}"] = (st.name, st)
            owners[f"{key}.{st.name}"] = key
        else:
            body.append(st)
    return ast.ClassDef(
        name=cls.name, bases=cls.bases, keywords=cls.keywords,
        body=body, decorator_list=cls.decorator_list,
    )


def _root_files() -> list[pathlib.Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "perfbench").glob("*.py"))
    files += sorted((REPO / "scripts").glob("*.py"))
    return files


def _root_names() -> set[str]:
    names = {fn.__name__ for fn in gate.QUERIES.values()} | {"KGPipeline"}
    for path in _root_files():
        names |= _names(ast.parse(path.read_text(encoding="utf-8")))
    return names


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _reach(
    nodes: dict[str, tuple[str, ast.AST]],
    seen: set[str],
    owners: dict[str, str] | None = None,
) -> set[str]:
    """Keys of the nodes reached from the names in `seen`, to a
    fixpoint: a node is reached when its name is seen, and then every
    name it mentions is seen. A method (a key in `owners`) also needs
    its class reached; a dunder method needs only that."""
    owners = owners or {}
    seen = set(seen)
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, node) in nodes.items():
            if key in reached:
                continue
            owner = owners.get(key)
            if owner is None:
                hit = name in seen
            else:
                hit = owner in reached and (name in seen or _is_dunder(name))
            if hit:
                reached.add(key)
                seen |= _names(node)
                grew = True
    return reached


def _unreached_defs() -> set[str]:
    """Unreached top-level defs, and unreached methods of reached
    classes (an unreached class already stands for its methods)."""
    nodes, owners, on_import = _package_nodes()
    reached = _reach(nodes, _root_names() | on_import, owners)
    return {
        key
        for key, (_, node) in nodes.items()
        if key not in reached
        and not isinstance(node, (ast.Assign, ast.AnnAssign))
        and (key not in owners or owners[key] in reached)
    }


def _loaded(parts: list[str]) -> set[str]:
    """Package files that importing the module at dotted `parts` (under
    the package) loads: each existing package `__init__.py` on the way,
    then the module itself, as paths like `operators/metrics.py`."""
    out = {"__init__.py"}
    for i in range(1, len(parts) + 1):
        for rel in ("/".join(parts[:i]) + ".py", "/".join([*parts[:i], "__init__.py"])):
            if (PKG_ROOT / rel).is_file():
                out.add(rel)
    return out


def _imported_modules(node: ast.AST, module: str | None) -> set[str]:
    """Package files the imports in `node` load; `module` is the
    importing file's path under the package (None outside it, where
    only absolute imports reach the package)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                head, *rest = a.name.split(".")
                if head == PKG_ROOT.name:
                    out |= _loaded(rest)
        elif isinstance(n, ast.ImportFrom):
            parts = n.module.split(".") if n.module else []
            if n.level and module is not None:
                base = module.split("/")[: -n.level] + parts
            elif not n.level and parts[:1] == [PKG_ROOT.name]:
                base = parts[1:]
            else:
                continue
            out |= _loaded(base)
            for a in n.names:  # `from pkg.sub import module`
                out |= _loaded([*base, a.name])
    return out


def _unimported_modules() -> set[str]:
    """Package files that no entry point, no reached def and no
    top-level import of a loaded file loads. A file holding a `KEEP`
    def is kept with it."""
    nodes, owners, on_import = _package_nodes()
    reached = _reach(nodes, _root_names() | on_import, owners)
    live = {"__init__.py"}
    for key in KEEP:
        live |= _loaded(key.split(":")[0].removesuffix(".py").split("/"))
    for path in _root_files():
        live |= _imported_modules(ast.parse(path.read_text(encoding="utf-8")), None)
    for key in reached:
        live |= _imported_modules(nodes[key][1], key.split(":")[0])
    files = {p.relative_to(PKG_ROOT).as_posix() for p in PKG_ROOT.rglob("*.py")}
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    top_level = {}
    for f in files:
        body = ast.parse((PKG_ROOT / f).read_text(encoding="utf-8")).body
        top = ast.Module(body=[st for st in body if not isinstance(st, defs)], type_ignores=[])
        top_level[f] = _imported_modules(top, f)
    todo = list(live)
    while todo:
        new = top_level[todo.pop()] - live
        live |= new
        todo += new
    return files - live


def _calls(node: ast.AST) -> list[tuple[str, int, set[str], bool]]:
    """(callee name, positional argument count, keyword names, whether
    it passes *args or **kwargs) of every call in `node`."""
    out = []
    for n in ast.walk(node):
        if not isinstance(n, ast.Call):
            continue
        if isinstance(n.func, ast.Name):
            name = n.func.id
        elif isinstance(n.func, ast.Attribute):
            name = n.func.attr
        else:
            continue
        star = any(isinstance(a, ast.Starred) for a in n.args) or any(
            k.arg is None for k in n.keywords
        )
        out.append((name, len(n.args), {k.arg for k in n.keywords if k.arg}, star))
    return out


def _defaulted(fn: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, position) of each defaulted parameter of `fn`: the
    position among its positional parameters after `self`/`cls`, None
    for a keyword-only one."""
    pos = fn.args.posonlyargs + fn.args.args
    if method and pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    first = len(pos) - len(fn.args.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [
        (p.arg, None)
        for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _unset_params_of(
    nodes: dict[str, tuple[str, ast.AST]],
    owners: dict[str, str],
    calls: list[tuple[str, int, set[str], bool]],
    exempt: set[str] = frozenset(),
) -> set[str]:
    """"<key>(<param>)" for each defaulted parameter of a def in
    `nodes` that none of `calls` sets; defs keyed in `exempt`, and
    methods of classes keyed there, are skipped."""
    by_callee: dict[str, list[tuple[int, set[str], bool]]] = {}
    for name, n_pos, kws, star in calls:
        by_callee.setdefault(name, []).append((n_pos, kws, star))
    out = set()
    for key, (name, node) in nodes.items():
        owner = owners.get(key)
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if key in exempt or owner in exempt:
            continue
        callee = nodes[owner][0] if owner and name == "__init__" else name
        for param, i in _defaulted(node, owner is not None):
            if not any(
                star or param in kws or (i is not None and n_pos > i)
                for n_pos, kws, star in by_callee.get(callee, [])
            ):
                out.add(f"{key}({param})")
    return out


def _unset_params() -> set[str]:
    """Defaulted parameters of package defs outside `KEEP` that no
    call in reached package code or in the root files sets."""
    nodes, owners, on_import = _package_nodes()
    reached = _reach(nodes, _root_names() | on_import, owners)
    calls = [c for key in reached for c in _calls(nodes[key][1])]
    for path in _root_files():
        calls += _calls(ast.parse(path.read_text(encoding="utf-8")))
    return _unset_params_of(nodes, owners, calls, set(KEEP))


def test_every_defaulted_parameter_is_set_or_kept():
    unset = _unset_params()
    assert not unset - KEEP_PARAMS.keys(), (
        "defaulted parameters that no reached call sets (make each a "
        "constant or the fixed name its callers use, or add it to "
        f"KEEP_PARAMS with a reason): {sorted(unset - KEEP_PARAMS.keys())}"
    )
    assert not KEEP_PARAMS.keys() - unset, (
        "stale KEEP_PARAMS entries (set by a reached call again, or gone): "
        f"{sorted(KEEP_PARAMS.keys() - unset)}"
    )


def test_param_scan_counts_keyword_positional_method_and_star_calls():
    src = """
def f(a, b=1, c=2, *, d=3):
    pass

def g(a, b=1):
    pass

class K:
    def __init__(self, x=1, y=2):
        pass

    def m(self, p=1, q=2):
        pass

def caller(obj, kw):
    f(0, 5)
    f(0, d=4)
    K(y=3)
    obj.m(7)
    g(0, **kw)
"""
    nodes, owners = {}, {}
    for st in ast.parse(src).body:
        if isinstance(st, ast.ClassDef):
            nodes[st.name] = (st.name, _without_methods(st, nodes, owners, st.name))
        else:
            nodes[st.name] = (st.name, st)
    calls = _calls(nodes["caller"][1])
    assert _unset_params_of(nodes, owners, calls) == {
        "f(c)", "K.__init__(x)", "K.m(q)",
    }
    assert _unset_params_of(nodes, owners, calls, {"f", "K"}) == set()


def test_every_package_module_is_imported():
    unimported = _unimported_modules()
    assert not unimported, (
        "package modules that nothing reached imports (delete them, or "
        f"KEEP a def in them with a reason): {sorted(unimported)}"
    )


def test_imported_modules_resolves_relative_and_absolute_imports():
    src = """
from ..functions.text import tokens_expr
from . import metrics
import knowledge_graph_creation_from_text_with_llms_spark.sources.catalog
from pyspark.sql import functions
"""
    assert _imported_modules(ast.parse(src), "operators/bpe.py") == {
        "__init__.py", "functions/__init__.py", "functions/text.py",
        "operators/__init__.py", "operators/metrics.py",
        "sources/__init__.py", "sources/catalog.py",
    }


def test_unreached_defs_are_exactly_the_kept_ones():
    assert len(gate.QUERIES) == 71
    unreached = _unreached_defs()
    assert not unreached - KEEP.keys(), (
        "defs no entry point runs (delete them, or add them to KEEP "
        f"with a reason): {sorted(unreached - KEEP.keys())}"
    )
    assert not KEEP.keys() - unreached, (
        "stale KEEP entries (reached again, or gone): "
        f"{sorted(KEEP.keys() - unreached)}"
    )


def test_reach_follows_reached_code_only():
    src = """
def root():
    return helper()

def helper():
    return TABLE

TABLE = {"k": used_by_table}

def used_by_table():
    pass

DEAD = {"k": only_dead_uses}

def only_dead_uses():
    pass

def dead():
    return only_dead_uses()
"""
    nodes = {}
    for st in ast.parse(src).body:
        name = st.name if isinstance(st, ast.FunctionDef) else st.targets[0].id
        nodes[name] = (name, st)
    assert _reach(nodes, {"root"}) == {"root", "helper", "TABLE", "used_by_table"}


def test_reach_follows_methods_of_reached_classes():
    src = """
def root():
    return Used().run()

class Used:
    def __init__(self):
        self.x = helper()

    def run(self):
        return self.step()

    def step(self):
        return self.step()

    def dead(self):
        return self.dead() or dead_only()

class Unused:
    def run(self):
        pass

def helper():
    pass

def dead_only():
    pass
"""
    nodes, owners = {}, {}
    for st in ast.parse(src).body:
        if isinstance(st, ast.ClassDef):
            nodes[st.name] = (st.name, _without_methods(st, nodes, owners, st.name))
        else:
            nodes[st.name] = (st.name, st)
    assert _reach(nodes, {"root"}, owners) == {
        "root", "Used", "Used.__init__", "Used.run", "Used.step", "helper",
    }
