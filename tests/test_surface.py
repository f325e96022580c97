"""Every top-level package definition has a caller outside ``tests/``,
and every defaulted package parameter has a call that sets it.

An AST scan, not a word match: a name counts as used only where code
refers to it (a ``Name``, an ``Attribute``, a name imported inside a
function, or a string constant that is a bare identifier, as
``getattr`` takes).  A name that only appears in a docstring or a
comment does not count.  A name imported ``as`` an alias resolves to
the imported name, so ``from m import f as _f`` then ``_f(...)`` uses
``f``.

Liveness is reachability.  The roots are the module-level statements
of the package other than its imports, ``__spark_entry__.py``, every
file of ``e2ebench/``, every registered query, and ``KEEP``: what a
query, a stream workload or the CLI runs.  A module-level import is not
a use: an unused module, or an ``__init__.py`` re-export, that imports
a definition does not keep it alive.  ``bench.py`` rows and
``scripts/`` are not roots, so a definition only a benchmark row or a
script times is reported too.  A top-level ``def``/``class`` is live
when a root or a live definition refers to it, so a definition whose
only caller is itself unused is reported too.  Names are matched
without their module, so a same-named attribute elsewhere keeps a
definition alive: the scan errs toward missing dead code, not toward
flagging live code.

The parameter scan reads every call in the package, ``__spark_entry__.py``,
``e2ebench/`` and, for now, ``tests/``.  A defaulted parameter of a
top-level function or of a method of a top-level class is set when a
call of that name passes it by keyword or by position (a ``*args`` or
``**kwargs`` call sets every one).  A class's call, and ``cls(...)``
inside it, calls its ``__init__``.  A parameter no call sets is a
constant in disguise: inline its default, or list it in ``KEEP_PARAMS``
with a reason.

Needs no SparkSession.  Run as a script to list the unused definitions
with their sizes, the unset parameters, and the parameters only
``tests/`` set.
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "consume_kafka_avro_data_spark"
ROOT_FILES = ("__spark_entry__.py",)
ROOT_DIRS = ("e2ebench",)

#: Definitions that stay without a caller outside the tests, each with
#: the reason it stays.
KEEP = {
    "JdbcGraphSink": "the reference's Postgres graph sink (src/Database.cpp)",
    "from_confluent_avro_multi": "multi-schema topics: one topic, several "
    "registered writer schemas (SURVEY S2)",
    "from_confluent_avro_resolved": "writer-to-reader schema resolution "
    "across registry versions (SURVEY S2)",
    "read_jsonl_with_dlq": "the reference's error routing: malformed "
    "records go to a dead-letter path",
    "write_ocf": "fixture writer for the live OCF reader",
    "write_jsonl": "fixture writer for the live JSONL reader",
    "partition_filters": "the partition-pruning plan pins read it",
    "exchange_count": "the plan-shape pins (tests/test_plans.py) read it",
    "pushed_filters": "the plan-shape pins (tests/test_plans.py) read it",
    "read_schema_columns": "the plan-shape pins (tests/test_plans.py) read it",
    "broadcast_join_count": "the plan-shape pins (tests/test_plans.py) read it",
    "whole_stage_codegen_spans": "the plan-shape pins (tests/test_plans.py) "
    "read it",
    "simple_plan": "the plan-shape pins (tests/test_plans.py) read it",
    "band_hashes": "oracle the live banding is compared against",
    "band_hashes_md5": "oracle the live md5 banding is compared against",
    "simhash_hex": "oracle the live SimHash kernel is compared against",
    "winnow_fingerprints": "oracle the live winnowing is compared against",
    "winnow_fingerprints_md5": "oracle the live md5 winnowing is compared "
    "against",
    "word_grams": "oracle the live shingling is compared against",
    "attach_counters": "the listener port of the reference's runtime "
    "counters (src/main.cpp:243-253); in-process self-reporting builds on it",
    "detach_counters": "pairs with attach_counters",
    "BigramKN": "the order-2 oracle the n-gram LM is pinned against "
    "(test_ngram_lm.py)",
    "shortest_paths": "SURVEY J5 multi-hop reads over the graph, timed by "
    "bench.py's cc_distributed row",
    "label_propagation": "SURVEY J5 community labels over the graph, timed "
    "by bench.py's cc_distributed row",
    "salted_join": "1.35x over the plain AQE join on a skewed key at 64 salt "
    "buckets (bench.py skew_stress: 3.81 s -> 2.82 s)",
}

#: Defaulted parameters that stay although no call sets them, keyed
#: ``function.param`` (``Class.param`` for ``__init__``,
#: ``Class.method.param`` otherwise), each with the reason it stays.
#: Only deployment settings and the curation gates' settings belong here.
KEEP_PARAMS = {
    "get_session.driver_memory": "deployment setting: the driver JVM's heap",
    "kafka_reader.streaming": "deployment setting: batch or streaming read "
    "of the topic",
    "kafka_reader.starting_offsets": "deployment setting: the topic offsets "
    "a new query starts from",
    "kafka_reader.fail_on_data_loss": "deployment setting: whether lost "
    "offsets fail the query",
    "SchemaRegistryClient.timeout": "deployment setting: the registry's "
    "HTTP timeout",
    "StreamingGraphIngest.stop_and_drain.timeout": "deployment setting: how "
    "long a shutdown waits for the running batch",
    "StreamingDedupIngest.c4_min_line_words": "a curation gate's setting; "
    "the gate settings leave the constructor together, once "
    "e2ebench/curation.build_ingest can move",
}


def _py_files(path: str) -> list[str]:
    out = []
    for base, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _aliases(mod: ast.Module) -> dict[str, str]:
    """``asname -> name`` for every ``import ... as`` in ``mod``."""
    return {
        a.asname: a.name.rsplit(".", 1)[-1]
        for node in ast.walk(mod)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if a.asname
    }


def _refs(nodes, aliases: dict[str, str] | None = None) -> set[str]:
    """Names the code in ``nodes`` refers to, aliases resolved.  A
    docstring is prose, so it never is one identifier and never counts."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    out.add(node.value)
    return {(aliases or {}).get(n, n) for n in out}


def _is_registered_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _root_files(repo: str) -> list[str]:
    out = [os.path.join(repo, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        out += _py_files(os.path.join(repo, d))
    return out


def scan(repo: str = REPO) -> dict[str, tuple[str, int]]:
    """Unused top-level package definitions: name -> (file, lines)."""
    roots: set[str] = set()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    uses: dict[str, set[str]] = {}
    for path in _py_files(os.path.join(repo, PACKAGE)):
        mod = _parse(path)
        aliases = _aliases(mod)
        rel = os.path.relpath(path, repo)
        for node in mod.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                refs = _refs([node], aliases)
                if _is_registered_query(node) or node.name.startswith("__"):
                    roots |= refs | {node.name}
                defs.setdefault(node.name, []).append((rel, node))
                uses.setdefault(node.name, set()).update(refs - {node.name})
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _refs([node], aliases)
    for path in _root_files(repo):
        mod = _parse(path)
        roots |= _refs([mod], _aliases(mod))

    live = (roots | set(KEEP)) & set(defs)
    frontier = list(live)
    while frontier:
        for name in uses[frontier.pop()] & set(defs):
            if name not in live:
                live.add(name)
                frontier.append(name)
    return {
        name: (nodes[0][0], sum(n.end_lineno - n.lineno + 1 for _, n in nodes))
        for name, nodes in sorted(defs.items())
        if name not in live
    }


def _defaulted(repo: str):
    """``(callee, key, file, line, position)`` per defaulted parameter of
    a top-level function or a top-level class's method; ``position`` is
    the index a positional call fills (``None`` for keyword-only), and
    ``key`` is how ``KEEP_PARAMS`` names it."""
    out = []
    for path in _py_files(os.path.join(repo, PACKAGE)):
        rel = os.path.relpath(path, repo)
        fns = []
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns.append((node.name, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        bound = not any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in m.decorator_list
                        )
                        init = m.name == "__init__"
                        fns.append(
                            (
                                node.name if init else m.name,
                                node.name if init else f"{node.name}.{m.name}",
                                m,
                                bound,
                            )
                        )
        for callee, label, fn, bound in fns:
            a = fn.args
            pos = (a.posonlyargs + a.args)[int(bound) :]
            first = len(pos) - len(a.defaults)
            for i, p in enumerate(pos[first:], first):
                out.append((callee, f"{label}.{p.arg}", rel, p.lineno, i))
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out.append((callee, f"{label}.{p.arg}", rel, p.lineno, None))
    return out


def _calls(paths: list[str]) -> dict[str, tuple[int, set[str], bool]]:
    """callee name -> (most positional arguments any call passes, keyword
    names passed, whether some call passes ``*args``/``**kwargs``)."""
    out: dict[str, tuple[int, set[str], bool]] = {}

    def visit(node, aliases, cls):
        if isinstance(node, ast.ClassDef):
            cls = node.name
        if isinstance(node, ast.Call):
            f, args = node.func, list(node.args)
            if getattr(f, "id", getattr(f, "attr", None)) == "partial" and args:
                f, args = args[0], args[1:]
            name = getattr(f, "id", getattr(f, "attr", None))
            if name == "cls" and cls:
                name = cls
            if name:
                name = aliases.get(name, name)
                n, kws, wild = out.get(name, (0, set(), False))
                out[name] = (
                    max(n, len(args)),
                    kws | {k.arg for k in node.keywords if k.arg},
                    wild
                    or any(isinstance(x, ast.Starred) for x in args)
                    or any(k.arg is None for k in node.keywords),
                )
        for child in ast.iter_child_nodes(node):
            visit(child, aliases, cls)

    for path in paths:
        mod = _parse(path)
        visit(mod, _aliases(mod), None)
    return out


def param_scan(repo: str = REPO, tests: bool = True) -> dict[str, tuple[str, int]]:
    """Defaulted package parameters no call sets: key -> (file, line).
    ``tests=False`` stops counting ``tests/`` as callers."""
    paths = _py_files(os.path.join(repo, PACKAGE)) + _root_files(repo)
    if tests:
        paths += _py_files(os.path.join(repo, "tests"))
    calls = _calls(paths)
    out = {}
    for callee, key, rel, line, pos in _defaulted(repo):
        n, kws, wild = calls.get(callee, (0, set(), False))
        name = key.rsplit(".", 1)[-1]
        if not (wild or name in kws or (pos is not None and n > pos)):
            out[key] = (rel, line)
    return out


def test_every_package_definition_has_a_caller_outside_tests():
    unused = scan()
    assert not unused, (
        "top-level definitions that only tests call (delete them, or add "
        "them to KEEP with a reason): "
        + ", ".join(f"{f}:{name}" for name, (f, _) in unused.items())
    )


def test_keep_names_only_existing_unused_definitions():
    """A KEEP entry whose definition gained a caller, or was deleted, is
    stale: drop it so KEEP stays the list of deliberate exceptions."""
    saved = dict(KEEP)
    try:
        KEEP.clear()
        unused = scan()
    finally:
        KEEP.update(saved)
    assert set(saved) <= set(unused), sorted(set(saved) - set(unused))


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    unset = {k: v for k, v in param_scan().items() if k not in KEEP_PARAMS}
    assert not unset, (
        "defaulted parameters no call sets (inline the default, or add "
        "them to KEEP_PARAMS with a reason): "
        + ", ".join(f"{f}:{line}:{key}" for key, (f, line) in unset.items())
    )


def test_keep_params_names_only_existing_unset_parameters():
    """A KEEP_PARAMS entry whose parameter gained a caller, or was
    deleted, is stale."""
    assert set(KEEP_PARAMS) <= set(param_scan()), sorted(
        set(KEEP_PARAMS) - set(param_scan())
    )


if __name__ == "__main__":
    repo = sys.argv[1] if len(sys.argv) > 1 else REPO
    KEEP.clear()
    unused = scan(repo)
    for name, (f, n) in sorted(unused.items(), key=lambda kv: kv[1]):
        print(f"{n:5d}  {f}:{name}")
    print(f"{len(unused)} definitions, {sum(n for _, n in unused.values())} lines")
    unset = param_scan(repo)
    for key, (f, line) in sorted(unset.items(), key=lambda kv: kv[1]):
        print(f"unset      {f}:{line}  {key}")
    print(f"{len(unset)} parameters no call sets")
    only_tests = {k: v for k, v in param_scan(repo, tests=False).items() if k not in unset}
    for key, (f, line) in sorted(only_tests.items(), key=lambda kv: kv[1]):
        print(f"tests-only {f}:{line}  {key}")
    print(f"{len(only_tests)} parameters only tests/ set")
