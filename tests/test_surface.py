"""Every top-level package definition has a caller outside ``tests/``.

An AST scan, not a word match: a name counts as used only where code
refers to it (a ``Name``, an ``Attribute``, an import alias, or a
string constant that is a bare identifier, as ``getattr`` takes).  A
name that only appears in a docstring or a comment does not count.

Liveness is reachability.  The roots are the module-level statements
of the package, ``__spark_entry__.py``, every file of ``e2ebench/``,
every registered query, and ``KEEP``: what a query, a stream workload
or the CLI runs.  ``bench.py`` rows and ``scripts/`` are not roots, so a
definition only a benchmark row or a script times is reported too.
A top-level ``def``/``class`` is live when a root or a live
definition refers to it, so a definition whose only caller is itself
unused is reported too.  Names are matched without their module, so a
same-named attribute elsewhere keeps a definition alive: the scan errs
toward missing dead code, not toward flagging live code.

Needs no SparkSession.  Run as a script to list the unused
definitions with their sizes.
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
    "salted_join": "1.35x over the plain AQE join on a skewed key "
    "(bench.py skew_stress: 3.81 s -> 2.82 s)",
}


def _py_files(path: str) -> list[str]:
    out = []
    for base, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _refs(nodes) -> set[str]:
    """Names the code in ``nodes`` refers to.  A docstring is prose, so
    it never is one identifier and never counts."""
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
    return out


def _is_registered_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def scan(repo: str = REPO) -> dict[str, tuple[str, int]]:
    """Unused top-level package definitions: name -> (file, lines)."""
    roots: set[str] = set()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in _py_files(os.path.join(repo, PACKAGE)):
        with open(path) as f:
            mod = ast.parse(f.read())
        rel = os.path.relpath(path, repo)
        for node in mod.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if _is_registered_query(node) or node.name.startswith("__"):
                    roots |= _refs([node]) | {node.name}
                defs.setdefault(node.name, []).append((rel, node))
            else:
                roots |= _refs([node])
    extra = [os.path.join(repo, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        extra += _py_files(os.path.join(repo, d))
    for path in extra:
        with open(path) as f:
            roots |= _refs([ast.parse(f.read())])

    uses = {name: _refs([n for _, n in nodes]) - {name} for name, nodes in defs.items()}
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


if __name__ == "__main__":
    repo = sys.argv[1] if len(sys.argv) > 1 else REPO
    KEEP.clear()
    unused = scan(repo)
    for name, (f, n) in sorted(unused.items(), key=lambda kv: kv[1]):
        print(f"{n:5d}  {f}:{name}")
    print(f"{len(unused)} definitions, {sum(n for _, n in unused.values())} lines")
