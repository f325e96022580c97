"""Output checks, as pure functions over plain Python data.

Each returns a list of failure messages (empty = pass).  The expected
side always comes from the generator (``gen.py``), never from the
engine or a stored copy of its output, and ``selftest.py`` feeds each
check a deliberately corrupted output to show that it fails.
"""

from __future__ import annotations

from collections import Counter

from gen import HIGH_JACCARD, LOW_JACCARD, jaccard

BAD_MAGIC = "Invalid CP1 magic byte 123, expected 0"


def _diff(what: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [
        f"{what}: {len(missing)} missing (e.g. {sorted(missing, key=str)[:2]}), "
        f"{len(extra)} extra (e.g. {sorted(extra, key=str)[:2]})"
    ]


def check_graph(
    objects: list[tuple[int, str]],
    edges: list[tuple[int, int, str]],
    triples: list[tuple[str, str, str]],
) -> list[str]:
    """Vertex set = subjects ∪ objects of the valid frames; edge set =
    their distinct (s, p, o); one row and one unique id per vertex."""
    errs: list[str] = []
    names = Counter(n for _, n in objects)
    ids = Counter(i for i, _ in objects)
    if any(c > 1 for c in names.values()):
        errs.append("a vertex name appears in more than one row")
    if any(c > 1 for c in ids.values()):
        errs.append("vertex ids are not unique")
    errs += _diff(
        "vertices", set(names), {s for s, _, _ in triples} | {o for _, _, o in triples}
    )
    name_of = dict(objects)
    got_edges = {(name_of.get(s), p, name_of.get(o)) for s, o, p in edges}
    if len(got_edges) != len(edges):
        errs.append("duplicate edge rows")
    errs += _diff("edges", got_edges, set(triples))
    return errs


def check_dlq(rows: list[tuple[bytes, str]], planted: list[bytes]) -> list[str]:
    """Dead letters = the planted malformed frames, raw bytes kept."""
    errs = []
    if Counter(v for v, _ in rows) != Counter(planted):
        errs.append(f"DLQ holds {len(rows)} frames, planted {len(planted)} (or bytes differ)")
    bad = {e for _, e in rows if e != BAD_MAGIC}
    if bad:
        errs.append(f"unexpected DLQ reasons {sorted(bad)[:3]}")
    return errs


def check_lookups(results: list[tuple], id_of: dict) -> list[str]:
    """Present keys return the one id the output holds for them
    (``id_of``); absent keys return None."""
    errs = []
    for key, present, got in results:
        want = id_of.get(key) if present else None
        if present and want is None:
            errs.append(f"looked-up key {key!r} is not in the store")
        elif got != want:
            errs.append(f"lookup({key!r}) = {got}, expected {want}")
    return errs


def check_replay(new_vertices: int, new_edges: int) -> list[str]:
    if new_vertices or new_edges:
        return [f"replaying the last file added {new_vertices} vertices, {new_edges} edges"]
    return []


def check_routing(
    outputs: dict[str, list[int]],
    docs: dict[int, str],
    kind: dict[int, str],
    near_pairs: list[tuple[int, int, float]],
    routed_pairs: list[tuple[int, int]],
) -> list[str]:
    """Curation stream: ``outputs`` maps each sink (``store``,
    ``dupes``, ``contaminated``, ``rejects/<gate>``) to the doc ids it
    holds."""
    errs = []
    seen = Counter(i for ids in outputs.values() for i in ids)
    twice = [i for i, c in seen.items() if c > 1]
    if twice:
        errs.append(f"{len(twice)} docs land in more than one output (e.g. {twice[:3]})")
    errs += _diff("routed docs", set(seen), set(docs))
    dupes = set(outputs.get("dupes", []))
    missed = [d for d, _, j in near_pairs if j >= HIGH_JACCARD and d not in dupes]
    if missed:
        errs.append(f"{len(missed)} planted near-duplicates not routed (e.g. {missed[:3]})")
    low = [
        (d, m) for d, m in routed_pairs
        if d in docs and m in docs and jaccard(docs[d], docs[m]) < LOW_JACCARD
    ]
    if low:
        errs.append(f"{len(low)} routed pairs below Jaccard {LOW_JACCARD} (e.g. {low[:2]})")
    rejected = {i for k, ids in outputs.items() if k.startswith("rejects/") for i in ids}
    spam = [i for i, k in kind.items() if k == "spam" and i not in rejected]
    if spam:
        errs.append(f"{len(spam)} spam docs not rejected (e.g. {spam[:3]})")
    contaminated = set(outputs.get("contaminated", []))
    missed_c = [i for i, k in kind.items() if k == "contam" and i not in contaminated]
    if missed_c:
        errs.append(f"{len(missed_c)} eval-overlap docs not marked contaminated")
    return errs
