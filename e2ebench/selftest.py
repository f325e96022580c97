"""Fast self-test of the output checks (no Spark, a few seconds).

Builds the outputs a correct engine would produce for a small seeded
input, shows that every check passes on them, then corrupts one thing
at a time (a vertex dropped, an extra duplicate routed, a lookup
answer changed, ...) and shows that the matching check fails.

    python3 e2ebench/selftest.py        # exit 0 = every check behaves
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import (  # noqa: E402
    BAD_MAGIC,
    check_dlq,
    check_graph,
    check_lookups,
    check_replay,
    check_routing,
)


def _spo_truth(seed: int):
    files = [gen.spo_file(seed, i, n=300) for i in range(3)]
    triples = [t for f in files for t in f.triples]
    names = sorted({s for s, _, _ in triples} | {o for _, _, o in triples})
    objects = [(hash(("id", n)), n) for n in names]
    id_of = {n: i for i, n in objects}
    edges = sorted({(id_of[s], id_of[o], p) for s, p, o in triples})
    dlq = [(b, BAD_MAGIC) for f in files for b in f.bad_frames]
    lookups = [(names[0], True, id_of[names[0]]), ("absent_x", False, None)]
    return files, triples, objects, edges, dlq, lookups


def _curation_truth(seed: int):
    evals = gen.eval_docs(seed)
    files, prev = [], None
    for i in range(2):
        prev = gen.curation_file(seed, i, prev, evals)
        files.append(prev)
    docs = {i: t for f in files for i, t in f.docs}
    kind = {i: k for f in files for i, k in f.kind.items()}
    pairs = [p for f in files for p in f.near_pairs]
    routed = [(d, m) for d, m, _ in pairs]
    outputs = {
        "store": [i for i, k in kind.items() if k == "base"],
        "dupes": [d for d, _ in routed],
        "rejects/gopher_rep": [i for i, k in kind.items() if k == "spam"],
        "contaminated": [i for i, k in kind.items() if k == "contam"],
    }
    return outputs, docs, kind, pairs, routed


def main() -> int:
    results: list[tuple[str, bool]] = []

    def expect(name: str, errs: list[str], should_fail: bool) -> None:
        ok = bool(errs) == should_fail
        results.append((name, ok))
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {errs[:1] if errs else 'passes'}")

    files, triples, objects, edges, dlq, lookups = _spo_truth(7)
    planted = [b for f in files for b in f.bad_frames]
    expect("graph, correct", check_graph(objects, edges, triples), False)
    expect("graph, one vertex dropped", check_graph(objects[1:], edges, triples), True)
    expect("graph, one edge dropped", check_graph(objects, edges[1:], triples), True)
    dup_id = [(objects[0][0], objects[1][1])] + objects[1:]
    expect("graph, two vertices share an id", check_graph(dup_id, edges, triples), True)
    expect("dlq, correct", check_dlq(dlq, planted), False)
    expect("dlq, one dead letter lost", check_dlq(dlq[1:], planted), True)
    expect("dlq, raw bytes altered", check_dlq([(b"x" + dlq[0][0], dlq[0][1])] + dlq[1:], planted), True)
    id_of = {n: i for i, n in objects}
    expect("lookups, correct", check_lookups(lookups, id_of), False)
    wrong = [(lookups[0][0], True, lookups[0][2] + 1)] + lookups[1:]
    expect("lookups, wrong id", check_lookups(wrong, id_of), True)
    absent = lookups[:1] + [("absent_x", False, 5)]
    expect("lookups, absent name found", check_lookups(absent, id_of), True)
    expect("replay, idempotent", check_replay(0, 0), False)
    expect("replay, one edge re-added", check_replay(0, 1), True)

    outputs, docs, kind, pairs, routed = _curation_truth(7)
    expect("routing, correct", check_routing(outputs, docs, kind, pairs, routed), False)
    base = outputs["store"]
    extra = {**outputs, "store": base[1:], "dupes": outputs["dupes"] + [base[0]]}
    far = [(base[0], base[1])]
    expect(
        "routing, one extra duplicate routed",
        check_routing(extra, docs, kind, pairs, routed + far),
        True,
    )
    missed = {**outputs, "dupes": outputs["dupes"][1:], "store": base + outputs["dupes"][:1]}
    expect("routing, planted near-dup missed", check_routing(missed, docs, kind, pairs, routed[1:]), True)
    twice = {**outputs, "store": base + outputs["contaminated"][:1]}
    expect("routing, doc in two outputs", check_routing(twice, docs, kind, pairs, routed), True)
    lost = {**outputs, "rejects/gopher_rep": outputs["rejects/gopher_rep"][1:]}
    expect("routing, spam doc lost", check_routing(lost, docs, kind, pairs, routed), True)
    spam_kept = {
        **outputs,
        "rejects/gopher_rep": outputs["rejects/gopher_rep"][1:],
        "store": base + outputs["rejects/gopher_rep"][:1],
    }
    expect("routing, spam doc kept", check_routing(spam_kept, docs, kind, pairs, routed), True)
    clean = {
        **outputs,
        "contaminated": outputs["contaminated"][1:],
        "store": base + outputs["contaminated"][:1],
    }
    expect("routing, contaminated doc kept", check_routing(clean, docs, kind, pairs, routed), True)

    bad = [n for n, ok in results if not ok]
    print(f"{len(results) - len(bad)}/{len(results)} self-test cases behave")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
