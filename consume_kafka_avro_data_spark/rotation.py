"""Automatic driver-exposure rotation from correctness artifacts.

The correctness driver evaluates a ~50-query prefix of ``queries()``
in dict order, once per round, and records per-query verdicts in
``CORRECTNESS_r{NN}.json``.  With a catalog several times larger than
the prefix, the ordering policy is FRESHNESS: re-certify the queries
whose most recent green driver row is oldest, so every row in the
rolling union stays as few rounds old as the prefix size allows.

Through round 5 this ordering was a hand-maintained list re-derived
from the artifacts each round — a per-round maintenance step with
per-round opportunity for error.  This module computes it instead,
directly from the committed ``CORRECTNESS_r*.json`` files, so the
rotation is routine: each new round's artifact lands in the repo and
the NEXT round's exposure order shifts automatically.

Policy (encoding exactly the hand rotation used in rounds 4-5):

1. Provable queries (an oracle is registered) come first, ordered by
   the round of their freshest HASH-GREEN row ascending —
   never-certified queries (new additions, rows that have only ever
   failed, or rows whose only evidence predates the query gaining an
   oracle and is therefore rows-only) sort before everything, then
   the stalest certified rows.  Ties break by name, which is
   deterministic across registration-order churn.
2. Rows-only-by-design queries (``oracle=None`` in the registry) are
   pinned after every provable query, staleness-ordered among
   themselves by their rows-only evidence: their weaker check must
   never displace a provable query from the checked prefix.

A row counts as HASH-GREEN when rows/schema/hash all matched with no
error.  A rows-only row (``err == 'no_oracle'``, the driver's marker
for the weaker check) counts as evidence ONLY for queries that are
still rows-only by design: crediting it to a query that has since
gained an oracle would hide the query from the never-certified block
and its oracle might never be driver-exercised.  A query that FAILED
in its latest exposure keeps the round of its last green row (or
none), so failures re-queue near the front automatically.
"""

from __future__ import annotations

import glob
import json
import os
import re

ARTIFACT_GLOB = "CORRECTNESS_r*.json"
_ROUND_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _row_is_green(row: dict) -> bool:
    """Hash-green: the full rows+schema+values certification."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def _row_is_rows_only_ok(row: dict) -> bool:
    """The driver's weaker no-oracle check: it ran the Spark side and
    recorded a row count; 'no_oracle' is a marker, not an error."""
    return row.get("err") in (None, "no_oracle") and row.get("spark_rows") is not None


def freshest_evidence(repo_dir: str) -> tuple[dict[str, int], dict[str, int]]:
    """One pass over every committed artifact: (hash-green rounds,
    rows-only-ok rounds), each query -> its highest such round.
    Unreadable/corrupt artifacts are skipped: a broken file must not
    take the driver contract down with it."""
    green: dict[str, int] = {}
    rows_only: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo_dir, ARTIFACT_GLOB)):
        m = _ROUND_RE.search(os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(doc, dict):
            continue
        for name, row in doc.items():
            if not isinstance(row, dict):
                continue
            if _row_is_green(row):
                if rnd > green.get(name, 0):
                    green[name] = rnd
            elif row.get("hash_match") is None and _row_is_rows_only_ok(row):
                if rnd > rows_only.get(name, 0):
                    rows_only[name] = rnd
    return green, rows_only


def exposure_order(
    names: list[str],
    provable: dict[str, bool],
    freshness: dict[str, int],
    rows_only_freshness: dict[str, int] | None = None,
) -> list[str]:
    """Order ``names`` for driver exposure per the module policy.

    ``provable[name]`` — whether the query registers an oracle (design
    rows-only queries are pinned after all provable ones).
    ``freshness[name]`` — round of freshest HASH-GREEN evidence;
    absent = never certified (sorts first within its provability
    class).  For provable queries this is the ONLY evidence that
    counts; ``rows_only_freshness`` orders the rows-only-by-design
    tail among itself.
    """
    ro = rows_only_freshness or {}

    def _key(n: str):
        if provable.get(n, True):
            return (False, freshness.get(n, 0), n)
        return (True, max(freshness.get(n, 0), ro.get(n, 0)), n)

    return sorted(names, key=_key)
