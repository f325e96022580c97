"""Automatic exposure rotation (consume_kafka_avro_data_spark/rotation).

The correctness driver checks a ~50-query prefix of ``queries()`` per
round; rotation.py orders the catalog so the prefix always re-certifies
the stalest evidence first.  These tests pin the POLICY with synthetic
artifacts, then check invariants over the real committed artifacts that
must hold in EVERY round (deliberately not the concrete round-N order,
which shifts each time a new artifact lands — that's the module's job).

No SparkSession needed: rotation is pure artifact/metadata logic.
"""

import json
import os

from consume_kafka_avro_data_spark.rotation import (
    exposure_order,
    freshest_evidence,
)

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver evaluates roughly this many queries per round; the policy
# invariants below size the never-certified budget against it
DRIVER_PREFIX = 50


def _green_row(rows=10):
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": rows,
        "oracle_rows": rows,
        "err": None,
    }


def _failed_row():
    return {
        "rows_match": False,
        "schema_match": True,
        "hash_match": False,
        "spark_rows": 9,
        "oracle_rows": 10,
        "err": None,
    }


def _rows_only_row(rows=25):
    # the driver's weaker no-oracle check: marker err, null matches
    return {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": rows,
        "oracle_rows": None,
        "err": "no_oracle",
    }


def _write(tmp_path, rnd, doc):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(doc))


class TestFreshestGreen:
    def test_max_green_round_wins(self, tmp_path):
        _write(tmp_path, 1, {"a": _green_row(), "b": _green_row()})
        _write(tmp_path, 3, {"a": _green_row()})
        fresh = freshest_evidence(str(tmp_path))[0]
        assert fresh == {"a": 3, "b": 1}

    def test_failure_does_not_refresh(self, tmp_path):
        # green in r01, FAILED in r03 -> freshness stays 1, so the
        # query re-queues near the front of the next exposure order
        _write(tmp_path, 1, {"a": _green_row()})
        _write(tmp_path, 3, {"a": _failed_row()})
        assert freshest_evidence(str(tmp_path))[0] == {"a": 1}

    def test_never_green_absent(self, tmp_path):
        _write(tmp_path, 2, {"a": _failed_row()})
        assert freshest_evidence(str(tmp_path))[0] == {}

    def test_rows_only_marker_is_not_hash_green(self, tmp_path):
        # err == 'no_oracle' with a recorded row count is the weaker
        # check passing — it must land in the rows-only map, NOT the
        # hash-green one: a query that later gains an oracle would
        # otherwise skip the never-certified block and its oracle
        # might never be driver-exercised
        _write(tmp_path, 2, {"a": _rows_only_row()})
        assert freshest_evidence(str(tmp_path))[0] == {}
        assert freshest_evidence(str(tmp_path))[1] == {"a": 2}

    def test_rows_only_with_error_does_not_count(self, tmp_path):
        row = _rows_only_row()
        row["spark_rows"] = None
        row["err"] = "boom"
        _write(tmp_path, 2, {"a": row})
        assert freshest_evidence(str(tmp_path))[0] == {}
        assert freshest_evidence(str(tmp_path))[1] == {}

    def test_corrupt_artifact_skipped(self, tmp_path):
        (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
        _write(tmp_path, 2, {"a": _green_row()})
        assert freshest_evidence(str(tmp_path))[0] == {"a": 2}

    def test_no_artifacts(self, tmp_path):
        assert freshest_evidence(str(tmp_path))[0] == {}
        assert freshest_evidence(str(tmp_path))[1] == {}


class TestExposureOrder:
    def test_never_certified_first_then_stalest(self):
        names = ["old", "new", "stale"]
        provable = dict.fromkeys(names, True)
        fresh = {"old": 4, "stale": 2}
        assert exposure_order(names, provable, fresh) == ["new", "stale", "old"]

    def test_name_tiebreak_is_deterministic(self):
        names = ["zq", "aq", "mq"]
        order = exposure_order(names, dict.fromkeys(names, True), {})
        assert order == ["aq", "mq", "zq"]

    def test_rows_only_pinned_after_all_provable(self):
        # the non-provable query is STALEST yet still sorts last: its
        # weaker check must never displace a provable query from the
        # driver's checked prefix
        names = ["fresh_provable", "stale_rows_only"]
        provable = {"fresh_provable": True, "stale_rows_only": False}
        fresh = {"fresh_provable": 9, "stale_rows_only": 1}
        order = exposure_order(names, provable, fresh)
        assert order == ["fresh_provable", "stale_rows_only"]

    def test_newly_oracled_query_treated_as_never_certified(self, tmp_path):
        # a query whose only evidence is an old rows-only row (it was
        # registered without an oracle back then, gained one since)
        # must sort in the never-certified block, ahead of every
        # hash-certified query
        _write(tmp_path, 1, {"upgraded": _rows_only_row(), "cert": _green_row()})
        fresh, ro = freshest_evidence(str(tmp_path))
        names = ["cert", "upgraded"]
        provable = {"cert": True, "upgraded": True}  # oracle added since r01
        assert exposure_order(names, provable, fresh, ro) == ["upgraded", "cert"]

    def test_rows_only_tail_staleness_ordered(self, tmp_path):
        _write(tmp_path, 1, {"ro_old": _rows_only_row()})
        _write(tmp_path, 3, {"ro_new": _rows_only_row()})
        fresh, ro = freshest_evidence(str(tmp_path))
        names = ["ro_new", "ro_old", "p"]
        provable = {"ro_new": False, "ro_old": False, "p": True}
        assert exposure_order(names, provable, fresh, ro) == ["p", "ro_old", "ro_new"]


class TestRepoArtifacts:
    """Invariants over the REAL committed artifacts that must hold in
    every round — deliberately no concrete round-N query lists, which
    would go stale the moment the next CORRECTNESS artifact lands."""

    @staticmethod
    def _entry():
        import sys

        sys.path.insert(0, REPO_DIR)
        import __spark_entry__ as entry

        return entry

    def test_provable_staleness_nondecreasing(self):
        from consume_kafka_avro_data_spark.registry import all_queries

        entry = self._entry()
        fresh = freshest_evidence(REPO_DIR)[0]
        qs = all_queries()
        names = list(entry.queries())
        provable_rounds = [
            fresh.get(n, 0) for n in names if qs[n].oracle is not None
        ]
        assert provable_rounds == sorted(provable_rounds)

    def test_rows_only_by_design_pinned_last(self):
        from consume_kafka_avro_data_spark.registry import all_queries

        entry = self._entry()
        qs = all_queries()
        names = list(entry.queries())
        seen_rows_only = False
        for n in names:
            if qs[n].oracle is None:
                seen_rows_only = True
            else:
                assert not seen_rows_only, (
                    f"provable {n} ordered after a rows-only-by-design query"
                )

    def test_never_certified_budget_fits_driver_prefix(self):
        """Every never-hash-certified provable query must fit in the
        driver's checked prefix — more new oracled queries than slots
        means some would wait a full round uncertified AND displace
        stale re-certifications.  This is the rotation's capacity
        planning rule; it failing means: stop adding queries this
        round."""
        from consume_kafka_avro_data_spark.registry import all_queries

        entry = self._entry()
        fresh = freshest_evidence(REPO_DIR)[0]
        qs = all_queries()
        names = list(entry.queries())
        never = [
            n for n in names if qs[n].oracle is not None and n not in fresh
        ]
        assert len(never) <= DRIVER_PREFIX, (
            f"{len(never)} never-certified provable queries exceed the "
            f"~{DRIVER_PREFIX}-slot driver prefix"
        )
        # and they all sort inside the prefix
        assert set(never) <= set(names[:DRIVER_PREFIX])
