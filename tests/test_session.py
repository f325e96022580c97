"""get_session: the session factory's settings that hold wherever the
driver process starts."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from consume_kafka_avro_data_spark.operators.text import gopher_repetition
from consume_kafka_avro_data_spark.session import get_session

spark = get_session(cpus=1, shuffle_partitions=1, driver_memory="1g")
docs = spark.createDataFrame(
    [(1, "the cat sat on the mat"), (2, " ".join(["spam eggs ham"] * 9))],
    "doc_id long, text string",
)
kept = gopher_repetition(docs).where("gopher_rep_keep").collect()
print("KEPT", sorted(r.doc_id for r in kept))
spark.stop()
"""


def test_package_udfs_run_outside_the_repo_root(tmp_path):
    """A driver started outside the repository root, with no
    PYTHONPATH, imports the package through its own sys.path only; the
    Python workers must still find the package to unpickle a package
    pandas UDF (gopher_repetition's Arrow pass)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "KEPT [1]" in out.stdout, out.stdout


def test_generated_code_is_kept_across_micro_batches(spark):
    """The JVM-wide generated-code cache holds more than one dedup
    micro-batch's classes (Spark's default is 100), and class names
    carry no codegen stage id, which AQE numbers differently from one
    run of the same plan to the next (tests/test_steady_state_compiles.py
    pins the effect)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
