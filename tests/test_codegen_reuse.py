"""Generated-code reuse on the repeated sync cycle, and the MoR chain
resolver it rests on.

Pins the two halves of the mechanism: ``get_spark`` sizes Spark's
generated-class cache above the engine's working set, and a MoR chain
read is plan-stable — one file scan per role whatever the chain length,
with each row's version read off its file path rather than inlined as a
per-commit literal — so re-reading after one more commit compiles no new
classes.
"""

from __future__ import annotations

import re

from pretalx_hub_etl_spark.session import codegen_counters
from pretalx_hub_etl_spark.sinks.mor import MorTable


def _delta(spark, t, lo):
    """One MoR commit with both file roles: three upserts from ``lo`` and
    a tombstone for ``lo // 10``, a key of the initial load."""
    t.merge(
        spark,
        source=spark.createDataFrame(
            [(lo + i, f"n{lo + i}") for i in range(3)], "k long, name string"
        ),
        deletes=spark.createDataFrame([(lo // 10,)], "k long"),
    )


def _file_scans(df) -> int:
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return len(re.findall(r"FileScan parquet", plan))


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_mor_reread_after_commit_compiles_nothing(spark, tmp_path):
    t = MorTable(str(tmp_path / "t"), key="k")
    t.init(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(40)], "k long, name string"
        )
    )
    _delta(spark, t, 100)
    first = sorted(t.read(spark).collect())
    _delta(spark, t, 200)
    before = codegen_counters(spark)[0]
    second = sorted(t.read(spark).collect())
    assert codegen_counters(spark)[0] == before
    # the re-read saw the new commit: its upserts and its tombstone
    assert len(second) == len(first) + 3 - 1
    assert (200, "n200") in {(r.k, r.name) for r in second}
    assert 20 not in {r.k for r in second}


def test_mor_read_one_scan_per_role(spark, tmp_path):
    t = MorTable(str(tmp_path / "t"), key="k")
    t.init(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(40)], "k long, name string"
        )
    )
    # chain length 1: the checkpoint's data files only
    assert _file_scans(t.read(spark)) == 1
    for lo in (100, 200, 300):
        _delta(spark, t, lo)
    assert len(t._chain()[1]) == 4
    # chain length 4: one data scan and one tombstone scan
    df = t.read(spark)
    assert _file_scans(df) == 2
    got = {r.k: r.name for r in df.collect()}
    assert got[300] == "n300" and 30 not in got and 0 in got


def test_mor_read_pruned_tombstone_before_first_kept_data(spark, tmp_path):
    # the key range prunes the checkpoint's data away, so the first
    # surviving event is a tombstone and the re-insert above it wins
    t = MorTable(str(tmp_path / "t"), key="k")
    t.init(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(40)], "k long, name string"
        )
    )
    t.merge(spark, deletes=spark.createDataFrame([(100,)], "k long"))
    t.merge(
        spark,
        source=spark.createDataFrame([(100, "back")], "k long, name string"),
    )
    df, _scanned, skipped = t.read_pruned(spark, 100, 100)
    assert skipped >= 1
    assert [(r.k, r.name) for r in df.collect()] == [(100, "back")]
