"""SQL ``MERGE INTO`` evaluates its USING source once.

``LakehouseSqlCatalog._try_merge`` pins the source with an eager
``localCheckpoint`` before the multiple-match guard and the branch plans
read it, and releases the pin when the statement ends. These tests pin:

- one evaluation: a counting UDF in the source runs once per row, and a
  nondeterministic source gives every WHEN branch the same rows;
- the two-step multiple-match guard: a source-only duplicate check on an
  ``ON`` equi-join column decides first, the target/source pair join
  runs only when that check cannot rule a match out, and the outcome is
  the pair join's in every case;
- hygiene: no pinned rows outlive the statement, and a CoW commit whose
  write job fails leaves no stage directory behind.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from pretalx_hub_etl_spark.plans.lakehouse_sql import (
    LakehouseSqlCatalog,
    _equi_source_column,
)
from pretalx_hub_etl_spark.sinks.merge import MergeSink
from pretalx_hub_etl_spark.sinks.mor import MorTable

PAIR_GUARD = "HAVING count(*) > 1 LIMIT 1"


def _table(spark, tmp_path, cat, name, kind, n=10):
    """``name``: keys 0..n-1 with ``v = 10 * k``, registered in ``cat``."""
    path = str(tmp_path / name)
    base = spark.range(n).selectExpr("id AS k", "id * 10 AS v")
    (MergeSink if kind == "cow" else MorTable)(path, key="k").init(base)
    cat.register_path(name, path)
    return path


def _rows(cat, name):
    return {r.k: r.v for r in cat.sql(f"SELECT k, v FROM {name}").collect()}


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def guard_sql(spark, monkeypatch):
    """The SQL texts of the pair-join guard the catalog runs."""
    seen = []
    sql = type(spark).sql

    def spy(self, query, *a, **kw):
        if PAIR_GUARD in query and " JOIN " in query:
            seen.append(query)
        return sql(self, query, *a, **kw)

    monkeypatch.setattr(type(spark), "sql", spy)
    return seen


def test_mor_merge_evaluates_source_once(spark, tmp_path):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "once_mor", "mor")
    acc = spark.sparkContext.accumulator(0)

    def bump(k):
        acc.add(1)
        return k

    # the UDF sits on the join key, which every branch and the guard read
    src = spark.createDataFrame(
        [(k, k + 1) for k in range(0, 16, 2)], "k long, v long"
    ).withColumn("k", F.udf(bump, "long")("k"))
    src.createOrReplaceTempView("once_src")
    cat.sql(
        "MERGE INTO once_mor t USING once_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert acc.value == 8
    assert _rows(cat, "once_mor") == {k: k + 1 for k in range(0, 10, 2)}


def test_mor_merge_nondeterministic_source_is_one_snapshot(spark, tmp_path):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "rand_mor", "mor", n=200)
    # a fresh draw per evaluation (Spark's rand() is seeded once per
    # plan and repeats when the same plan runs again): a branch that
    # re-ran the source would see other flags than its sibling
    coin = F.udf(lambda k: random.random() < 0.5, "boolean")
    spark.range(200).selectExpr("id AS k", "-id AS v").withColumn(
        "flag", coin.asNondeterministic()("k")
    ).createOrReplaceTempView("rand_src")
    cat.sql(
        "MERGE INTO rand_mor t USING rand_src s ON t.k = s.k "
        "WHEN MATCHED AND s.flag THEN UPDATE SET v = s.v "
        "WHEN MATCHED AND NOT s.flag THEN DELETE"
    )
    got = _rows(cat, "rand_mor")
    # every key is matched: it ends updated or deleted, never untouched
    assert all(v == -k for k, v in got.items()), got
    assert 0 < len(got) < 200


def test_guard_duplicates_matching_no_target_row_pass(
    spark, tmp_path, guard_sql
):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "g_nomatch", "cow")
    spark.createDataFrame(
        [(1, 7), (50, 1), (50, 2)], "k long, v long"
    ).createOrReplaceTempView("g_nomatch_src")
    cat.sql(
        "MERGE INTO g_nomatch t USING g_nomatch_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert _rows(cat, "g_nomatch")[1] == 7
    # the source check found key 50 twice; the pair join cleared it
    assert len(guard_sql) == 1


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_guard_duplicates_matching_a_target_row_raise(
    spark, tmp_path, kind
):
    cat = LakehouseSqlCatalog(spark)
    name = f"g_match_{kind}"
    _table(spark, tmp_path, cat, name, kind)
    spark.createDataFrame(
        [(3, 1), (3, 2), (4, 4)], "k long, v long"
    ).createOrReplaceTempView("g_match_src")
    before = _persisted(spark)
    with pytest.raises(ValueError) as err:
        cat.sql(
            f"MERGE INTO {name} t USING g_match_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    assert str(err.value) == (
        "MERGE: target row k=3 matches multiple source rows "
        "(dedup the source first)"
    )
    assert _persisted(spark) == before
    assert _rows(cat, name) == {k: 10 * k for k in range(10)}


def test_guard_duplicate_null_join_values_pass(spark, tmp_path, guard_sql):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "g_null", "cow")
    spark.createDataFrame(
        [(None, 1), (None, 2), (2, 5)], "k long, v long"
    ).createOrReplaceTempView("g_null_src")
    cat.sql(
        "MERGE INTO g_null t USING g_null_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert _rows(cat, "g_null")[2] == 5
    assert guard_sql == []


def test_guard_type_coercing_on_takes_the_pair_join(
    spark, tmp_path, guard_sql
):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "g_cast", "cow")
    src = spark.createDataFrame([("1", 1), ("01", 2)], "k string, v long")
    src.createOrReplaceTempView("g_cast_src")
    on = "t.k = s.k"
    target = cat.sql("SELECT * FROM g_cast")
    assert (
        _equi_source_column(spark, on, "t", "s", target.schema, src.schema)
        is None
    )
    # '1' and '01' are different strings but both equal bigint 1
    with pytest.raises(ValueError, match="k=1 matches multiple source"):
        cat.sql(
            f"MERGE INTO g_cast t USING g_cast_src s ON {on} "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    assert len(guard_sql) == 1


@pytest.mark.parametrize(
    "on",
    [
        "t.k = s.k AND s.v > 0",
        "s.v > 0 AND (s.k = t.k)",
        "(t.`k` = s.`k`)",
        "T.K = S.k",
    ],
)
def test_guard_equi_conjunct_takes_the_source_check(
    spark, tmp_path, guard_sql, on
):
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "g_fast", "cow")
    src = spark.createDataFrame(
        [(1, 5), (2, -1), (30, 3)], "k long, v long"
    )
    src.createOrReplaceTempView("g_fast_src")
    target = cat.sql("SELECT * FROM g_fast")
    assert (
        _equi_source_column(spark, on, "t", "s", target.schema, src.schema)
        == "k"
    )
    cat.sql(
        f"MERGE INTO g_fast t USING g_fast_src s ON {on} "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    got = _rows(cat, "g_fast")
    assert got[1] == 5 and got[2] == (20 if "v > 0" in on else -1)
    assert guard_sql == []


@pytest.mark.parametrize(
    "on", ["t.k < s.k", "t.k <=> s.k", "t.k = s.k + 0", "t.k = s.k OR s.v = 1"]
)
def test_guard_without_equi_conjunct_has_no_source_column(spark, on):
    tschema = spark.range(1).selectExpr("id AS k", "id AS v").schema
    assert _equi_source_column(spark, on, "t", "s", tschema, tschema) is None


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_check_failed_merge_leaves_no_stage_or_pin(spark, tmp_path, kind):
    cat = LakehouseSqlCatalog(spark)
    name = f"chk_{kind}"
    path = _table(spark, tmp_path, cat, name, kind)
    cat.sql(f"ALTER TABLE {name} ADD CONSTRAINT v_pos CHECK (v >= 0)")
    spark.createDataFrame(
        [(1, -1), (40, 4)], "k long, v long"
    ).createOrReplaceTempView("chk_src")
    before = _persisted(spark)
    with pytest.raises(Exception, match="CHECK constraint 'v_pos'"):
        cat.sql(
            f"MERGE INTO {name} t USING chk_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    assert _persisted(spark) == before
    assert [d for d in os.listdir(path) if d.startswith(".stage-")] == []
    assert _rows(cat, name) == {k: 10 * k for k in range(10)}


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_merge_releases_the_pinned_source(spark, tmp_path, kind):
    cat = LakehouseSqlCatalog(spark)
    name = f"pin_{kind}"
    _table(spark, tmp_path, cat, name, kind)
    spark.createDataFrame(
        [(1, 11), (20, 200)], "k long, v long"
    ).createOrReplaceTempView("pin_src")
    before = _persisted(spark)
    cat.sql(
        f"MERGE INTO {name} t USING pin_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _persisted(spark) == before
    want = {k: 10 * k for k in range(10)} | {1: 11, 20: 200}
    assert _rows(cat, name) == want


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_txn_merge_commits_after_the_pin_is_released(spark, tmp_path, kind):
    cat = LakehouseSqlCatalog(spark, warehouse=str(tmp_path / "wh"))
    name = f"txn_pin_{kind}"
    _table(spark, tmp_path, cat, name, kind)
    spark.createDataFrame(
        [(2, 22), (3, 33), (30, 300)], "k long, v long"
    ).createOrReplaceTempView("txn_pin_src")
    before = _persisted(spark)
    cat.sql("BEGIN TRANSACTION")
    cat.sql(
        f"MERGE INTO {name} t USING txn_pin_src s ON t.k = s.k "
        "WHEN MATCHED AND s.v > 30 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # the delta was staged at statement time; its source rows are gone
    assert _persisted(spark) == before
    cat.sql("COMMIT")
    want = {k: 10 * k for k in range(10) if k != 3} | {2: 22, 30: 300}
    assert _rows(cat, name) == want
