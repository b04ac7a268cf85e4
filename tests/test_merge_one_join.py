"""SQL ``MERGE INTO`` through one target/source join.

When ``ON`` is exactly ``t.<merge key> = s.d`` and every INSERT sets the
key from ``s.d``, ``LakehouseSqlCatalog._merge_one_join`` applies the
whole statement over ONE ``target FULL OUTER JOIN source``: each joined
row takes its first applicable clause, CoW commits the kept and changed
rows as the new version, and MoR writes its data delta and tombstones
from one pin of the changed rows. These tests pin:

- every clause mix against rows computed here, on CoW and MoR;
- NULL merge keys (SQL semantics: NULL matches nothing);
- which ON / INSERT shapes take the one-join plan;
- the cost: Spark jobs per statement and one read of the target;
- hygiene: a CHECK violation leaves no stage and no pin, a lost CoW
  claim recomputes, and identity-column writes release their pins.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pretalx_hub_etl_spark.plans.lakehouse_sql import (
    LakehouseSqlCatalog,
    _one_join_applies,
)
from pretalx_hub_etl_spark.sinks.merge import MergeSink
from pretalx_hub_etl_spark.sinks.mor import MorTable
from pretalx_hub_etl_spark.sinks.txn import LakehouseTransaction

N = 10
BASE = {k: 10 * k for k in range(N)}


def _table(spark, tmp_path, cat, name, kind, rows=None):
    """``name``: rows ``(k, v)``, by default ``BASE``, registered in ``cat``."""
    path = str(tmp_path / name)
    rows = BASE if rows is None else rows
    df = spark.createDataFrame(list(rows.items()), "k long, v long")
    (MergeSink if kind == "cow" else MorTable)(path, key="k").init(df)
    cat.register_path(name, path)
    return path


def _sorted(rows):
    """Rows in one order, NULL keys included."""
    return sorted(rows, key=repr)


def _rows(cat, name):
    return _sorted(tuple(r) for r in cat.sql(f"SELECT k, v FROM {name}").collect())


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def plans(monkeypatch):
    """The plan each MERGE took, in statement order."""
    taken = []
    one_join = LakehouseSqlCatalog._merge_one_join
    body = LakehouseSqlCatalog._merge_body

    def spy_one_join(self, *a, **kw):
        taken[-1] = "one_join"
        return one_join(self, *a, **kw)

    def spy_body(self, *a, **kw):
        taken.append("branch")
        return body(self, *a, **kw)

    monkeypatch.setattr(LakehouseSqlCatalog, "_merge_one_join", spy_one_join)
    monkeypatch.setattr(LakehouseSqlCatalog, "_merge_body", spy_body)
    return taken


# -- clause mixes ------------------------------------------------------------

SOURCE = [
    # (k, v, op)
    (1, 101, "upd"),
    (2, 5, "del"),
    (3, 300, "del"),  # first match wins: DELETE before the v > 100 update
    (4, 7, "upd"),
    (20, 2000, "ins"),
    (21, 2100, "skip"),  # NOT MATCHED, but the INSERT condition fails
]


def _apply(matched, by_source, insert):
    """The MERGE's outcome, computed row by row: ``matched(t, s)``,
    ``by_source(t)`` and ``insert(s)`` return the new ``v``, the string
    ``"delete"``, or None when no clause applies."""
    src = {k: (v, op) for k, v, op in SOURCE}
    out = []
    for k, v in BASE.items():
        hit = src.get(k)
        new = matched(v, hit) if hit else by_source(k, v)
        if new == "delete":
            continue
        out.append((k, v if new is None else new))
    for k, (v, op) in src.items():
        if k not in BASE:
            new = insert(v, op)
            if new is not None:
                out.append((k, new))
    return _sorted(out)


MIXES = {
    "first_match_wins": (
        "WHEN MATCHED AND s.op = 'del' THEN DELETE "
        "WHEN MATCHED AND s.v > 100 THEN UPDATE SET v = s.v "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED AND s.op = 'ins' THEN INSERT (k, v) "
        "VALUES (s.k, s.v) "
        "WHEN NOT MATCHED BY SOURCE AND t.v >= 80 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.v >= 50 THEN UPDATE SET v = t.v + 1",
        _apply(
            lambda v, s: "delete"
            if s[1] == "del"
            else (s[0] if s[0] > 100 else v + s[0]),
            lambda k, v: "delete" if v >= 80 else (v + 1 if v >= 50 else None),
            lambda v, op: v if op == "ins" else None,
        ),
    ),
    # unqualified names resolve where the branch plan resolves them:
    # a by-source SET sees only the target, an INSERT only the source
    "unqualified_scopes": (
        "WHEN MATCHED AND s.op = 'del' THEN DELETE "
        "WHEN NOT MATCHED AND op <> 'skip' THEN INSERT (k, v) "
        "VALUES (k, v * 2) "
        "WHEN NOT MATCHED BY SOURCE AND v < 30 THEN UPDATE SET v = v * 3",
        _apply(
            lambda v, s: "delete" if s[1] == "del" else None,
            lambda k, v: v * 3 if v < 30 else None,
            lambda v, op: v * 2 if op != "skip" else None,
        ),
    ),
    "insert_star_and_by_source_delete": (
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        _apply(
            lambda v, s: s[0],
            lambda k, v: "delete",
            lambda v, op: v,
        ),
    ),
    "deletes_only": (
        "WHEN MATCHED AND s.op = 'del' THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.v > 60 THEN DELETE",
        _apply(
            lambda v, s: "delete" if s[1] == "del" else None,
            lambda k, v: "delete" if v > 60 else None,
            lambda v, op: None,
        ),
    ),
    "matched_only": (
        "WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET v = -s.v "
        "WHEN MATCHED THEN DELETE",
        _apply(
            lambda v, s: -s[0] if s[1] == "upd" else "delete",
            lambda k, v: None,
            lambda v, op: None,
        ),
    ),
}


@pytest.mark.parametrize("mix", sorted(MIXES))
@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_clause_mix_matches_row_by_row_model(
    spark, tmp_path, plans, kind, mix
):
    cat = LakehouseSqlCatalog(spark)
    name = f"mix_{kind}_{mix}"
    _table(spark, tmp_path, cat, name, kind)
    src = spark.createDataFrame(SOURCE, "k long, v long, op string")
    src.createOrReplaceTempView("mix_src")
    clauses, want = MIXES[mix]
    # INSERT * writes every source column: leave ``op`` out of its source
    using = "(SELECT k, v FROM mix_src)" if "INSERT *" in clauses else "mix_src"
    before = _persisted(spark)
    cat.sql(f"MERGE INTO {name} t USING {using} s ON t.k = s.k {clauses}")
    assert plans == ["one_join"]
    assert _rows(cat, name) == want
    assert _persisted(spark) == before


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_one_join_in_a_transaction(spark, tmp_path, plans, kind):
    cat = LakehouseSqlCatalog(spark, warehouse=str(tmp_path / "wh"))
    name = f"txn_{kind}"
    _table(spark, tmp_path, cat, name, kind)
    spark.createDataFrame(SOURCE, "k long, v long, op string") \
        .createOrReplaceTempView("txn_src")
    clauses, want = MIXES["first_match_wins"]
    cat.sql("BEGIN TRANSACTION")
    cat.sql(f"MERGE INTO {name} t USING txn_src s ON t.k = s.k {clauses}")
    assert _rows(cat, name) == _sorted(BASE.items())
    cat.sql("COMMIT")
    assert plans == ["one_join"]
    assert _rows(cat, name) == want


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_check_violation_leaves_no_stage_and_no_pin(
    spark, tmp_path, plans, kind
):
    cat = LakehouseSqlCatalog(spark)
    name = f"chk1_{kind}"
    path = _table(spark, tmp_path, cat, name, kind)
    cat.sql(f"ALTER TABLE {name} ADD CONSTRAINT v_pos CHECK (v >= 0)")
    spark.createDataFrame([(1, -1), (40, 4)], "k long, v long") \
        .createOrReplaceTempView("chk1_src")
    before = _persisted(spark)
    with pytest.raises(Exception, match="CHECK constraint 'v_pos'"):
        cat.sql(
            f"MERGE INTO {name} t USING chk1_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE AND t.k = 9 THEN DELETE"
        )
    assert plans == ["one_join"]
    assert _persisted(spark) == before
    assert [d for d in os.listdir(path) if d.startswith(".stage-")] == []
    assert _rows(cat, name) == _sorted(BASE.items())


def test_lost_cow_claim_rebuilds_the_join_on_the_winner(
    spark, tmp_path, plans, monkeypatch
):
    cat = LakehouseSqlCatalog(spark)
    path = _table(spark, tmp_path, cat, "race", "cow")
    spark.createDataFrame([(1, 11), (60, 600)], "k long, v long") \
        .createOrReplaceTempView("race_src")
    write = MergeSink._write
    claims = []

    def racing_write(self, df, version, **kw):
        claims.append(version)
        if len(claims) == 1:
            # another writer commits this version first, adding a column
            winner = spark.createDataFrame(
                [(3, 333, "x"), (50, 500, "y")], "k long, v long, w string"
            )
            MergeSink(path, key="k").merge(spark, winner, allow_evolution=True)
        return write(self, df, version, **kw)

    monkeypatch.setattr(MergeSink, "_write", racing_write)
    before = _persisted(spark)
    cat.sql(
        "MERGE INTO race t USING race_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 50 THEN UPDATE SET v = -1"
    )
    # claims[1] is the winner's own write of the contested version
    assert claims[0] == claims[1] and claims[2] == claims[0] + 1
    assert plans == ["one_join"]
    # the winner's rows and column survive, and the by-source clause
    # saw its key 50
    want = BASE | {1: 11, 3: 333, 50: -1, 60: 600}
    assert _rows(cat, "race") == _sorted(want.items())
    w = {r.k: r.w for r in cat.sql("SELECT k, w FROM race").collect()}
    assert w == dict.fromkeys(want) | {3: "x", 50: "y"}
    assert _persisted(spark) == before


# -- NULL merge keys ---------------------------------------------------------


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_null_keys_match_nothing(spark, tmp_path, kind):
    """NULL = NULL is not true: a NULL-key source row is inserted as a
    new row, and a NULL-key target row is only ever reached by the
    by-source clauses."""
    cat = LakehouseSqlCatalog(spark)
    name = f"nul_del_{kind}"
    path = str(tmp_path / name)
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (None, -1)], "k long, v long"
    )
    (MergeSink if kind == "cow" else MorTable)(path, key="k").init(base)
    cat.register_path(name, path)
    spark.createDataFrame(
        [(1, 11), (None, 99), (3, 30)], "k long, v long"
    ).createOrReplaceTempView("nul_src")
    cat.sql(
        f"MERGE INTO {name} t USING nul_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN DELETE"
    )
    assert _rows(cat, name) == _sorted(
        [(1, 11), (2, 20), (3, 30), (None, 99)]
    )


def test_null_key_target_row_updated_in_place_on_cow(spark, tmp_path):
    """CoW keeps both NULL-key rows apart: the by-source UPDATE rewrites
    the target's row and the source's is inserted beside it (MoR keeps
    one row per key value, NULL included, so it is not pinned here)."""
    cat = LakehouseSqlCatalog(spark)
    path = str(tmp_path / "nul_upd")
    MergeSink(path, key="k").init(
        spark.createDataFrame([(1, 10), (None, -1)], "k long, v long")
    )
    cat.register_path("nul_upd", path)
    spark.createDataFrame([(None, 99)], "k long, v long") \
        .createOrReplaceTempView("nul_upd_src")
    cat.sql(
        "MERGE INTO nul_upd t USING nul_upd_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN UPDATE SET v = 0"
    )
    assert _rows(cat, "nul_upd") == _sorted([(1, 10), (None, 0), (None, 99)])


# -- eligibility -------------------------------------------------------------

def _schema(**cols):
    return StructType([StructField(n, t) for n, t in cols.items()])


TARGET = _schema(k=LongType(), v=LongType())
SRC = _schema(k=LongType(), k2=LongType(), ks=StringType(), v=LongType())
MATCHED = [(None, {"v": "s.v"})]
INSERT_STAR = [(None, "*")]


def _ins(key_expr):
    return [(None, [("k", key_expr), ("v", "s.v")])]


@pytest.mark.parametrize(
    "on, matched, inserts, plan",
    [
        ("t.k = s.k", MATCHED, INSERT_STAR, "one_join"),
        ("s.k = t.k", MATCHED, _ins("s.k"), "one_join"),
        ("(T.K = S.K)", MATCHED, _ins("S.k"), "one_join"),
        ("`t`.`k` = `s`.`k`", MATCHED, _ins("k"), "one_join"),
        ("t.k = s.k2", MATCHED, _ins("s.k2"), "one_join"),
        ("t.k = s.k", MATCHED, [], "one_join"),
        ("t.k = s.k2", MATCHED, INSERT_STAR, "branch"),  # inserts s.k
        ("t.k = s.k2", MATCHED, _ins("s.k"), "branch"),
        ("t.k = s.k", MATCHED, _ins("s.k + 0"), "branch"),
        ("t.k = s.k", MATCHED, _ins("s.v"), "branch"),
        ("t.k = s.k", [], INSERT_STAR, "branch"),  # no multiple-match guard
        ("t.k = s.k AND t.v = s.v", MATCHED, INSERT_STAR, "branch"),
        ("t.k = s.k + 0", MATCHED, INSERT_STAR, "branch"),
        ("t.k <=> s.k", MATCHED, INSERT_STAR, "branch"),
        ("t.v = s.v", MATCHED, INSERT_STAR, "branch"),  # not the merge key
        ("t.k = s.ks", MATCHED, _ins("s.ks"), "branch"),  # bigint = string
        ("t.k = s.k OR t.v = s.v", MATCHED, INSERT_STAR, "branch"),
        ("t.k = ", MATCHED, INSERT_STAR, "branch"),  # does not parse
    ],
)
def test_eligibility(spark, on, matched, inserts, plan):
    applies = _one_join_applies(
        spark, on, "t", "s", "k", TARGET, SRC, matched, inserts
    )
    assert ("one_join" if applies else "branch") == plan


def test_branch_plan_keeps_upsert_by_key(spark, tmp_path, plans):
    """An INSERT whose key is not ``s.d`` can collide with a target key:
    the branch plan applies it as an upsert that replaces that row."""
    cat = LakehouseSqlCatalog(spark)
    _table(spark, tmp_path, cat, "ups", "cow")
    spark.createDataFrame([(1, 11), (103, 33)], "k long, v long") \
        .createOrReplaceTempView("ups_src")
    cat.sql(
        "MERGE INTO ups t USING ups_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k - 100, s.v)"
    )
    assert plans == ["branch"]
    assert _rows(cat, "ups") == _sorted((BASE | {1: 11, 3: 33}).items())


# -- cost --------------------------------------------------------------------

COST_SQL = (
    "MERGE INTO {name} t USING cost_src s ON t.k = s.k "
    "WHEN MATCHED AND s.v < 0 THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v) "
    "WHEN NOT MATCHED BY SOURCE AND t.k >= 990 THEN DELETE"
)


def _statement_cost(spark, run):
    """(Spark jobs, input records of their stages) of ``run()``."""
    sc = spark.sparkContext
    group = f"cost-{id(run)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    records = 0
    for s in stages:
        try:
            records += store.lastStageAttempt(s).inputRecords()
        except Exception:  # noqa: BLE001 - a skipped stage never ran
            pass
    return len(jobs), records


@pytest.mark.parametrize("kind, max_jobs", [("cow", 8), ("mor", 10)])
def test_statement_cost(spark, tmp_path, kind, max_jobs):
    """One statement runs a bounded number of Spark jobs and reads the
    target once: the only other input is the small source and, on MoR,
    the pinned changed rows. (The branch plan ran 12 jobs on either
    kind and read a 1000-row target 2.5-3.5 times.)"""
    cat = LakehouseSqlCatalog(spark)
    name = f"cost_{kind}"
    _table(spark, tmp_path, cat, name, kind, {k: k for k in range(1000)})
    spark.createDataFrame(
        [(1, 5), (2, -1), (2000, 7)], "k long, v long"
    ).createOrReplaceTempView("cost_src")
    jobs, records = _statement_cost(
        spark, lambda: cat.sql(COST_SQL.format(name=name))
    )
    assert jobs <= max_jobs
    assert 1000 <= records < 1100
    want = {k: k for k in range(990) if k != 2} | {1: 5, 2000: 7}
    assert _rows(cat, name) == _sorted(want.items())


# -- identity pins -----------------------------------------------------------


def test_identity_writes_release_their_pins(spark, tmp_path):
    """INSERT, MERGE and a transaction COMMIT into an identity table
    each number new rows from a pinned frame, and free it after."""
    cat = LakehouseSqlCatalog(spark, warehouse=str(tmp_path / "wh"))
    path = str(tmp_path / "idp")
    cat.sql(
        "CREATE TABLE idp (id BIGINT GENERATED ALWAYS AS IDENTITY, "
        f"k BIGINT, v BIGINT) USING lakehouse LOCATION '{path}' "
        "TBLPROPERTIES (merge_key='k')"
    )
    before = _persisted(spark)
    cat.sql("INSERT INTO idp (k, v) VALUES (1, 10)")
    cat.sql("INSERT INTO idp (k, v) VALUES (2, 20)")
    assert _persisted(spark) == before
    spark.createDataFrame([(2, 22), (3, 30)], "k long, v long") \
        .createOrReplaceTempView("idp_src")
    cat.sql(
        "MERGE INTO idp t USING idp_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    assert _persisted(spark) == before
    txn = LakehouseTransaction(str(tmp_path / "_txn"))
    txn.stage_append(
        path, spark.createDataFrame([(4, 40)], "k long, v long")
    )
    txn.commit()
    assert _persisted(spark) == before
    rows = cat.sql("SELECT id, k, v FROM idp").collect()
    assert sorted((r.k, r.v) for r in rows) == [
        (1, 10), (2, 22), (3, 30), (4, 40)
    ]
    assert len({r.id for r in rows}) == 4
