"""Multi-table atomic transactions (S45) — the coordinator the
architecture notes sketched (ARCHITECTURE.md "Commit scope is one
table"): a write-ahead intent object plus roll-forward publication,
so a reader either sees ALL of a transaction's table versions or NONE.

Protocol (write-ahead intent + roll-forward; abort impossible after
prepare):

1. **Stage** — each operation's NEW data files land durably as hidden
   dirs inside their table root (``.txn-<id>-e<k>``), written through
   the same generated-column / CHECK / NOT NULL seam as every commit.
   Nothing is visible; ``abort()`` just deletes the stages.
2. **Prepare** — one ``<coordinator>/<id>.json`` intent object
   (O_EXCL) lists every (table, op, stage dir, base-at-prepare). This
   is the point of no return: from here the transaction is INEVITABLE
   — every failure path rolls FORWARD, never back, which is what makes
   it safe for concurrent writers to build on top of a pending version
   (they can never be building on data that later vanishes).
3. **Publish** — per table, the normal OCC commit (claim the next
   version by rename, publish the manifest), with the manifest carrying
   a ``txn`` marker ``{id, coord, entry}``. CoW appends re-link the
   CURRENT base's files at publish time, so a commit that landed
   between stage and publish is never lost; MoR entries are pure deltas
   and base-independent by construction. A per-entry ``.done`` marker
   in the coordinator makes publication idempotent for the heal path
   (with a bounded manifest walk from base-at-prepare covering the
   crash window between publish and marker).
4. **Commit** — one ``<id>.committed`` marker flips ALL tables' pending
   versions visible at once. Readers resolving a current version
   (``CommitLog.visible_version``) step DOWN past head manifests whose
   ``txn`` is not committed — one ``os.path.exists`` per read of a
   txn-tail table, zero cost for tables never touched by a transaction.

Crash matrix: before prepare -> nothing visible, stages are garbage
(``abort()`` or manual cleanup); after prepare, anywhere -> ``heal()``
completes publication and flips the marker. ``heal`` assumes ONE healer
at a time per coordinator (the intent's owner or an operator) — two
concurrent healers could double-publish an entry; a claim file per
entry would close that at the cost of a takeover protocol, which the
single-ingestor deployment this models does not need (documented
limitation, same contract as the modeled formats' external coordinated
commits).

Scope: operations whose staged content is valid regardless of
interleaved commits — CoW APPENDS, MoR DELTAS (upsert/delete), and
(S53) CoW KEYED DELTAS (the reduced form of MERGE / UPDATE / DELETE:
upsert rows + delete keys, applied through ``MergeSink.merge``'s OCC
loop at publish time, so the full-state rewrite happens under the
claim and recomputes on every lost race — never against a stale base).
What this is NOT: serializable read-write transactions — a delta's
ROWS are evaluated against the snapshot its statement read, and apply
keyed last-writer-wins (the same contract MoR deltas always had); one
keyed-delta entry per table per transaction keeps that contract honest.
Pipelines that need cross-table atomicity are fan-out shaped (one
batch appended/upserted/merged into N tables), which this covers
exactly.

No reference counterpart; the intent/roll-forward shape follows the
public two-phase lakehouse-commit discussions (Delta multi-table
transaction design docs, Iceberg's catalog-level atomicity).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame

from .manifest import _TXN_STAMP, CommitLog, build_manifest
from .merge import _base_and_claim


def _committed_marker(coord: str, txn_id: str) -> str:
    return os.path.join(coord, f"{txn_id}.committed")


def txn_is_visible(marker: dict[str, Any] | None) -> bool:
    """True when a manifest's ``txn`` marker refers to a committed
    transaction (or there is no marker at all).

    Structural rule, not just a marker probe: a transaction is PENDING
    iff its intent object still exists without the committed marker —
    the intent is written at the point of no return and survives until
    gc (which only collects COMMITTED transactions). So a marker whose
    coordinator holds NEITHER file refers to a gc'd committed txn and
    is VISIBLE. This makes stale marker copies self-healing: a writer
    that raced gc and inherited a just-collected marker can never pin
    its commit invisible forever (the files it would wait on are gone,
    which itself proves the txn committed)."""
    if not marker:
        return True
    if os.path.exists(_committed_marker(marker["coord"], marker["id"])):
        return True
    return not os.path.exists(
        os.path.join(marker["coord"], f"{marker['id']}.json")
    )


def manifest_is_visible(m: dict[str, Any]) -> bool:
    """Full visibility rule: a manifest is visible iff its OWN txn
    marker (if any) is committed AND every INHERITED marker is.

    Inheritance closes the build-on-pending hole: a CoW append on top
    of a pending txn version hardlinks that version's files — without
    inheritance the new commit would leak the pending data (a torn
    cross-table read); with it, the new commit stays invisible until
    the transaction it builds on commits (which is inevitable — the
    roll-forward contract), then both appear at once."""
    if not txn_is_visible(m.get("txn")):
        return False
    for t in m.get("txn_inherited", []):
        if not txn_is_visible(t):
            return False
    return True


def pending_markers_of(m: dict[str, Any]) -> list[dict[str, Any]]:
    """The still-UNCOMMITTED markers a new commit built on this base
    manifest must inherit (committed ones need no propagation)."""
    out: list[dict[str, Any]] = []
    own = m.get("txn")
    if own and not txn_is_visible(own):
        out.append(own)
    for t in m.get("txn_inherited", []):
        if not txn_is_visible(t):
            out.append(t)
    return out


def inherit_pending(log, claim: int) -> list[dict[str, Any]]:
    """Markers the commit claiming version ``claim`` must inherit: the
    pending markers of the newest PUBLISHED manifest below the claim
    (the base whose files/state the commit builds on). Empty on quiet
    tables — one manifest read only when a lower version exists."""
    v = claim - 1
    while v > 0:
        try:
            return pending_markers_of(log.manifest(v))
        except FileNotFoundError:
            v -= 1  # torn/vacuumed hole
    return []


class LakehouseTransaction:
    """One multi-table transaction against a shared coordinator dir.

    >>> txn = LakehouseTransaction("/warehouse/_txn")
    >>> txn.stage_append(bronze_path, df_events)
    >>> txn.stage_mor_upsert(silver_path, df_entities)
    >>> txn.commit()          # both visible atomically, or neither
    """

    def __init__(self, coordinator: str):
        self.coord = os.path.abspath(coordinator)
        self.id = uuid.uuid4().hex
        self._entries: list[dict[str, Any]] = []
        self._state = "open"

    # -- staging -------------------------------------------------------------

    def _stage_dir(self, table_path: str) -> str:
        d = os.path.join(
            table_path, f".txn-{self.id}-e{len(self._entries)}"
        )
        os.makedirs(d, exist_ok=True)
        return d

    def _guarded(self, df: DataFrame, table_path: str) -> DataFrame:
        from .constraints import apply_generated, apply_invariants

        props = CommitLog(table_path).table_props()
        return apply_invariants(apply_generated(df, props), props)

    def stage_append(
        self,
        table_path: str,
        df: DataFrame,
        copy_files: dict[str, Any] | None = None,
    ) -> None:
        """Stage an append of ``df`` to a CoW table (new files only;
        the current base's files are re-linked at publish time). The
        table's stored partition layout is honored — staged files land
        in the same hive structure the base uses. ``copy_files`` rides
        the published manifest verbatim (the S42 exactly-once record)."""
        self._check_open()
        props = CommitLog(table_path).table_props()
        if props.get("kind", "cow") != "cow":
            raise ValueError(
                f"stage_append targets CoW tables; {table_path} is "
                f"{props.get('kind')} (use stage_mor_upsert)"
            )
        from .constraints import identity_columns

        id_cols = identity_columns(props)
        have = {c.lower() for c in df.columns}
        supplied = [c for c in id_cols if c.lower() in have]
        if supplied:
            raise ValueError(
                f"GENERATED ALWAYS AS IDENTITY column(s) {supplied} "
                "cannot be supplied — the engine assigns them"
            )
        # IDENTITY columns are assigned at PUBLISH time (S49b): staging
        # precedes the OCC claim, so the high-water mark is unknowable
        # here — the staged files carry NO identity column and
        # _publish_one re-stages them with dense ids above the claim's
        # base (re-assigned on every lost claim, the S49 rule)
        id_assign = [c for c in id_cols if c.lower() not in have]
        stage = self._stage_dir(table_path)
        w = self._guarded(df, table_path).write.mode("errorifexists")
        pby = props.get("partition_by")
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        if pby:
            w = w.partitionBy(*pby)
        try:
            w.parquet(os.path.join(stage, "new"))
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise  # failed stage (e.g. constraint violation): no orphan
        ent: dict[str, Any] = {
            "path": os.path.abspath(table_path),
            "op": "cow_append",
            "stage": stage,
            "base_at_prepare": CommitLog(table_path).current_version(),
        }
        if id_assign:
            ent["identity"] = id_assign
        if copy_files:
            ent["copy_files"] = copy_files
        self._entries.append(ent)

    def stage_mor_upsert(
        self,
        table_path: str,
        source: DataFrame | None = None,
        deletes: DataFrame | None = None,
        copy_files: dict[str, Any] | None = None,
    ) -> None:
        """Stage a MoR delta (keyed upserts and/or key tombstones) —
        pure delta files, base-independent by construction."""
        self._check_open()
        if source is None and deletes is None:
            raise ValueError("stage_mor_upsert needs source or deletes")
        props = CommitLog(table_path).table_props()
        if props.get("kind") != "mor":
            raise ValueError(
                f"stage_mor_upsert targets MoR tables; {table_path} is "
                f"{props.get('kind', 'cow')} (use stage_append)"
            )
        key = props.get("merge_key")
        if not key:
            raise ValueError(f"{table_path} has no stored merge key")
        stage = self._stage_dir(table_path)
        try:
            if source is not None:
                self._guarded(source, table_path).write.mode(
                    "errorifexists"
                ).parquet(os.path.join(stage, "data"))
            if deletes is not None:
                from pyspark.sql import functions as F

                deletes.select(
                    F.col(deletes.columns[0]).alias(key)
                ).write.mode("errorifexists").parquet(
                    os.path.join(stage, "deletes")
                )
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        ent: dict[str, Any] = {
            "path": os.path.abspath(table_path),
            "op": "mor_delta",
            "stage": stage,
            "base_at_prepare": CommitLog(table_path).current_version(),
        }
        if copy_files:
            ent["copy_files"] = copy_files
        self._entries.append(ent)

    def stage_cow_delta(
        self,
        table_path: str,
        source: DataFrame | None = None,
        deletes: DataFrame | None = None,
        allow_evolution: bool = False,
    ) -> None:
        """Stage a KEYED DELTA against a CoW table (S53: MERGE / UPDATE
        / DELETE inside a transaction) — upsert rows and/or delete
        keys, exactly the shape SQL MERGE reduces to. The delta is
        applied at PUBLISH time through ``MergeSink.merge``'s own OCC
        loop (the S49b publish-under-the-claim pattern): a commit that
        lands between stage and publish is recomputed against, never
        lost, and the published manifest carries the txn marker so the
        result stays invisible until the transaction commits.

        Semantics contract (the same one S45 already gives MoR deltas):
        the delta's ROWS were evaluated against the snapshot the caller
        read — application is keyed last-writer-wins. One keyed-delta
        entry per table per transaction: a second DML whose evaluation
        could not see the first's staged effect refuses loudly instead
        of applying against a state the statement never saw."""
        self._check_open()
        if source is None and deletes is None:
            raise ValueError("stage_cow_delta needs source or deletes")
        props = CommitLog(table_path).table_props()
        if props.get("kind", "cow") != "cow":
            raise ValueError(
                f"stage_cow_delta targets CoW tables; {table_path} is "
                f"{props.get('kind')} (use stage_mor_upsert)"
            )
        key = props.get("merge_key")
        if not key:
            raise ValueError(f"{table_path} has no stored merge key")
        ap = os.path.abspath(table_path)
        for e in self._entries:
            if e["path"] == ap:
                raise ValueError(
                    f"transaction already stages {e['op']} into "
                    f"{table_path}: a keyed delta evaluated before "
                    "that entry publishes would apply against a state "
                    "it never read — commit first, or combine the "
                    "statements"
                )
        stage = self._stage_dir(table_path)
        try:
            if source is not None:
                self._guarded(source, table_path).write.mode(
                    "errorifexists"
                ).parquet(os.path.join(stage, "data"))
            if deletes is not None:
                from pyspark.sql import functions as F

                deletes.select(
                    F.col(deletes.columns[0]).alias(key)
                ).write.mode("errorifexists").parquet(
                    os.path.join(stage, "deletes")
                )
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        ent: dict[str, Any] = {
            "path": ap,
            "op": "cow_delta",
            "stage": stage,
            "base_at_prepare": CommitLog(table_path).current_version(),
        }
        if allow_evolution:
            ent["evo"] = True
        self._entries.append(ent)

    # -- terminal states -------------------------------------------------------

    def abort(self) -> None:
        """Discard everything staged. Only legal BEFORE commit() — after
        prepare the transaction is inevitable (roll-forward only)."""
        self._check_open()
        self._state = "aborted"
        for ent in self._entries:
            shutil.rmtree(ent["stage"], ignore_errors=True)
        self._entries.clear()

    def commit(
        self, extra: dict[str, Any] | None = None
    ) -> dict[str, int]:
        """Prepare (write-ahead intent), publish every entry, flip the
        committed marker. Returns {table path: published version}.
        Needs no Spark session: publication is hardlinks + footer
        stats. A crash anywhere after prepare is completed by
        :func:`heal`. ``extra`` merges into the intent object (e.g. a
        stream batch id — consumers can then answer "did batch B
        commit?" from the coordinator alone)."""
        self._check_open()
        if not self._entries:
            raise ValueError("empty transaction")
        os.makedirs(self.coord, exist_ok=True)
        intent = {"id": self.id, "entries": self._entries}
        if extra:
            for k, v in extra.items():
                intent.setdefault(k, v)
        ipath = os.path.join(self.coord, f"{self.id}.json")
        # ATOMIC intent creation: full content lands in a hidden tmp
        # (flushed + fsynced) first, then os.link claims the intent name
        # exclusively — a crash or ENOSPC mid-dump leaves only an
        # orphaned tmp, never a torn <id>.json that would wedge every
        # later heal() on json.load; and because the link is the point
        # of no return, a failed dump leaves _state "open" with NO
        # persisted intent, so abort()'s stage cleanup stays safe
        tmp = os.path.join(self.coord, f".intent-{self.id}")
        with open(tmp, "w") as fh:
            json.dump(intent, fh, separators=(",", ":"))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, ipath)  # point of no return
        finally:
            os.remove(tmp)
        self._state = "committed"
        return _publish_intent(self.coord, intent)

    def _check_open(self) -> None:
        if self._state != "open":
            raise ValueError(f"transaction is {self._state}")


def _load_intent(coord: str, fn: str) -> dict[str, Any] | None:
    """Read one coordinator intent file; QUARANTINE undecodable ones
    (rename to ``<fn>.quarantined``) instead of raising — a torn intent
    (pre-atomic-write era, or foreign garbage) would otherwise wedge
    every heal()/gc() pass forever (fanout_sink heals at the top of
    every batch, so the stream would stall permanently)."""
    p = os.path.join(coord, fn)
    try:
        with open(p) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None  # raced a gc
    except (json.JSONDecodeError, ValueError):
        q = p + ".quarantined"
        try:
            os.replace(p, q)
        except OSError:
            pass
        import sys

        print(
            f"warning: quarantined undecodable txn intent {p} -> {q}",
            file=sys.stderr,
        )
        return None


# -- publication / heal ---------------------------------------------------------


def _already_published(
    log: CommitLog, txn_id: str, entry: int, base_at_prepare: int
) -> int | None:
    """Crash-window probe: the version (base_at_prepare, head] whose
    manifest carries this (txn, entry), or None. Bounded by commits
    since prepare — the normal path never calls this (the .done marker
    short-circuits)."""
    for v in range(log.current_version(), max(base_at_prepare, 0), -1):
        try:
            t = log.manifest(v).get("txn")
        except FileNotFoundError:
            continue  # torn/vacuumed hole: keep walking
        if t and t.get("id") == txn_id and t.get("entry") == entry:
            return v
    return None


def _assign_identity_stage(
    path: str,
    stage: str,
    base: int,
    id_cols: list[str],
    props: dict[str, Any],
) -> str:
    """S49b: re-stage a transaction's staged append WITH identity values
    assigned against ``base`` (the OCC loop's current head — called
    once per claim attempt, so a lost claim re-assigns above the
    winner's high-water mark, exactly the S49 re-stage rule). Returns a
    fresh hidden dir whose ``new/`` subdir replaces the original stage
    in the link loop; the caller removes it after the attempt."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructType

    # getActiveSession is THREAD-LOCAL (a commit driven from a worker
    # thread — the concurrent-transactions shape — sees None there):
    # fall back to the process-wide instantiated session
    spark = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if spark is None:
        raise RuntimeError(
            f"transaction publish into {path}: IDENTITY assignment "
            "needs an active SparkSession (commit/heal from a live "
            "session)"
        )
    from ..session import release_checkpoint
    from .merge import MergeSink, _dense_seq

    sink = MergeSink(path, key=props.get("merge_key") or "_")
    hwm = sink._identity_hwm_for(spark, base, id_cols)
    types: dict[str, Any] = {}
    if props.get("schema_ddl"):
        for f in StructType.fromDDL(props["schema_ddl"]).fields:
            for c in id_cols:
                if f.name.lower() == c.lower():
                    types[c] = f.dataType
    df, pin = _dense_seq(
        spark.read.parquet(os.path.join(stage, "new"))
    )
    for c in id_cols:
        df = df.withColumn(
            c,
            (F.lit(hwm[c]) + F.col("__seq")).cast(
                types.get(c, LongType())
            ),
        )
    df = df.drop("__seq")
    out = os.path.join(path, f".txn-idassign-{uuid.uuid4().hex}")
    w = df.write.mode("errorifexists")
    pby = props.get("partition_by")
    if isinstance(pby, str):
        pby = [p.strip() for p in pby.split(",") if p.strip()]
    if pby:
        w = w.partitionBy(*pby)
    try:
        w.parquet(os.path.join(out, "new"))
    finally:
        release_checkpoint(pin)
    return out


def _publish_one(
    coord: str, txn_id: str, idx: int, ent: dict[str, Any]
) -> int:
    """OCC-publish one staged entry as its table's next version, with
    the txn marker in the manifest. Idempotent via the .done marker +
    manifest probe. Returns the published version."""
    path, stage, op = ent["path"], ent["stage"], ent["op"]
    done = os.path.join(coord, f"{txn_id}.e{idx}.done")
    log = CommitLog(path)
    if os.path.exists(done):
        v = _already_published(log, txn_id, idx, ent["base_at_prepare"])
        if v is not None:
            return v
        raise RuntimeError(
            f"txn {txn_id} entry {idx}: done marker exists but no "
            f"manifest carries it (vacuumed mid-heal?)"
        )
    v = _already_published(log, txn_id, idx, ent["base_at_prepare"])
    if v is not None:  # crashed between publish and marker
        shutil.rmtree(stage, ignore_errors=True)  # late stage cleanup
        with open(done, "w") as fh:
            fh.write(str(v))
        return v
    props = log.table_props()
    bloom_on = props.get("bloom_on")
    # a vanished stage is a REAL error (os.walk on a missing dir is
    # silent — publishing would commit an empty append and mark the
    # entry done, silently losing the transaction's data)
    probe = (
        os.path.join(stage, "new") if op == "cow_append" else stage
    )
    if not os.path.isdir(probe):
        raise FileNotFoundError(
            f"txn {txn_id} entry {idx}: staged data missing at {probe}"
        )
    if op == "cow_delta":
        # S53: apply the staged keyed delta through MergeSink.merge's
        # own OCC loop — the merge recomputes against the CLAIMED base
        # on every lost race (the S49b publish-time pattern), and the
        # manifest_extra txn marker keeps the result invisible until
        # the transaction's committed flip. Needs a live session, same
        # contract as identity assignment.
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession() or getattr(
            SparkSession, "_instantiatedSession", None
        )
        if spark is None:
            raise RuntimeError(
                f"transaction publish into {path}: cow_delta needs an "
                "active SparkSession (commit/heal from a live session)"
            )
        from .merge import MergeSink

        sink = MergeSink(path, key=props.get("merge_key") or "_")
        src_dir = os.path.join(stage, "data")
        del_dir = os.path.join(stage, "deletes")
        source = (
            spark.read.parquet(src_dir)
            if os.path.isdir(src_dir)
            else sink.read(spark).limit(0)
        )
        deletes = (
            spark.read.parquet(del_dir)
            if os.path.isdir(del_dir)
            else None
        )
        sink.merge(
            spark,
            source,
            deletes=deletes,
            allow_evolution=bool(ent.get("evo")),
            manifest_extra={
                "txn": {"id": txn_id, "coord": coord, "entry": idx}
            },
        )
        v = _already_published(log, txn_id, idx, ent["base_at_prepare"])
        if v is None:
            raise RuntimeError(
                f"txn {txn_id} entry {idx}: cow_delta merge returned "
                "but no manifest carries its marker"
            )
        shutil.rmtree(stage, ignore_errors=True)
        with open(done, "w") as fh:
            fh.write(str(v))
        return v
    from .merge import _versions

    for _ in range(50):
        if not _versions(path):
            base, claim = 0, 1  # first commit of a DDL-created table
        else:
            base, claim = _base_and_claim(path)
            # _base_and_claim HEALS committed-but-unpublished claims —
            # possibly OUR OWN crashed publish (the healed manifest
            # carries this txn's marker via the _TXN stamp): re-probe,
            # or we would publish the stage a SECOND time on top of it
            v = _already_published(
                log, txn_id, idx, ent["base_at_prepare"]
            )
            if v is not None:
                shutil.rmtree(stage, ignore_errors=True)
                with open(done, "w") as fh:
                    fh.write(str(v))
                return v
        id_tmp: str | None = None
        if op == "cow_append" and ent.get("identity"):
            # S49b: identity values exist only under the claim — the
            # staged files carry none; re-stage with dense ids above
            # THIS attempt's base (a lost claim re-runs this)
            id_tmp = _assign_identity_stage(
                path, stage, base, ent["identity"], props
            )
        work = os.path.join(path, f".stage-txnpub-{uuid.uuid4().hex}")
        os.makedirs(work)
        try:
            if op == "cow_append":
                # re-link the CURRENT base's files (a commit that landed
                # after staging is preserved), then the staged new files
                # PRESERVING their relative layout — a partitioned stage
                # merges into the base's hive dirs (a side subdir would
                # give Spark conflicting directory structures) — with a
                # txn-unique FILE name prefix against collisions
                if base > 0:
                    for fent in log.manifest(base)["files"]:
                        if fent.get("role", "data") != "data":
                            continue  # cdf members stay with THEIR commit
                        rel = fent["path"]
                        dst = os.path.join(work, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(
                            os.path.join(path, f"v{base}", rel), dst
                        )
                srcdir = os.path.join(id_tmp or stage, "new")
                for root_, dirs, files in os.walk(srcdir):
                    dirs[:] = [
                        d for d in dirs if not d.startswith(("_", "."))
                    ]
                    for fn in files:
                        if not fn.endswith(".parquet"):
                            continue
                        rel_dir = os.path.relpath(root_, srcdir)
                        ddir = (
                            work
                            if rel_dir == "."
                            else os.path.join(work, rel_dir)
                        )
                        os.makedirs(ddir, exist_ok=True)
                        os.link(
                            os.path.join(root_, fn),
                            os.path.join(
                                ddir, f"txn{idx}-{txn_id[:8]}-{fn}"
                            ),
                        )
            else:  # mor_delta
                for role in ("data", "deletes"):
                    srcdir = os.path.join(stage, role)
                    if not os.path.isdir(srcdir):
                        continue
                    dstdir = os.path.join(work, role)
                    os.makedirs(dstdir)
                    for fn in os.listdir(srcdir):
                        if fn.endswith(".parquet"):
                            os.link(
                                os.path.join(srcdir, fn),
                                os.path.join(dstdir, fn),
                            )
            with open(os.path.join(work, "_SUCCESS"), "w") as fh:
                fh.write("")
            # persist the txn identity WITH the staged files (the
            # `_TXN` stamp, same discipline as `_STREAM_BATCH`): a
            # crash between the rename-claim below and log.publish()
            # leaves a committed-but-unpublished v<claim> that any
            # concurrent writer's _heal_claim/CommitLog.heal rebuilds
            # from the directory — without the stamp the healed
            # manifest LOST the txn marker (the pending entry became
            # visible before the transaction committed, a torn
            # cross-table read) and heal() later found no marked
            # manifest and re-published the still-present stage
            # (duplicate data). build_manifest / the DataSource's
            # inline _manifest_from_dir restore every field below.
            stamp: dict[str, Any] = {
                "txn": {"id": txn_id, "coord": coord, "entry": idx}
            }
            inherited = [
                t
                for t in inherit_pending(log, claim)
                if t.get("id") != txn_id  # own marker is not "inherited"
            ]
            if inherited:
                stamp["txn_inherited"] = inherited
            if ent.get("copy_files"):
                # S42 exactly-once: the loaded-file record rides the
                # COMMIT itself (crash between commit and any side
                # bookkeeping can never double-load)
                stamp["copy_files"] = ent["copy_files"]
            if op == "mor_delta":
                # the MoR chain-start pointer (same rule as
                # MorTable._commit: inherit the previous commit's)
                try:
                    prev = log.manifest(log.current_version())
                    stamp["checkpoint_at"] = prev.get("checkpoint_at")
                except FileNotFoundError:
                    stamp["checkpoint_at"] = None
            with open(os.path.join(work, _TXN_STAMP), "w") as fh:
                json.dump(stamp, fh, separators=(",", ":"))
            manifest = build_manifest(claim, work, bloom_on=bloom_on)
        except BaseException:
            shutil.rmtree(work, ignore_errors=True)
            if id_tmp is not None:
                shutil.rmtree(id_tmp, ignore_errors=True)
            raise  # real I/O / stats errors must surface, not retry
        try:
            os.rename(work, os.path.join(path, f"v{claim}"))
        except OSError as exc:
            import errno

            shutil.rmtree(work, ignore_errors=True)
            if id_tmp is not None:
                shutil.rmtree(id_tmp, ignore_errors=True)
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                continue  # lost the version race: relink against new base
            raise
        log.publish(manifest)
        if id_tmp is not None:
            shutil.rmtree(id_tmp, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        with open(done, "w") as fh:
            fh.write(str(claim))
        return claim
    raise RuntimeError(
        f"txn {txn_id} entry {idx}: lost the version race 50 times"
    )


def _publish_intent(coord: str, intent: dict[str, Any]) -> dict[str, int]:
    out: dict[str, int] = {}
    for idx, ent in enumerate(intent["entries"]):
        out[ent["path"]] = _publish_one(coord, intent["id"], idx, ent)
    with open(_committed_marker(coord, intent["id"]), "w") as fh:
        fh.write("")
    return out


def gc(coordinator: str, keep=None) -> list[str]:
    """Reclaim COMMITTED transactions' coordinator files (a pipeline
    committing one txn per batch otherwise accumulates 3+ files per txn
    forever, and every read of a txn-tail table pays a marker stat).
    Safe at any moment: each referenced manifest is first REWRITTEN
    without its ``txn`` marker (no marker == visible, the same answer
    the marker gave once committed — racing readers see either form),
    then the intent/markers are deleted. Pending transactions are never
    touched; ``keep(intent) -> True`` exempts a committed intent from
    collection (the streaming fan-out keeps intents above its replay
    lower bound — they ARE its exactly-once record). Returns the
    collected txn ids."""
    coord = os.path.abspath(coordinator)
    out: list[str] = []
    if not os.path.isdir(coord):
        return out
    for fn in sorted(os.listdir(coord)):
        if not fn.endswith(".json"):
            continue
        txn_id = fn[: -len(".json")]
        if not os.path.exists(_committed_marker(coord, txn_id)):
            continue  # pending: heal() owns it
        intent = _load_intent(coord, fn)
        if intent is None:
            continue  # torn/raced: quarantined (or collected) above
        if "entries" not in intent or intent.get("id") != txn_id:
            continue  # foreign json in the coordinator, not an intent
        if keep is not None and keep(intent):
            continue
        for idx, ent in enumerate(intent["entries"]):
            log = CommitLog(ent["path"])
            v = _already_published(
                log, txn_id, idx, ent["base_at_prepare"]
            )
            mdir = os.path.join(ent["path"], "_manifest")

            def _rewrite(ver: int, m: dict[str, Any]) -> None:
                tmp = os.path.join(mdir, f".tmp-gc-{uuid.uuid4().hex}")
                with open(tmp, "w") as fh:
                    json.dump(m, fh, separators=(",", ":"))
                os.replace(tmp, os.path.join(mdir, f"{ver}.json"))

            # scrub INHERITED references in every later manifest FIRST
            # (their visibility depends on the committed marker; the
            # marker is only removable once nothing references it) —
            # bounded by commits since the txn published
            start = v if v is not None else ent["base_at_prepare"]
            for hv in range(start + 1, log.current_version() + 1):
                try:
                    hm = log.manifest(hv)
                except FileNotFoundError:
                    continue
                inh = hm.get("txn_inherited")
                if not inh:
                    continue
                kept = [t for t in inh if t.get("id") != txn_id]
                if len(kept) != len(inh):
                    if kept:
                        hm["txn_inherited"] = kept
                    else:
                        del hm["txn_inherited"]
                    _rewrite(hv, hm)
            if v is not None:
                m = log.manifest(v)
                if m.get("txn", {}).get("id") == txn_id:
                    del m["txn"]
                    _rewrite(v, m)
            dmark = os.path.join(coord, f"{txn_id}.e{idx}.done")
            if os.path.exists(dmark):
                os.remove(dmark)
        os.remove(os.path.join(coord, fn))
        os.remove(_committed_marker(coord, txn_id))
        out.append(txn_id)
    return out


def heal(coordinator: str) -> dict[str, dict[str, int]]:
    """Complete every prepared-but-uncommitted transaction in the
    coordinator (roll-forward). Returns {txn id: {path: version}}.
    Single-healer contract — see the module docstring."""
    coord = os.path.abspath(coordinator)
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(coord):
        return out
    for fn in sorted(os.listdir(coord)):
        if not fn.endswith(".json"):
            continue
        txn_id = fn[: -len(".json")]
        if os.path.exists(_committed_marker(coord, txn_id)):
            continue
        intent = _load_intent(coord, fn)
        if intent is None:
            continue  # torn/raced: quarantined (or collected) above
        if "entries" not in intent or intent.get("id") != txn_id:
            continue  # foreign json in the coordinator, not an intent
        out[txn_id] = _publish_intent(coord, intent)
    return out
