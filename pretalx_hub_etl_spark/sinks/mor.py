"""Merge-on-read (MoR) table: O(delta) writes, latest-wins reads.

The copy-on-write ``MergeSink`` rewrites the touched table slice per
MERGE — right for read-heavy tables, wrong for a 100 TB table taking
frequent small upserts, where every commit would pay a table-sized (or
partition-sized) rewrite. The MoR layout is the other half of the
lakehouse trade (Hudi MOR, Iceberg equality deletes): a commit writes
ONLY the new rows plus key tombstones, and the READER resolves per-key
latest-wins across the version chain:

    v<N>/data/     new/updated full rows of commit N        (delta-sized)
    v<N>/deletes/  single-column key tombstones of commit N (delta-sized)
    v<N>/_CHECKPOINT  marker: this commit's data/ is the FULL resolved
                      state — readers start here and ignore v<N

Read semantics: for each key, the highest-version event wins; an upsert
event carries the row, a tombstone hides the key (until a later upsert
re-inserts it). One scan per file role over the whole chain (each row's
version read off its ``v<N>/`` path) + one window shuffle on the key —
the classic MoR read tax, bounded by compaction.

``compact()`` is the maintenance op that bounds the chain: it
materializes the resolved state as a new checkpointed commit, after
which readers scan one base plus the (empty) tail. Vacuum of superseded
versions composes with ``MergeSink.vacuum``'s policy and stays out of
scope here.

Commits reuse the CoW sink's optimistic-concurrency protocol verbatim
(stage into a hidden dir, atomic rename onto ``v<N>``, loser recomputes)
— the transaction story is identical, only WHAT each version contains
differs (deltas here, full states there).
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .manifest import CommitLog, build_manifest
from .merge import _base_and_claim, _heal_claim, _versions

_CKPT = "_CHECKPOINT"


def _rp(spark, *files):
    """spark.read of engine-written parquet files under an explicit
    driver-side footer schema (merge.donor_schema) — skips the
    schema-inference job a bare .parquet() fires per call (r17).

    Multi-commit file sets (r17 ADVICE): some call sites read files
    spanning several versions (e.g. DV-referenced files), where a later
    commit may have widened a type — the oldest-file donor would force
    a downcast read that fails EXECUTOR-side. The files are grouped by
    directory (one writer schema per directory by construction) and
    read through ``_scan_chain``, whose schema takes the field-wise
    WIDEST integral/float type across the groups' donors and falls back
    to inference when no numeric widening covers the difference (fails
    loudly, never serves wrong data)."""
    by_dir: dict[str, list[str]] = {}
    for f in files:
        by_dir.setdefault(os.path.dirname(f), []).append(f)
    return _scan_chain(spark, list(by_dir.values()), {})


#: numeric widening lattice for _widen_footers: rank by containment
_WIDTH_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_FLOAT_RANK = {"float": 0, "double": 1}


def _widen_footers(structs):
    """Field-wise widest StructType across footer schemas, or None when
    the difference is not a pure numeric widening (caller falls back to
    inference). Field order: first appearance; fields missing from some
    files read as NULL there (parquet scan semantics)."""
    fields: dict[str, object] = {}
    order: list[str] = []
    for st in structs:
        for f in st.fields:
            cur = fields.get(f.name)
            if cur is None:
                fields[f.name] = f.dataType
                order.append(f.name)
            elif cur != f.dataType:
                a, b = cur.typeName(), f.dataType.typeName()
                if a in _WIDTH_RANK and b in _WIDTH_RANK:
                    if _WIDTH_RANK[b] > _WIDTH_RANK[a]:
                        fields[f.name] = f.dataType
                elif a in _FLOAT_RANK and b in _FLOAT_RANK:
                    if _FLOAT_RANK[b] > _FLOAT_RANK[a]:
                        fields[f.name] = f.dataType
                else:
                    return None
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(n, fields[n], True) for n in order]
    )


#: A chain file's commit version, read off its path. The reader hands a
#: scan version N's files only as ``<table>/v<N>/<manifest-relative
#: path>`` (``_view_from_manifest``; ``v<N>/<role>`` directories on
#: legacy tables), and every writer stages a version's files in one
#: directory that is renamed onto ``v<N>``, so the LAST ``/v<digits>/``
#: segment is the version (nothing below it is named ``v<digits>``:
#: role dirs, hive ``col=value`` dirs, part files). A constant pattern
#: keeps the generated code version-free, where a per-commit
#: ``F.lit(v)`` is inlined into the Java source and every new commit
#: compiled new classes. Under ANSI a path that does not match fails
#: the cast loudly instead of resolving with a NULL version.
_VERSION_DIR = r"^.*/v([0-9]+)/"


def _file_version():
    return F.regexp_extract(
        F.col("_metadata.file_path"), _VERSION_DIR, 1
    ).cast("int")


@functools.lru_cache(maxsize=4096)
def _footer(path: str):
    """Spark schema of one committed file's footer (``donor_schema``),
    cached: committed files are immutable, so a repeated chain read opens
    only the footers of versions it has not seen before."""
    from .merge import donor_schema

    return donor_schema([path])


def _scan_chain(spark, per_version: list[list[str]], widen_types: dict):
    """ONE parquet scan over a chain's files of one role (one file list
    per version) under a read schema built on the driver: each version's
    donor footer (versions share one writer schema per commit), merged
    in first-appearance field order with numeric widening across
    versions (``_widen_footers``; a later delta may ADD columns — older
    files read them as NULL), and every widened column forced to its
    era's declared type (S52b: parquet inference over mixed int32/int64
    footers is order-dependent; SPARK-40876 upcasts narrow files per
    file). Falls back to merged-schema inference when a footer is not
    readable (legacy directory views) or versions differ by more than a
    numeric widening."""
    from pyspark.sql.types import (
        StructField,
        StructType,
        _parse_datatype_string,
    )

    files = [f for fs in per_version for f in fs]
    donors = [_footer(sorted(fs)[0]) for fs in per_version]
    schema = None
    if all(d is not None for d in donors):
        same = all(d == donors[0] for d in donors)
        schema = donors[0] if same else _widen_footers(donors)
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    if widen_types:
        schema = StructType(
            [
                StructField(
                    f.name,
                    _parse_datatype_string(widen_types[f.name.lower()]),
                    True,
                )
                if f.name.lower() in widen_types
                else f
                for f in schema.fields
            ]
        )
    return spark.read.schema(schema).parquet(*files)



class MorTable:
    """Versioned parquet table with merge-on-read upserts/deletes."""

    def __init__(self, path: str, key: str, bloom_on: str | None = None):
        self.path = path
        self.key = key
        #: per-file Bloom index column (S33 on the MoR layout): built
        #: for every delta's data AND key-tombstone files at commit
        #: time; point lookups through read_pruned/changes_since probe
        #: it. Falls back to the table's stored ``bloom_on`` prop so a
        #: fresh handle keeps the index alive across sessions.
        self.bloom_on = bloom_on

    # -- commit protocol ----------------------------------------------------

    def _commit(
        self,
        upserts: DataFrame | None,
        delete_keys: DataFrame | None,
        version: int,
        checkpoint: bool = False,
        pos_deletes: DataFrame | None = None,
    ) -> None:
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        os.makedirs(stage)
        try:
            if upserts is not None:
                # CHECK / NOT NULL invariants, fused into the delta write
                # (tombstones / position deletes carry no row to check)
                from .constraints import apply_generated, apply_invariants

                _props = CommitLog(self.path).table_props()
                upserts = apply_invariants(
                    apply_generated(upserts, _props), _props
                )
                upserts.write.mode("errorifexists").parquet(
                    os.path.join(stage, "data")
                )
            if delete_keys is not None:
                delete_keys.select(
                    F.col(delete_keys.columns[0]).alias(self.key)
                ).write.mode("errorifexists").parquet(
                    os.path.join(stage, "deletes")
                )
            if pos_deletes is not None:
                pos_deletes.select(
                    F.col("__file").cast("string"),
                    F.col("__pos").cast("long"),
                ).write.mode("errorifexists").parquet(
                    os.path.join(stage, "pos_deletes")
                )
            if checkpoint:
                with open(os.path.join(stage, _CKPT), "w") as fh:
                    fh.write("")
            # top-level commit marker: the shared version helpers
            # (merge._versions / _base_and_claim) count a v<N> as
            # committed iff v<N>/_SUCCESS exists
            with open(os.path.join(stage, "_SUCCESS"), "w") as fh:
                fh.write("")
            # manifest from the stage (file set final), published only
            # after the rename-claim wins — the listing-free read path
            bloom_on = self.bloom_on or CommitLog(self.path).table_props().get(
                "bloom_on"
            )
            manifest = build_manifest(
                version, stage, checkpoint=checkpoint, bloom_on=bloom_on
            )
            # visibility inheritance (sinks/txn.py): a delta committed
            # on top of a pending-txn head stays invisible until that
            # txn commits (chains must not resolve around it)
            from .txn import inherit_pending

            inherited = inherit_pending(CommitLog(self.path), version)
            if inherited:
                manifest["txn_inherited"] = inherited
                from .merge import _stamp_inherited as _sti

                _sti(stage, inherited)
            # checkpoint pointer: every manifest records the newest
            # checkpoint at-or-before itself, so _chain() jumps straight
            # to the chain start from ONE manifest read instead of
            # probing every version since 1 — O(tail since compaction)
            # metadata per read even at thousands of deltas. A healed
            # manifest may lack the pointer (the heal path is generic);
            # _chain falls back to the probe loop for exactly that case.
            log = CommitLog(self.path)
            first_manifest_era = not log.exists()
            if checkpoint:
                manifest["checkpoint_at"] = version
            else:
                try:
                    prev = log.manifest(log.current_version())
                    manifest["checkpoint_at"] = prev.get("checkpoint_at")
                except FileNotFoundError:
                    manifest["checkpoint_at"] = None
            final = os.path.join(self.path, f"v{version}")
            try:
                os.rename(stage, final)
            except OSError as exc:
                raise FileExistsError(str(exc)) from exc
            log.publish(manifest)
            if first_manifest_era:
                # upgrading a legacy (pre-manifest) table: backfill
                # manifests for its committed history or the log would
                # silently drop every pre-upgrade delta from reads
                log.backfill_legacy()
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def init(self, df: DataFrame) -> None:
        if _versions(self.path):
            raise FileExistsError(f"MoR table already initialized: {self.path}")
        os.makedirs(self.path, exist_ok=True)
        self._commit(df, None, 1, checkpoint=True)
        # path-discoverable DML routing (LakehouseSqlCatalog.register_path)
        log = CommitLog(self.path)
        props = log.table_props()
        props.update({"kind": "mor", "merge_key": self.key})
        if self.bloom_on is not None:
            props["bloom_on"] = self.bloom_on
        log.write_table_props(props)

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame | None = None,
        deletes: DataFrame | None = None,
        max_retries: int = 20,
    ) -> int:
        """Commit a delta: new/updated rows and/or key tombstones.

        Writes ONLY the delta — no read, no rewrite of existing data
        (contrast ``MergeSink.merge``, which materializes the whole new
        state). Same precondition as SQL MERGE: at most one source row
        per key per commit. Returns the committed version number.
        """
        if source is None and deletes is None:
            raise ValueError("merge needs source rows and/or delete keys")
        for _ in range(max_retries):
            _, claim = _base_and_claim(self.path)
            try:
                self._commit(source, deletes, claim)
            except FileExistsError:
                # lost the version race; deltas need no recompute, but a
                # winner that crashed pre-publish must be healed or the
                # claim number never advances
                _heal_claim(self.path, claim)
                continue
            return claim
        raise RuntimeError(
            f"merge lost the version race {max_retries} times at {self.path}"
        )

    def delete_positions(
        self,
        spark: SparkSession,
        positions: DataFrame,
        max_retries: int = 20,
    ) -> int:
        """Commit a POSITION-DELETE delta (the Delta deletion-vector /
        Iceberg-v2 position-delete shape): ``positions`` carries
        ``(__file string, __pos long)`` rows naming physical rows of
        earlier data commits — by provenance, never by key, so a delete
        needs no key-column values and compaction can drop applied DVs
        wholesale. Contrast ``merge(deletes=...)``: key tombstones are
        the equality-delete shape (delete by value). Read semantics are
        identical by construction — the reader turns a DV'd row's key
        into a delete event at this commit's version (no resurrection
        of shadowed history; a later upsert re-inserts). Returns the
        committed version."""
        for _ in range(max_retries):
            _, claim = _base_and_claim(self.path)
            try:
                self._commit(None, None, claim, pos_deletes=positions)
            except FileExistsError:
                _heal_claim(self.path, claim)
                continue
            return claim
        raise RuntimeError(
            f"delete_positions lost the version race {max_retries} "
            f"times at {self.path}"
        )

    def delete_where(self, spark: SparkSession, condition) -> int:
        """DELETE FROM ... WHERE as a deletion-vector commit: resolve
        the current state WITH row provenance, keep the winning rows
        matching ``condition``, and commit their (file, position)
        pairs. O(delta) like every MoR write — nothing is rewritten;
        the matched predicate scan is the same one a SQL DELETE pays.
        Returns the committed version."""
        cur = self._read_with_provenance(spark)
        return self.delete_positions(
            spark,
            cur.filter(condition).select(
                F.col("__fp").alias("__file"),
                F.col("__ri").alias("__pos"),
            ),
        )

    def _read_with_provenance(self, spark: SparkSession) -> DataFrame:
        """Resolved current state plus (__fp, __ri) provenance of each
        winning row — the input a position-delete writer needs."""
        return self._resolve_chain(
            spark,
            {v: self._commit_view(v) for v in self._chain()[1]},
            provenance=True,
        )

    def _resolve_chain(
        self,
        spark: SparkSession,
        views: dict[int, tuple],
        provenance: bool,
    ) -> DataFrame:
        """Latest-wins resolution over one version chain (``views``:
        version -> ``_commit_view`` tuple): ONE scan per file role over
        the whole chain (data, key tombstones, position deletes), each
        row tagged with its commit version read off its own file path,
        then the highest event per key. Plan shape and generated code
        do not depend on the chain's length or version numbers, so a
        repeated read reuses the compiled classes of the last one.
        ``provenance=True`` keeps each winning row's (__fp, __ri) —
        needed by position-delete WRITERS; plain reads drop them (and
        skip the _metadata row index when the chain carries no DVs)."""
        chain = sorted(views)
        if not chain:
            raise FileNotFoundError(f"no version of MoR table at {self.path}")
        data, dels, pos = (
            [views[v][i] for v in chain if views[v][i] is not None]
            for i in range(3)
        )
        if not data:
            raise ValueError(f"MoR chain at {self.path} holds no data files")
        widen_types = self._era_widen_types(chain[-1])
        prov = []
        if provenance or pos:
            # row provenance so position deletes can target physical
            # rows: (file URI, row index) — computed by the scan itself,
            # no extra I/O (S13's _metadata column)
            prov = [
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            ]
        events = _scan_chain(spark, data, widen_types).select(
            "*",
            *prov,
            _file_version().alias("__v"),
            F.lit("u").alias("__kind"),
        )
        if dels:
            # tombstones ride the same union with NULL payloads; within
            # one version a key is either upserted or deleted, never
            # both, so (version) is a total order per key
            events = events.unionByName(
                _scan_chain(spark, dels, widen_types).select(
                    F.col(self.key),
                    _file_version().alias("__v"),
                    F.lit("d").alias("__kind"),
                ),
                allowMissingColumns=True,
            )
        if pos:
            # DELETION-VECTOR resolution (the Delta-DV / Iceberg-v2
            # position-delete shape): a DV row names a physical row
            # (file, position) of an earlier data commit — no key
            # columns touched. Semantics match key tombstones exactly:
            # the targeted row's KEY becomes a delete EVENT at the DV's
            # commit version (so shadowed history does NOT resurface,
            # and a later upsert re-inserts the key). DVs are tiny
            # relative to data — broadcast; one join, no extra shuffle.
            dv = (
                _scan_chain(spark, pos, {})
                .select("__file", "__pos", _file_version().alias("__dv_v"))
                .groupBy("__file", "__pos")
                .agg(F.max("__dv_v").alias("__dv_v"))
            )
            events = events.join(
                F.broadcast(dv),
                (F.col("__fp") == F.col("__file"))
                & (F.col("__ri") == F.col("__pos")),
                "left",
            )
            events = events.select(
                *[
                    c
                    for c in events.columns
                    if c
                    not in ("__v", "__kind", "__file", "__pos", "__dv_v")
                ],
                F.coalesce(F.col("__dv_v"), F.col("__v")).alias("__v"),
                F.when(F.col("__dv_v").isNotNull(), F.lit("d"))
                .otherwise(F.col("__kind"))
                .alias("__kind"),
            )
        w = Window.partitionBy(self.key).orderBy(F.col("__v").desc())
        resolved = (
            events.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__kind") == "u"))
            .drop("__v", "__kind", "__rn")
        )
        if prov and not provenance:
            resolved = resolved.drop("__fp", "__ri")
        return resolved

    def _era_widen_types(self, version: int) -> dict[str, str]:
        """Declared type (simpleString) per WIDENED column as of
        ``version`` — schema_ddl's current types with widens ABOVE the
        version undone via their recorded "from" (the same era logic as
        the CoW ``_physical_reader``). Empty when the table has no
        widen events (the common case: zero cost)."""
        from .colmap import column_events

        log = CommitLog(self.path)
        if not log.exists():
            return {}
        props = log.table_props()
        evs = column_events(props)
        widened = [e for e in evs if e["op"] == "widen"]
        if not widened or not props.get("schema_ddl"):
            return {}
        from pyspark.sql.types import StructType

        era = {
            f.name.lower(): f.dataType.simpleString()
            for f in StructType.fromDDL(props["schema_ddl"]).fields
        }
        for e in reversed(
            [x for x in evs if int(x.get("since", 0)) > version]
        ):
            if (
                e["op"] == "widen"
                and e.get("from")
                and e["name"].lower() in era
            ):
                era[e["name"].lower()] = e["from"]
        return {
            e["name"].lower(): era[e["name"].lower()]
            for e in widened
            if e["name"].lower() in era
        }

    # -- read path ----------------------------------------------------------

    def _commit_view(
        self, v: int, prune: list | None = None
    ) -> tuple[list[str] | None, list[str] | None, list[str] | None, bool]:
        """(data files, key-delete files, position-delete files,
        is_checkpoint) for one commit — absolute paths straight from the
        manifest when the table has a commit log (listing-free),
        directory probes for legacy tables. ``None`` means the commit
        has no files of that role. ``prune`` stats/Bloom-skips data and
        tombstone files (pos-delete files carry no key column, so the
        no-stats rule keeps them all — sound)."""
        log = CommitLog(self.path)
        vdir = os.path.join(self.path, f"v{v}")
        if log.exists():
            if prune is not None:
                data, _s1 = log.files_for(v, role="data", prune=prune)
                dels, _s2 = log.files_for(v, role="deletes", prune=prune)
                pos, _s3 = log.files_for(v, role="pos_deletes")
                return (
                    data or None,
                    dels or None,
                    pos or None,
                    bool(log.manifest(v).get("checkpoint")),
                )
            return self._view_from_manifest(v, log.manifest(v))
        ddir = os.path.join(vdir, "data")
        tdir = os.path.join(vdir, "deletes")
        pdir = os.path.join(vdir, "pos_deletes")
        return (
            [ddir] if os.path.isdir(ddir) else None,
            [tdir] if os.path.isdir(tdir) else None,
            [pdir] if os.path.isdir(pdir) else None,
            os.path.exists(os.path.join(vdir, _CKPT)),
        )

    def _view_from_manifest(
        self, v: int, m: dict
    ) -> tuple[list[str] | None, list[str] | None, list[str] | None, bool]:
        """Manifest dict -> (data, deletes, pos_deletes, is_checkpoint)
        absolute file lists — shared by the per-version read path and
        the rolled-checkpoint history path."""
        vdir = os.path.join(self.path, f"v{v}")
        by_role: dict[str, list[str]] = {}
        for e in m["files"]:
            by_role.setdefault(e.get("role", "data"), []).append(
                os.path.join(vdir, e["path"])
            )
        return (
            by_role.get("data"),
            by_role.get("deletes"),
            by_role.get("pos_deletes"),
            bool(m.get("checkpoint")),
        )

    def _chain(self) -> tuple[int, list[int]]:
        """(start version, committed versions >= start): start is the
        newest checkpointed commit (readers skip everything before).

        Fast path on commit-log tables: the CURRENT manifest carries
        ``checkpoint_at`` (maintained by ``_commit``), so the chain
        start comes from ONE manifest read and only the
        checkpoint..current tail is probed — O(deltas since compaction)
        metadata per read, not O(all versions). Falls back to the
        per-version probe when the pointer is absent (healed manifests,
        pre-pointer tables)."""
        log = CommitLog(self.path)
        if log.exists():
            # visible_version: step past pending multi-table txn heads
            cur = log.visible_version()
            ckpt = log.manifest(cur).get("checkpoint_at")
            if ckpt is not None:
                chain = log.versions(lo=ckpt, hi=cur)
                if chain and chain[0] == ckpt:
                    return ckpt, chain
        versions = _versions(self.path)
        if not versions:
            raise FileNotFoundError(f"no version of MoR table at {self.path}")
        start = versions[0]
        for v in versions:
            if self._commit_view(v)[3]:
                start = v
        return start, [v for v in versions if v >= start]

    def read(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame:
        """Resolved state: per-key latest event wins — current by
        default, or the snapshot AS OF ``as_of`` (the MoR face of S20's
        time travel: where CoW resolves one manifest, MoR replays the
        delta chain from the newest checkpoint at-or-before ``as_of``
        up to it — an as-of read costs the same bounded chain a current
        read does, just truncated; raises on unpublished versions).

        One scan per file role over every commit since the governing
        checkpoint (data, key tombstones, position deletes; each row's
        version read off its ``v<N>/`` path, not a per-commit literal) +
        one window shuffle on the key. Tombstones ride one union with
        the data rows with NULL payloads and ``__kind='d'``; within one
        version a key is either upserted or deleted, never both, so
        (version) is a total order per key. The plan's shape does not
        grow with the chain and its generated code does not change with
        version numbers.
        """
        start, chain = self._chain()
        if as_of is not None:
            if as_of not in chain and as_of < start:
                # re-derive the chain as it stood at as_of: versions up
                # to as_of, starting from the newest checkpoint <= as_of
                versions = [v for v in _versions(self.path) if v <= as_of]
                if not versions or as_of not in versions:
                    raise FileNotFoundError(
                        f"version v{as_of} of {self.path} is not published"
                        " (never committed, or removed by vacuum)"
                    )
                start = versions[0]
                for v in versions:
                    if self._commit_view(v)[3]:
                        start = v
                chain = [v for v in versions if v >= start]
            elif as_of in chain:
                chain = [v for v in chain if v <= as_of]
            else:
                raise FileNotFoundError(
                    f"version v{as_of} of {self.path} is not published"
                    " (never committed, or removed by vacuum)"
                )
        # schema-evolution tolerance: a later delta may ADD columns
        # (append-only evolution, the S22 contract transposed to MoR) —
        # the resolved schema is the union across the chain, older
        # commits and tombstones NULL-pad the columns they predate.
        # Silently dropping a newer delta's column (the pre-round-10
        # behavior of projecting to the OLDEST commit's columns) loses
        # data; the chain scan's merged read schema is the fix.
        out = self._resolve_chain(
            spark, {v: self._commit_view(v) for v in chain}, provenance=False
        )
        # column mapping (S46): each surviving resolved row came from
        # exactly ONE delta file, so the rename coalesce is exact here
        # too; events above the as-of version never apply (old
        # snapshots keep their original names). changes_since/CDC stays
        # physical by contract — each commit's changes serve the names
        # that commit was written under.
        from .colmap import apply_events_df, events_upto

        evs = events_upto(CommitLog(self.path).table_props(), as_of)
        return apply_events_df(out, evs) if evs else out

    def read_pruned(
        self, spark: SparkSession, lo, hi
    ) -> tuple[DataFrame, int, int]:
        """Key-range resolved read with stats/Bloom file skipping over
        the whole delta chain — the MoR twin of
        ``MergeSink.read_pruned``. ONLY the merge key can prune a MoR
        chain soundly: every event of a key carries the key value, so
        a key range drops whole key-slices consistently; pruning on any
        OTHER column could skip a key's newest event and resurrect the
        shadowed older row. Point lookups (lo == hi) probe the per-file
        Blooms (``bloom_on`` at construction / stored props) on data
        AND tombstone files. Unlike the CoW variant the predicate IS
        applied (out-of-range rows of kept files may be mid-chain state
        that pruned commits would have overwritten). Returns
        (df, files_scanned, files_skipped) counted over data+tombstone
        roles."""
        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log (legacy table): "
                "stats pruning needs manifests"
            )
        _start, chain = self._chain()
        prune = [(self.key, lo, hi)]
        scanned = skipped = 0
        views = {}
        for v in chain:
            data, sk_data = log.files_for(v, role="data", prune=prune)
            dels, sk_dels = log.files_for(v, role="deletes", prune=prune)
            # pos-delete files carry no key column: the no-stats rule
            # keeps them all (sound)
            pos, _sk = log.files_for(v, role="pos_deletes")
            scanned += len(data) + len(dels)
            skipped += sk_data + sk_dels
            views[v] = (data or None, dels or None, pos or None, False)
        try:
            df = self._resolve_chain(spark, views, provenance=False)
        except (ValueError, FileNotFoundError):
            # every data file pruned (key provably absent from the
            # chain, or only tombstones survive): empty typed result
            df = self.read(spark).limit(0)
        return (
            df.where(F.col(self.key).between(F.lit(lo), F.lit(hi))),
            scanned,
            skipped,
        )

    def compact(self, spark: SparkSession, max_retries: int = 20) -> int:
        """Materialize the resolved state as a checkpointed commit —
        the read tax collapses to one base scan until the next deltas.
        Returns the committed version."""
        log = CommitLog(self.path)
        state = self.read(spark)
        v0 = log.current_version() if log.exists() else None
        for _ in range(max_retries):
            if (
                log.exists()
                and log.visible_version() != log.current_version()
            ):
                # a pending multi-table txn delta sits above the visible
                # head: a checkpoint committed OVER it would exclude it
                # from the chain forever (resolved reads see only
                # visible versions). The txn is inevitable
                # (roll-forward) — heal or wait, then compact.
                raise RuntimeError(
                    f"compact at {self.path}: a pending transaction "
                    "head exists (heal/commit it first)"
                )
            base, claim = _base_and_claim(self.path)
            if v0 is not None and base != v0:
                # a delta landed BETWEEN the state read and the claim:
                # claim would succeed (fresh number) while the staged
                # checkpoint silently EXCLUDES that delta's rows — a
                # lost update the FileExistsError branch cannot catch.
                # Re-read against the new head.
                state = self.read(spark)
                v0 = base
                continue
            try:
                self._commit(state, None, claim, checkpoint=True)
            except FileExistsError:
                # a delta slipped in: re-resolve so the checkpoint
                # includes it (a checkpoint must never hide later commits)
                _heal_claim(self.path, claim)
                state = self.read(spark)
                v0 = log.current_version() if log.exists() else None
                continue
            return claim
        raise RuntimeError(
            f"compact lost the version race {max_retries} times at {self.path}"
        )

    def optimize_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        bits: int = 16,
        max_retries: int = 20,
    ) -> int:
        """``OPTIMIZE <mor_t> ZORDER BY (a, b, ...)`` (LAY1c) —
        compact-THEN-cluster: materialize the resolved chain state as a
        CHECKPOINTED commit whose files are laid out by the Morton
        interleave of ``cols`` (the CoW LAY1b layout transposed to the
        chain). The chain restarts at the clustered checkpoint, so a
        long-lived MoR table's post-compaction layout gets the same
        tight per-file [min, max] envelopes — and the same
        stats/key-range skipping — a freshly-ZORDERed CoW table has.
        File granularity: one output range per data file in the current
        chain (a maintenance op reshapes layout, not file count). The
        spec persists in the table props (``zorder_by``), so a later
        bare ``OPTIMIZE`` re-applies compact+cluster. Same OCC commit
        protocol as compact(); returns the committed version."""
        from ..operators.layout import cluster_by_zorder, zorder_normalize

        log = CommitLog(self.path)
        for _ in range(max_retries):
            if (
                log.exists()
                and log.visible_version() != log.current_version()
            ):
                raise RuntimeError(
                    f"optimize_zorder at {self.path}: a pending "
                    "transaction head exists (heal/commit it first)"
                )
            v0 = log.current_version() if log.exists() else None
            state = self.read(spark)
            by_lower = {c.lower(): c for c in state.columns}
            missing = [c for c in cols if c.lower() not in by_lower]
            if missing:
                raise ValueError(
                    f"ZORDER BY columns {missing} not in table "
                    f"({state.columns})"
                )
            rcols = [by_lower[c.lower()] for c in cols]
            start, chain = self._chain()
            n_files = 0
            for v in chain:
                data, _d, _p, _ck = self._commit_view(v)
                n_files += len(data or [])
            # per-column mins folded from the CHAIN manifests (r18 —
            # the CoW optimize_zorder already does this): the sign
            # probe in zorder_normalize otherwise fires one full
            # chain-resolve + scan agg job PER integral column
            # (profiled: the two largest stages of q_sql_zorder_mor,
            # ~2.5 s CPU each). Chain mins include deleted rows, i.e.
            # a conservative LOWER bound — sound for the >= 0 probe:
            # chain-min >= 0 implies resolved-state min >= 0, and a
            # falsely-negative bound only routes that column to the
            # bucket path (layout choice, never a value change).
            known_mins: dict[str, object] = {}
            if log.exists():
                from .merge import manifest_min_fold

                known_mins = manifest_min_fold(
                    [
                        ent
                        for v in chain
                        for ent in log.manifest(v)["files"]
                    ],
                    rcols,
                )
            state, dims = zorder_normalize(
                state, rcols, bits, known_mins=known_mins or None
            )
            clustered = cluster_by_zorder(
                state, dims, bits, num_partitions=max(n_files, 1)
            ).drop(*[d for d in dims if d.startswith("__zn_")])
            base, claim = _base_and_claim(self.path)
            if v0 is not None and base != v0:
                # a delta committed BETWEEN the state read and the
                # claim takes the version below the claim — the rename
                # would succeed while the clustered checkpoint silently
                # excludes that delta's rows (lost update). Re-read.
                continue
            try:
                self._commit(clustered, None, claim, checkpoint=True)
            except FileExistsError:
                _heal_claim(self.path, claim)
                continue  # a delta slipped in: recluster the NEW state
            props = log.table_props()
            props["zorder_by"] = list(rcols)
            log.write_table_props(props)
            return claim
        raise RuntimeError(
            f"optimize_zorder lost the version race {max_retries} times "
            f"at {self.path}"
        )

    def optimize_where(
        self, spark: SparkSession, condition: str, max_retries: int = 20
    ) -> dict:
        """``OPTIMIZE <mor_t> WHERE <cond>`` (LAY5, VERDICT r14 item 5)
        — PREDICATE-SCOPED compaction of the delta chain: commit a new
        CHECKPOINT whose file set is (a) the prior checkpoint's data
        files provably DISJOINT from the condition's merge-key range,
        HARDLINKED byte-identical, plus (b) the resolved state of the
        in-range key slice (intersecting checkpoint files + every
        post-checkpoint delta, latest-wins). A long-lived MoR table
        compacts just yesterday's streamed small files by predicating
        on yesterday's key range — maintenance cost tracks the touched
        slice, not table size (the LAY1d incremental rule transposed to
        the chain).

        Soundness gates (refused, never silently wrong): the condition
        must carry a merge-key range conjunct (only the key prunes a
        MoR chain soundly — read_pruned's rule); every post-checkpoint
        delta file's key envelope must be CONTAINED in that range (an
        out-of-range delta event folded above later commits would be a
        lost update — widen the predicate or run a full OPTIMIZE);
        position-delete deltas and pending-transaction heads refuse.
        Like LAY3, the predicate scopes FILES/key-slices, never rows
        (the sound range of the conjunct is used, not the raw
        expression). Returns {version, files_relinked,
        files_rewritten}."""
        import uuid as _uuid

        from ..plans.prune_sql import extract_prunes
        from .manifest import UNBOUNDED_HI, UNBOUNDED_LO
        from .merge import _stamp_inherited
        from .txn import inherit_pending

        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log: OPTIMIZE WHERE needs "
                "manifests"
            )
        conjs = [
            (c, lo, hi)
            for (c, lo, hi) in extract_prunes(
                f"SELECT * FROM __ow__ WHERE {condition}",
                "__ow__",
                {self.key},
            )
            if c.lower() == self.key.lower()
        ]
        if not conjs:
            raise ValueError(
                f"OPTIMIZE ... WHERE on a MoR table needs a range/point "
                f"conjunct on the merge key {self.key!r} (only the key "
                "scopes a delta chain soundly)"
            )
        lo = max((c[1] for c in conjs), default=UNBOUNDED_LO)
        hi = min((c[2] for c in conjs), default=UNBOUNDED_HI)
        for _ in range(max_retries):
            if log.visible_version() != log.current_version():
                raise RuntimeError(
                    f"OPTIMIZE WHERE at {self.path}: a pending "
                    "transaction head exists (heal/commit it first)"
                )
            v0 = log.current_version()
            start, chain = self._chain()
            deltas = [v for v in chain if v != start]
            if not deltas:
                return {
                    "version": v0,
                    "files_relinked": 0,
                    "files_rewritten": 0,
                }
            m_start = log.manifest(start)
            if not m_start.get("checkpoint"):
                raise ValueError(
                    f"OPTIMIZE WHERE: chain start v{start} is not a "
                    "checkpoint — run a full OPTIMIZE first"
                )
            # gate: every delta file's key envelope inside [lo, hi]
            for v in deltas:
                for ent in log.manifest(v)["files"]:
                    role = ent.get("role", "data")
                    if role == "pos_deletes":
                        raise ValueError(
                            "OPTIMIZE WHERE: position-delete deltas "
                            "need a full OPTIMIZE (they name physical "
                            "rows of files this op would relink)"
                        )
                    if ent.get("rows") == 0:
                        continue  # empty part file: holds no keys
                    st = ent.get("columns", {}).get(self.key)
                    mn = None if st is None else st.get("min")
                    mx = None if st is None else st.get("max")
                    if (
                        mn is None
                        or mx is None
                        or mn < lo
                        or mx > hi
                    ):
                        raise ValueError(
                            f"OPTIMIZE WHERE: delta v{v} file "
                            f"{ent['path']} holds keys outside the "
                            "predicate's key range — widen the "
                            "predicate or run a full OPTIMIZE"
                        )
            sdir = os.path.join(self.path, f"v{start}")
            relink: list[str] = []
            rewrite: list[str] = []
            for ent in m_start["files"]:
                if ent.get("role", "data") != "data":
                    raise ValueError(
                        f"OPTIMIZE WHERE: checkpoint v{start} carries "
                        f"non-data role {ent.get('role')!r} — run a "
                        "full OPTIMIZE"
                    )
                st = ent.get("columns", {}).get(self.key)
                mn = None if st is None else st.get("min")
                mx = None if st is None else st.get("max")
                if mn is not None and mx is not None and (
                    mx < lo or mn > hi
                ):
                    relink.append(ent["path"])
                else:
                    rewrite.append(ent["path"])
            # resolved slice: the intersecting checkpoint files at
            # version=start plus every delta's events, latest-wins
            # through the chain resolver. Out-of-range rows of those
            # files resolve to themselves: the gate above keeps every
            # delta event inside the range
            views = {v: self._commit_view(v) for v in deltas}
            if rewrite:
                views[start] = (
                    [os.path.join(sdir, r) for r in rewrite],
                    None,
                    None,
                    True,
                )
            new_data = None
            if any(vw[0] is not None for vw in views.values()):
                new_data = self._resolve_chain(
                    spark, views, provenance=False
                )
            base, claim = _base_and_claim(self.path)
            if base != v0:
                continue  # a delta landed mid-build: re-resolve
            stage = os.path.join(
                self.path, f".stage-owm-{_uuid.uuid4().hex}"
            )
            work = os.path.join(
                self.path, f".stage-owmpub-{_uuid.uuid4().hex}"
            )
            try:
                os.makedirs(os.path.join(work, "data"))
                for rel in relink:
                    dst = os.path.join(work, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.link(os.path.join(sdir, rel), dst)
                srcdir = os.path.join(stage, "data")
                if new_data is not None:
                    new_data.write.mode("errorifexists").parquet(srcdir)
                    for fn in os.listdir(srcdir):
                        if fn.endswith(".parquet"):
                            os.link(
                                os.path.join(srcdir, fn),
                                os.path.join(
                                    work,
                                    "data",
                                    f"owm-{_uuid.uuid4().hex[:8]}-{fn}",
                                ),
                            )
                with open(os.path.join(work, _CKPT), "w") as fh:
                    fh.write("")
                with open(os.path.join(work, "_SUCCESS"), "w") as fh:
                    fh.write("")
                bloom_on = self.bloom_on or log.table_props().get(
                    "bloom_on"
                )
                manifest = build_manifest(
                    claim, work, checkpoint=True, bloom_on=bloom_on
                )
                manifest["checkpoint_at"] = claim
                manifest["op"] = "optimize_where"
                manifest["metrics"] = {
                    "files_rewritten": len(rewrite),
                    "files_relinked": len(relink),
                    "predicate": condition,
                }
                inherited = inherit_pending(log, claim)
                if inherited:
                    manifest["txn_inherited"] = inherited
                    _stamp_inherited(work, inherited)
            except BaseException:
                shutil.rmtree(work, ignore_errors=True)
                shutil.rmtree(stage, ignore_errors=True)
                raise
            try:
                os.rename(work, os.path.join(self.path, f"v{claim}"))
            except OSError as exc:
                import errno

                shutil.rmtree(work, ignore_errors=True)
                shutil.rmtree(stage, ignore_errors=True)
                if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                    _heal_claim(self.path, claim)
                    continue
                raise
            log.publish(manifest)
            shutil.rmtree(stage, ignore_errors=True)
            return {
                "version": claim,
                "files_relinked": len(relink),
                "files_rewritten": len(rewrite),
            }
        raise RuntimeError(
            f"OPTIMIZE WHERE lost the version race {max_retries} times "
            f"at {self.path}"
        )

    def restore(
        self, spark: SparkSession, version: int, max_retries: int = 20
    ) -> int:
        """RESTORE TO VERSION AS OF ``version`` on the delta chain:
        materialize the as-of snapshot as a new CHECKPOINTED commit
        (the MoR face of ``MergeSink.restore`` — where CoW relinks one
        version's files, a MoR snapshot is spread across deltas, so the
        rollback is a compaction of the historical state; history stays
        intact above it and readers start at the new checkpoint).
        Returns the committed version."""
        state = self.read(spark, as_of=version)
        for _ in range(max_retries):
            _, claim = _base_and_claim(self.path)
            try:
                self._commit(state, None, claim, checkpoint=True)
            except FileExistsError:
                _heal_claim(self.path, claim)
                continue
            return claim
        raise RuntimeError(
            f"restore lost the version race {max_retries} times at "
            f"{self.path}"
        )

    def changes_since(
        self,
        spark: SparkSession,
        version: int,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """CDC feed: every change event committed AFTER ``version`` —
        ``(__op, __commit, <data columns>)`` with ``__op`` in
        {'upsert', 'delete'} (delete rows carry NULL payloads).
        ``key_range=(lo, hi)`` restricts the feed to keys in the range
        AND stats/Bloom-skips delta files that provably lack them — the
        point-lookup CDC probe (sound per commit: the feed is per-event,
        no cross-commit resolution to cross-wire).

        This is the incremental-consumption face of the MoR layout: the
        deltas ARE the change log, so a downstream consumer (a sync job,
        a cache invalidator, the streaming MERGE) reads exactly the
        commits it has not seen — no diffing of table states (contrast
        ``merge.version_diff``, which reconstructs changes by comparing
        two CoW snapshots). Scan cost is the consumed deltas only.
        """
        prune = (
            [(self.key, key_range[0], key_range[1])] if key_range else None
        )
        log = CommitLog(self.path)
        if log.exists():
            # cold-history cost bound (VERDICT r10 item 7): resolve the
            # whole span's manifests through the rolled log checkpoint —
            # ONE rolled object + the per-commit tail above it, instead
            # of one JSON open per consumed version
            hist = log.manifests_range(1, log.current_version())
            views = {
                v: self._view_from_manifest(v, m) for v, m in hist.items()
            }
            all_committed = sorted(views)
            if prune is not None:
                # the ANCHOR schema comes from the unpruned views above;
                # the consumed deltas themselves are file-skipped
                pruned_views = {
                    v: self._commit_view(v, prune=prune)
                    for v in all_committed
                    if v > version
                }
        else:
            all_committed = _versions(self.path)
            views = {v: self._commit_view(v) for v in all_committed}
            if prune is not None:
                pruned_views = {
                    v: self._commit_view(v, prune=prune)
                    for v in all_committed
                    if v > version
                }
        todo = [v for v in all_committed if v > version]
        anchor = None
        # zero-row TYPED anchor for the output schema's leading data
        # columns: the first data commit (real column types — delete
        # events and empty feeds NULL-pad against it instead of
        # inventing a string-typed shell); later deltas may carry MORE
        # columns (append-only evolution) and the allowMissingColumns
        # union surfaces them NULL-padded on older change rows rather
        # than silently dropping them
        for v in all_committed:
            dfiles = views[v][0]
            if dfiles is not None:
                anchor = (
                    _rp(spark, *dfiles)
                    .limit(0)
                    .select(
                        F.lit("upsert").alias("__op"),
                        F.lit(0).cast("long").alias("__commit"),
                        "*",
                    )
                )
                break
        if anchor is None:
            raise FileNotFoundError(f"no data commit in {self.path}")
        frames: list[DataFrame] = [anchor]
        for v in todo:
            dfiles, tfiles, pfiles, _ck = (
                pruned_views[v] if prune is not None else views[v]
            )
            if dfiles is not None:
                frames.append(
                    _rp(spark, *dfiles).select(
                        F.lit("upsert").alias("__op"),
                        F.lit(v).cast("long").alias("__commit"),
                        "*",
                    )
                )
            if tfiles is not None:
                frames.append(
                    _rp(spark, *tfiles).select(
                        F.lit("delete").alias("__op"),
                        F.lit(v).cast("long").alias("__commit"),
                        F.col(self.key),
                    )
                )
            if pfiles is not None:
                # a DV commit's change events are key deletes, but the
                # DV stores only (file, position) — recover the keys by
                # joining the DV against its OWN referenced files (the
                # scan is bounded by the files the DV names, not the
                # table): read them with row provenance, keep targeted
                # rows, emit their keys as delete events at this commit
                dv = _rp(spark, *pfiles)
                refs = [
                    r["__file"]
                    for r in dv.select("__file").distinct().collect()
                ]
                targeted = (
                    _rp(spark, *refs)
                    .select(
                        F.col(self.key),
                        F.col("_metadata.file_path").alias("__fp"),
                        F.col("_metadata.row_index").alias("__ri"),
                    )
                    .join(
                        F.broadcast(dv),
                        (F.col("__fp") == F.col("__file"))
                        & (F.col("__ri") == F.col("__pos")),
                        "left_semi",
                    )
                )
                frames.append(
                    targeted.select(
                        F.lit("delete").alias("__op"),
                        F.lit(v).cast("long").alias("__commit"),
                        F.col(self.key),
                    )
                )
        out = frames[0]  # the anchor: empty feed = zero rows, real types
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        if key_range is not None:
            out = out.where(
                F.col(self.key).between(
                    F.lit(key_range[0]), F.lit(key_range[1])
                )
            )
        return out

    def vacuum(self) -> list[int]:
        """Retention maintenance for the delta chain: physically remove
        every published version STRICTLY BELOW the newest checkpoint —
        current reads never touch them (``_chain`` starts at the
        checkpoint), they only serve as-of reads into pre-compaction
        history, and this is the explicit trade of that history for
        space (the CoW ``MergeSink.vacuum`` contract transposed to MoR:
        time travel below the vacuum boundary raises afterwards).
        Returns the removed versions. A table never compacted (no
        checkpoint after v1) vacuums nothing.
        """
        import shutil

        log = CommitLog(self.path)
        start, _chain = self._chain()
        victims = [v for v in _versions(self.path) if v < start]
        for v in victims:
            shutil.rmtree(os.path.join(self.path, f"v{v}"))
        log.retire(victims)
        from .merge import sweep_orphan_stages

        sweep_orphan_stages(self.path)
        return victims

    def delta_bytes(self, version: int) -> int:
        """On-disk bytes of one commit — the write-amplification witness.
        Answered from the manifest (the stats were recorded at commit
        time); legacy tables walk the version directory."""
        log = CommitLog(self.path)
        if log.exists():
            return sum(e["bytes"] for e in log.manifest(version)["files"])
        total = 0
        vdir = os.path.join(self.path, f"v{version}")
        for root, _dirs, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
        return total
