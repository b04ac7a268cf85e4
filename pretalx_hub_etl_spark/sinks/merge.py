"""Copy-on-write MERGE sink: apply an upsert/delete plan to a parquet table.

The reference's whole Load phase (main.py:169-260) is this operation done
one browser form at a time: create missing rows, update matched ones,
delete unmatched target rows. The engine expresses the same contract as a
single MERGE over a durable parquet table:

    target ⟕⟖ source (full outer on key)
      -> source row present, target absent -> INSERT (take source)
      -> both present                      -> UPDATE (source wins; the
         reference's "source-wins overwrite" semantics, README.md:170-173)
      -> target only                       -> KEEP, or DELETE when the
         key appears in ``deletes``

Scale shape (the Delta/Iceberg copy-on-write pattern without a table
format): at 100 TB the target is hive-partitioned; only partitions whose
keys appear in the source/delete sets are rewritten (semi-join partition
pruning), everything else is untouched files. This implementation rewrites
the whole (unpartitioned) table when ``partition_by`` is unset and prunes
to touched partitions when set — the same API either way.

Writes stage into a hidden ``<path>/.stage-<uuid>`` directory and COMMIT by
``os.rename`` onto ``<path>/v<N+1>`` — the rename is the atomic claim of
the version number (POSIX rename onto an existing non-empty directory
fails), so concurrent writers racing the same number get exactly one
winner; the loser re-reads the new current version, recomputes its merge
against it, and retries the next number (optimistic concurrency — no lost
updates). Readers resolve the highest committed version and can never
observe a half-written table: a crashed writer leaves only an orphaned
hidden stage directory, never a visible ``v<N>``.

Version discovery is LISTING-FREE (round 10): every commit publishes a
manifest (`sinks/manifest.py` — file list + per-file footer stats) and
reads resolve versions through the `_manifest/_latest` hint + forward
probe, never `os.listdir`. Tables created before the manifest layer fall
back to the original directory listing (`CommitLog.exists()` gates it);
the heal path covers a writer that crashed between the rename-claim and
the manifest publish. The manifest stats also power `read_pruned` —
min/max file skipping before Spark plans the scan, the Delta/Iceberg
data-skipping shape.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import release_checkpoint
from .manifest import CommitLog, build_manifest

_V_RE = re.compile(r"^v(\d+)$")


def donor_schema(files: list[str]):
    """Spark schema of ``sorted(files)[0]``'s parquet footer, read
    DRIVER-SIDE via pyarrow — the explicit-schema replacement for the
    schema-inference JOB a bare ``spark.read.parquet`` fires per call
    (r17: the lakehouse fixtures paid one such job per statement per
    commit view). Only sound for ENGINE-WRITTEN file sets that share one
    writer schema (a commit's data files); returns None on any surprise
    so callers fall back to inference.

    ``PHE_DISABLE_DONOR=1`` disables the fast path (schema-inference
    everywhere) — the attribution knob behind the r18 A/B that measured
    it at 1.05-1.43x per query across the lakehouse read family
    (OPTIMIZATION_r18.md WP6); never set in production or by the bench.
    """
    if os.environ.get("PHE_DISABLE_DONOR"):
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        path = sorted(files)[0]
        if path.startswith("file:"):
            path = path[len("file:"):]
        return from_arrow_schema(pq.ParquetFile(path).schema_arrow)
    except Exception:
        return None


def manifest_min_fold(entries, cols) -> dict:
    """Per-column min folded across manifest ``files`` entries (data
    role only) — the zero-job source for zorder_normalize's sign probe
    (r18; the CoW optimize_zorder had this inline, the MoR/incremental
    paths each paid one full-scan agg job per integral column instead).
    ``None`` marks a column with any missing stats: the caller routes
    it to the bucket path (a layout choice, never a value change)."""
    mins: dict = {}
    for ent in entries:
        if ent.get("role", "data") != "data":
            continue
        for c in cols:
            st = ent.get("columns", {}).get(c)
            mn = None if st is None else st.get("min")
            if mn is None:
                mins[c] = None
            elif c not in mins:
                mins[c] = mn
            elif mins[c] is not None:
                try:
                    mins[c] = min(mins[c], mn)
                except TypeError:
                    mins[c] = None
    return mins


def _versions(path: str) -> list[int]:
    """Committed versions. Manifest tables answer from the commit log
    (single-file probes, no listing); legacy tables fall back to the
    original directory listing where a version counts iff Spark's
    _SUCCESS marker exists (belt-and-braces against torn ``v<N>`` dirs
    from pre-staging writers)."""
    log = CommitLog(path)
    if log.exists():
        vs = log.versions()
        # upgrade guard: a mixed table (legacy commits below the first
        # published manifest — e.g. upgraded by an engine version that
        # didn't backfill) must not lose its pre-manifest history. One
        # extra existence probe in steady state; the backfill listdir
        # only runs when a committed dir actually sits below the log.
        if vs and vs[0] > 1 and os.path.exists(
            os.path.join(path, f"v{vs[0] - 1}", "_SUCCESS")
        ):
            log.backfill_legacy()
            vs = log.versions()
        return vs
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(m.group(1))
        for n in names
        if (m := _V_RE.match(n)) is not None
        and os.path.exists(os.path.join(path, n, "_SUCCESS"))
    )


def _next_version(path: str) -> int:
    """1 + the highest PHYSICAL version directory (committed or, from a
    pre-staging table, torn) — never overwritten; the rename-commit in
    ``_write`` is what makes claiming that number race-safe."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return 1
    phys = [int(m.group(1)) for n in names if (m := _V_RE.match(n)) is not None]
    return (max(phys) + 1) if phys else 1


def _base_and_claim(path: str) -> tuple[int, int]:
    """(highest committed version, version number to commit next).

    Manifest tables: base = the commit log's current version, claim =
    base + 1 — no listing; a claimed-but-unpublished version makes the
    claim's rename fail, and :func:`_heal_claim` in the retry loop
    publishes the crashed winner's manifest so base advances (never a
    livelock). Legacy tables: ONE directory listing snapshot — a single
    snapshot matters for the OCC loop (separate listings let a
    concurrent commit land between them, making ``claim`` skip past a
    version the merge never saw); ``claim`` is ``base + 1`` except when
    skipping a pre-staging writer's torn physical dir."""
    log = CommitLog(path)
    if log.exists():
        while True:
            base = log.current_version()
            claim = base + 1
            healed = False
            # step past physical dirs that can never be claimed by a
            # rename: a committed-but-unpublished winner gets healed
            # (then re-resolve — base advances past it); a torn
            # pre-staging dir (no _SUCCESS) is stepped over, matching
            # the legacy max(phys)+1 semantics
            while os.path.exists(os.path.join(path, f"v{claim}")):
                if os.path.exists(
                    os.path.join(path, f"v{claim}", "_SUCCESS")
                ):
                    log.heal(claim)
                    healed = True
                    break
                claim += 1
            if not healed:
                return base, claim
    try:
        names = os.listdir(path)
    except FileNotFoundError as exc:
        raise FileNotFoundError(f"no version of merge table at {path}") from exc
    phys = [int(m.group(1)) for n in names if (m := _V_RE.match(n)) is not None]
    committed = [
        v for v in phys if os.path.exists(os.path.join(path, f"v{v}", "_SUCCESS"))
    ]
    if not committed:
        raise FileNotFoundError(f"no version of merge table at {path}")
    return max(committed), max(phys) + 1


def _heal_claim(path: str, claim: int) -> None:
    """After losing the rename race for ``claim``: if the winner's
    directory is committed but its manifest never published (crashed
    between claim and publish), publish it on the winner's behalf —
    idempotent, content derived from the immutable version dir."""
    log = CommitLog(path)
    if not log.exists():
        return
    if os.path.exists(
        os.path.join(path, f"v{claim}", "_SUCCESS")
    ) and not os.path.exists(
        os.path.join(path, "_manifest", f"{claim}.json")
    ):
        log.heal(claim)


def _stamp_inherited(work: str, inherited) -> None:
    """Persist pending-txn inheritance markers WITH the staged files
    (the ``_TXN`` stamp ``build_manifest`` restores, sinks/txn.py): a
    writer that crashes between the rename claim and ``log.publish``
    is healed from the version dir contents, and without the on-disk
    stamp the healed manifest would lose ``txn_inherited`` — making
    pending multi-table-transaction data visible before its
    transaction commits. No-op when nothing is inherited."""
    if inherited:
        import json as _json

        from .manifest import _TXN_STAMP

        with open(os.path.join(work, _TXN_STAMP), "w") as fh:
            _json.dump({"txn_inherited": inherited}, fh)


def _dense_seq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Attach ``__seq``, a DENSE 1..n numbering (per-partition counts
    -> prefix offsets -> per-partition row_number) — the identity-value
    basis that replaced ``monotonically_increasing_id()``: mid packs
    the partition ordinal into bits 33+, so ANY frame with >= 2
    partitions yields values past 2^33, which under the session's ANSI
    default crashes INT identity columns with CAST_OVERFLOW and with
    ANSI off wraps mod 2^32 into silently DUPLICATE ids. Dense values
    fit the declared integral type whenever the row count does.

    The frame is pinned (``localCheckpoint``) so the counts job and
    the consuming write job see the SAME partitioning; the counts
    collect is bounded by the PARTITION count, never the row count,
    and the only shuffle is the per-partition-id window (payload-sized
    — identity assignment runs on INSERT/MERGE payloads' NULL-id
    slices, not the table). Returns ``(numbered, pinned)``: the caller
    releases ``pinned`` with ``session.release_checkpoint`` once the
    write that reads ``numbered`` has ended, however it ended."""
    from pyspark.sql.window import Window

    pinned = df.localCheckpoint(eager=True)
    counts = sorted(
        (r[0], r[1])
        for r in pinned.groupBy(F.spark_partition_id().alias("__pid"))
        .count()
        .collect()
    )
    pairs: list = []
    acc = 0
    for pid, n in counts:
        pairs += [F.lit(int(pid)), F.lit(acc)]
        acc += int(n)
    omap = F.create_map(*pairs) if pairs else F.create_map()
    w = Window.partitionBy("__pid").orderBy("__mid")
    return (
        pinned.withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(
            "__seq",
            (omap[F.col("__pid")] + F.row_number().over(w)).cast("long"),
        )
        .drop("__pid", "__mid")
    ), pinned


def commit_metadata_version(path: str) -> int:
    """Publish a version whose CONTENT is identical to the current base
    — the commit that anchors a metadata-only schema change (RENAME /
    DROP COLUMN, sinks/colmap.py) in the version history, so time
    travel serves earlier versions under their pre-change names.

    No Spark job: CoW relinks the base's files (the manifest entries
    are copied verbatim — stats and Blooms included); MoR publishes an
    empty delta (no files, chain pointer inherited). Same OCC
    claim+publish protocol as every commit, including pending-txn
    marker inheritance. Returns the published version (0 for a
    DDL-created table with no commits yet — nothing to anchor: the
    event applies from the beginning of history)."""
    import uuid as _uuid

    log = CommitLog(path)
    props = log.table_props()
    kind = props.get("kind", "cow")
    if not _versions(path):
        return 0
    from .txn import inherit_pending

    for _ in range(50):
        base, claim = _base_and_claim(path)
        work = os.path.join(path, f".stage-metacommit-{_uuid.uuid4().hex}")
        os.makedirs(work)
        try:
            manifest: dict[str, object] = {
                "version": claim,
                "checkpoint": False,
                "files": [],
                "metadata_only": True,
            }
            if kind == "cow":
                m = log.manifest(base)
                keep = [
                    e
                    for e in m["files"]
                    if e.get("role", "data") == "data"
                ]
                for ent in keep:
                    rel = ent["path"]
                    dst = os.path.join(work, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.link(os.path.join(path, f"v{base}", rel), dst)
                # change-data members (S51) belong to THEIR commit only
                manifest["files"] = keep
                manifest["checkpoint"] = m.get("checkpoint", False)
            else:
                try:
                    manifest["checkpoint_at"] = log.manifest(base).get(
                        "checkpoint_at"
                    )
                except FileNotFoundError:
                    manifest["checkpoint_at"] = None
            with open(os.path.join(work, "_SUCCESS"), "w") as fh:
                fh.write("")
            inh = inherit_pending(log, claim)
            if inh:
                manifest["txn_inherited"] = inh
                _stamp_inherited(work, inh)
        except BaseException:
            import shutil as _sh

            _sh.rmtree(work, ignore_errors=True)
            raise
        try:
            os.rename(work, os.path.join(path, f"v{claim}"))
        except OSError as exc:
            import errno
            import shutil as _sh

            _sh.rmtree(work, ignore_errors=True)
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                continue  # lost the claim race: relink against new base
            raise
        log.publish(manifest)
        return claim
    raise RuntimeError(
        f"metadata commit lost the version race 50 times at {path}"
    )


def sweep_orphan_stages(
    path: str, older_than_hours: float = 24.0
) -> list[str]:
    """Remove dead writers' ``.stage-*`` temp dirs older than the age
    horizon (a crash between staging and the rename-claim orphans one;
    nothing ever references it again — commit-protocol work dirs are
    recomputable by construction). ``.txn-*`` stages are NOT touched:
    they belong to the transaction protocol (a prepared intent
    references them and heal() needs them; sinks/txn.py owns their
    lifecycle). Conservative default: a live writer staging for a day
    is assumed dead."""
    import shutil as _sh
    import time as _time

    out: list[str] = []
    cutoff = _time.time() - older_than_hours * 3600
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return out
    for n in names:
        if not n.startswith(".stage-"):
            continue
        full = os.path.join(path, n)
        try:
            if os.path.getmtime(full) < cutoff:
                _sh.rmtree(full, ignore_errors=True)
                out.append(n)
        except FileNotFoundError:
            pass  # a concurrent sweep / the owner finished
    return out


def current_version_path(path: str) -> str | None:
    vs = _versions(path)
    return None if not vs else os.path.join(path, f"v{vs[-1]}")


def version_diff(
    spark: SparkSession,
    path: str,
    key: str,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """Change-data-capture between two committed versions of a merge table.

    One row per key whose state changed: ``change`` ∈ {insert, update,
    delete}, plus the full old/new non-key columns (structs ``old`` /
    ``new``; null on the absent side). Because versions are immutable
    directories, the diff is a plain full-outer self-join of two parquet
    scans on the key — one shuffle, or zero when both versions are
    bucketed/partitioned the same way. This is the "what changed since
    version N" feed a downstream incremental consumer reads instead of
    re-scanning the whole table.
    """
    log = CommitLog(path)
    if log.exists():
        # S51 fast path: when EVERY commit in (v_from, v_to] recorded
        # its change data (`cdf/` member, manifest flag), the net diff
        # reconstructs from those per-commit events alone — scan cost
        # O(changes in the span), never O(table). A 100 TB CoW table's
        # CDC read touches only the feed files; the snapshot
        # full-outer-join below remains the fallback for pre-CDF
        # commits, maintenance commits, and column-mapped tables.
        span = log.versions(v_from + 1, v_to)
        if (
            span
            and len(span) == v_to - v_from  # no retired holes mid-span
            and all(
                # feed-complete: recorded change data, OR provably no
                # data change (metadata anchors, dataChange=false
                # maintenance rewrites — zero events by definition)
                m.get("cdf")
                or m.get("metadata_only")
                or m.get("data_change") is False
                for m in (log.manifest(v) for v in span)
            )
        ):
            return _diff_from_cdf(spark, path, key, span, v_to)
        # manifest reads: mergeSchema for declared mixed versions, and
        # BOTH sides mapped to the CURRENT logical column names — a
        # diff across a RENAME COLUMN boundary (S46) compares the same
        # logical column, not two spellings of it (events above each
        # side's version are applied on top of its era-mapped read)
        from .colmap import apply_events_df, column_events

        evs = column_events(log.table_props())
        sink = MergeSink(path, key=key)

        def _logical(v: int) -> DataFrame:
            df = sink.read_version(spark, v)
            later = [e for e in evs if int(e.get("since", 0)) > v]
            return apply_events_df(df, later) if later else df

        lo = _logical(v_from)
        hi = _logical(v_to)
        # schema-evolution alignment (ALTER ADD COLUMNS between the two
        # versions): the absent side NULL-fills, so the diff reports
        # old.newcol = NULL -> new value as an update — the
        # current-schema CDC projection, not an error
        for f in hi.schema.fields:
            if f.name not in lo.columns:
                lo = lo.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in lo.schema.fields:
            if f.name not in hi.columns:
                hi = hi.withColumn(f.name, F.lit(None).cast(f.dataType))
    else:
        lo = spark.read.parquet(os.path.join(path, f"v{v_from}"))
        hi = spark.read.parquet(os.path.join(path, f"v{v_to}"))
    if set(lo.columns) != set(hi.columns):
        raise ValueError(
            f"schema drift between v{v_from} and v{v_to}: "
            f"{sorted(lo.columns)} vs {sorted(hi.columns)}"
        )
    return _diff_frames(lo, hi, key)


def _diff_frames(lo: DataFrame, hi: DataFrame, key: str) -> DataFrame:
    """Net change set between two state frames sharing a schema: one
    row per key whose state changed, shape ``(key, change, old, new)``
    with ``change`` ∈ {insert, update, delete} and null structs on the
    absent side. Shared by :func:`version_diff` (snapshot
    reconstruction) and the S51 write-side change-data construction —
    ONE implementation, so the per-commit feed and the snapshot diff
    can never classify differently."""
    payload = [c for c in lo.columns if c != key]
    o = lo.select(
        F.col(key).alias("__ok"), F.struct(*payload).alias("old")
    )
    n = hi.select(
        F.col(key).alias("__nk"), F.struct(*payload).alias("new")
    )
    joined = o.join(n, F.col("__ok") == F.col("__nk"), "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("__ok"), F.col("__nk")).alias(key),
            F.when(F.col("__ok").isNull(), F.lit("insert"))
            .when(F.col("__nk").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change"),
            "old",
            "new",
        )
        # unchanged keys are not changes: equal payloads (null-safe) drop out
        .filter(
            F.col("change").isin("insert", "delete")
            | ~F.col("old").eqNullSafe(F.col("new"))
        )
    )


def cdf_enabled(props: dict) -> bool:
    """True when the table opted into the S51 per-commit change-data
    feed (``TBLPROPERTIES (cdf='true')`` — the Delta
    ``enableChangeDataFeed`` shape). Off by default: CDF costs write
    amplification (one extra diff join + a small ``cdf/`` member per
    DML commit), so it is a table property, never ambient."""
    return str(props.get("cdf", "")).lower() in ("true", "1", "yes")


def _cdf_insert_events(df: DataFrame, key: str) -> DataFrame:
    """Insert-only change rows for an append payload (old = null)."""
    payload = [c for c in df.columns if c != key]
    new = F.struct(*payload)
    return df.select(
        F.col(key),
        F.lit("insert").alias("change"),
        F.lit(None).cast(
            df.select(new.alias("x")).schema["x"].dataType
        ).alias("old"),
        new.alias("new"),
    )


def _diff_from_cdf(
    spark: SparkSession,
    path: str,
    key: str,
    span: list[int],
    v_to: int,
) -> DataFrame:
    """Reconstruct the (v_from, v_to] net diff from per-commit change
    data: scan each commit's ``cdf/`` files (per-commit — one era per
    scan, so a WIDEN between commits never trips parquet's
    int-vs-bigint merge refusal), overlay column-mapping events so
    pre-RENAME/DROP/WIDEN members serve under the CURRENT logical
    schema (colmap.apply_events_cdf), union, then per key keep the
    FIRST event's old and the LAST event's new — classify and drop
    no-net-change churn exactly like :func:`_diff_frames`. GroupBy
    cardinality = changed keys in the span, not table rows."""
    from .colmap import apply_events_cdf, column_events

    log = CommitLog(path)
    cevs = column_events(log.table_props())
    frames: list[DataFrame] = []
    for v in span:
        vpaths = [
            os.path.join(path, f"v{v}", ent["path"])
            for ent in log.manifest(v)["files"]
            if ent.get("role") == "cdf"
        ]
        if not vpaths:
            continue
        f = spark.read.parquet(*sorted(vpaths)).withColumn(
            "__commit", F.lit(int(v))
        )
        if cevs:
            f = apply_events_cdf(f, cevs)
        frames.append(f)
    if not frames:
        # every commit recorded changes and none had any: empty feed
        # under the CURRENT event schema (derived from one footer)
        snap = MergeSink(path, key=key).read_version(spark, v_to)
        probe = _cdf_insert_events(snap.limit(0), key)
        return probe.select(
            key, "change", "old", "new"
        )
    ev = frames[0]
    for f in frames[1:]:
        # nested allowMissingColumns: a mid-span ADD COLUMNS era
        # NULL-fills the struct fields it predates
        ev = ev.unionByName(f, allowMissingColumns=True)
    first = F.min(
        F.struct(F.col("__commit").alias("c"), F.col("old").alias("o"))
    )["o"]
    last = F.max(
        F.struct(F.col("__commit").alias("c"), F.col("new").alias("n"))
    )["n"]
    net = ev.groupBy(key).agg(
        first.alias("old"), last.alias("new")
    )
    return net.select(
        F.col(key),
        F.when(F.col("old").isNull(), F.lit("insert"))
        .when(F.col("new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change"),
        "old",
        "new",
    ).filter(
        # churn that nets out (insert->delete, or A->B->A) is no change
        ~(F.col("old").isNull() & F.col("new").isNull())
        & (
            F.col("change").isin("insert", "delete")
            | ~F.col("old").eqNullSafe(F.col("new"))
        )
    )


class MergeSink:
    """Versioned parquet table with MERGE (upsert + delete) writes."""

    def __init__(
        self,
        path: str,
        key: str,
        partition_by: list[str] | None = None,
        cluster_by: tuple[str, int] | None = None,
        bloom_on: str | None = None,
    ):
        """``cluster_by=(column, n_files)`` is the table's clustering
        spec (the Delta OPTIMIZE / liquid-clustering idea as a standing
        property): every committed version is range-repartitioned on the
        column into ``n_files`` disjoint key ranges, so the manifest's
        per-file min/max envelopes are tight and non-overlapping and
        ``read_pruned`` can skip all but the matching files. Without it
        files hold hash-arbitrary key mixes and every file's envelope
        spans the whole domain — stats exist but skip nothing.

        ``bloom_on=column`` declares a per-file BLOOM index (the Delta
        bloom-index idea): every commit stores a compact membership
        filter per data file, so POINT lookups on that column skip
        files even on hash-scattered layouts where min/max envelopes
        span the domain. Write-side cost: one column read per staged
        file at commit."""
        self.path = path
        self.key = key
        self.partition_by = partition_by or []
        self.cluster_by = cluster_by
        self.bloom_on = bloom_on

    def _physical_reader(
        self,
        spark: SparkSession,
        props: dict,
        version: int | None,
        current: bool = False,
    ):
        """Configured reader for this table's PHYSICAL parquet files.

        Default: mergeSchema for declared (ALTER-evolved) tables, plain
        otherwise. Widened tables (S52 ``widen`` events at-or-below the
        read version) switch to an EXPLICIT schema — parquet's schema
        merge REFUSES int vs bigint footers, while an explicit wider
        schema upcasts per file (SPARK-40876), which is exactly the
        cast-on-read the widen overlay declares. The explicit schema is
        the current declared fields (wide types) plus every prior
        physical name of each (renamed columns' old-era files),
        partition columns excluded (they come from the directory names).
        Fallback: when the read is a TIME TRAVEL below a later
        rename/drop (the current declared names don't describe that
        era), keep mergeSchema — it can only fail loudly, never serve
        wrong data."""
        from .colmap import column_events, events_upto, prior_physical_names

        reader = spark.read
        evs = events_upto(props, version)
        # r17: CURRENT-version reads of declared tables take the
        # explicit-schema path even without widen events — mergeSchema
        # fires a distributed footer-union job on EVERY read, and the
        # declared schema (+ prior physical names) already describes the
        # current file set exactly. Historical reads keep mergeSchema
        # unless widened (a time-travel below an ALTER ADD must not
        # resurrect the later column; rename/drop anchors are handled by
        # the `later` guard below either way).
        # PHE_DISABLE_DONOR: see donor_schema — the r18 attribution knob
        if os.environ.get("PHE_DISABLE_DONOR"):
            current = False
        if (current or any(e["op"] == "widen" for e in evs)) and props.get(
            "schema_ddl"
        ):
            later = [
                e
                for e in column_events(props)
                if version is not None
                and int(e.get("since", 0)) > version
            ]
            if not any(e["op"] in ("rename", "drop") for e in later):
                from pyspark.sql.types import (
                    StructField,
                    StructType,
                    _parse_datatype_string,
                )

                pby = props.get("partition_by") or []
                if isinstance(pby, str):
                    pby = [
                        p.strip() for p in pby.split(",") if p.strip()
                    ]
                pl = {p.lower() for p in pby}
                # per-version declared types: schema_ddl is the CURRENT
                # era — a time-travel read between two widen anchors
                # must serve THIS era's type, so undo (newest-first)
                # every widen ABOVE the read version via its recorded
                # "from" type (r15 ADVICE; pre-"from" legacy events keep
                # the wider type — values identical, type best-effort)
                era: dict[str, object] = {
                    f.name.lower(): f.dataType
                    for f in StructType.fromDDL(
                        props["schema_ddl"]
                    ).fields
                }
                for e in reversed(later):
                    if e["op"] == "widen" and e.get("from"):
                        n = e["name"].lower()
                        if n in era:
                            era[n] = _parse_datatype_string(e["from"])
                fields: list[StructField] = []
                for f in StructType.fromDDL(props["schema_ddl"]).fields:
                    if f.name.lower() in pl:
                        continue
                    typ = era[f.name.lower()]
                    fields.append(StructField(f.name, typ, True))
                    for prior in prior_physical_names(props, f.name):
                        fields.append(StructField(prior, typ, True))
                return reader.schema(StructType(fields))
        if props.get("schema_ddl"):
            reader = reader.option("mergeSchema", "true")
        return reader

    def _read_manifest_files(
        self,
        spark: SparkSession,
        version: int,
        prune: tuple[str, object, object] | None = None,
    ) -> tuple[DataFrame, int]:
        """Scan exactly the files the manifest lists for ``version``
        (optionally stats-pruned) — the reader never lists a directory;
        ``basePath`` keeps hive partition columns derivable when the
        table is partitioned. Returns (df, files_skipped)."""
        log = CommitLog(self.path)
        files, skipped = log.files_for(version, prune=prune)
        vdir = os.path.join(self.path, f"v{version}")
        # ALTER-evolved tables (declared schema_ddl) may hold MIXED
        # file schemas inside one version (hardlink-appends after the
        # ALTER write the new column, relinked older files lack it):
        # mergeSchema unions the footers — enabled ONLY for declared
        # tables, so unevolved reads never pay the extra footer pass;
        # widened tables read under an explicit upcast schema instead
        props = log.table_props()
        try:
            is_current = version == log.visible_version()
        except Exception:
            is_current = False
        reader = self._physical_reader(
            spark, props, version, current=is_current
        )
        if (
            not props.get("schema_ddl")
            and files
            # hive-partitioned layouts derive partition columns from the
            # directory names — leave those on the inference path
            and not any(
                "=" in os.path.basename(os.path.dirname(f)) for f in files
            )
        ):
            # DDL-less tables: a bare .parquet() fires a schema-inference
            # job per read — one driver-side footer read serves the same
            # schema (engine-written files of one version share it)
            donor = donor_schema(files)
            if donor is not None:
                reader = spark.read.schema(donor)
        # column mapping (S46): RENAME/DROP COLUMN events at-or-below
        # the read version overlay the physical scan (old files keep
        # their original column names forever — metadata-only evolution)
        from .colmap import apply_events_df, events_upto

        evs = events_upto(props, version)
        # DECLARED column order: Spark appends hive partition columns
        # LAST in scan order, so without this a partitioned table's
        # SELECT * (and worse, positional INSERT binding) would follow
        # the scan, not the declaration — a positional INSERT INTO
        # t(k, p, v) VALUES (...) silently bound v's value to p.
        # schema_ddl (kept current by every ALTER) wins; column_order
        # is the creation-time record init() stores for DDL-less
        # tables. Extra physical columns (evolution) append after.
        order: list[str] | None = None
        ddl = props.get("schema_ddl")
        if ddl:
            from pyspark.sql.types import StructType as _ST

            order = [f.name for f in _ST.fromDDL(ddl).fields]
        elif props.get("column_order"):
            order = list(props["column_order"])

        def _mapped(df: DataFrame) -> DataFrame:
            df = apply_events_df(df, evs) if evs else df
            if order:
                have = {c.lower(): c for c in df.columns}
                decl = [
                    have[c.lower()] for c in order if c.lower() in have
                ]
                sel = decl + [c for c in df.columns if c not in decl]
                if sel != list(df.columns):
                    df = df.select(*sel)
            return df

        if not files:
            if prune is not None:
                # every file pruned: empty frame with the table schema
                # (schema from one unpruned file via the same manifest)
                allf, _ = log.files_for(version)
                if allf:
                    base = reader.option("basePath", vdir).parquet(*allf)
                    return _mapped(base.limit(0)), skipped
            return _mapped(reader.parquet(vdir)), skipped
        return (
            _mapped(reader.option("basePath", vdir).parquet(*files)),
            skipped,
        )

    def read(self, spark: SparkSession) -> DataFrame:
        log = CommitLog(self.path)
        if log.exists():
            # visible_version: step past pending multi-table txn heads
            v = log.visible_version()
            if v == 0:
                # a log-bearing table whose EVERY commit is a pending
                # multi-table transaction (e.g. a DDL-created table
                # racing its first txn commit): the pre-transaction
                # state is "no visible data yet" — serve the empty
                # frame under the declared schema, not a spurious
                # "v0 is not published" error
                ddl = log.table_props().get("schema_ddl")
                if ddl:
                    from pyspark.sql.types import StructType

                    from ..operators.partitioning import local_rows

                    return local_rows(
                        spark, [], StructType.fromDDL(ddl)
                    )
                raise FileNotFoundError(
                    f"{self.path} has no VISIBLE version yet (every "
                    "commit belongs to a pending multi-table "
                    "transaction) and no declared schema to serve an "
                    "empty frame from"
                )
            return self._read_manifest_files(spark, v)[0]
        cur = current_version_path(self.path)
        if cur is None:
            raise FileNotFoundError(f"no version of merge table at {self.path}")
        return spark.read.parquet(cur)

    def read_pruned(
        self,
        spark: SparkSession,
        column: str,
        lo: object,
        hi: object,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Stats-based file skipping (the Delta/Iceberg data-skipping
        shape): open only the files whose manifest [min, max] envelope
        for ``column`` intersects [lo, hi]. The predicate itself is NOT
        applied — skipping is an I/O optimization, the caller still
        filters (rows outside the range can live in an overlapping
        file). Returns (df, files_scanned, files_skipped); requires a
        manifest table. At 100 TB this is the difference between
        planning a scan over every file of a commit and over the
        handful whose ranges can match — resolved from one small JSON
        object, before Spark sees the query."""
        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log (legacy table): "
                "stats pruning needs manifests"
            )
        v = log.visible_version() if version is None else version
        df, skipped = self._read_manifest_files(
            spark, v, prune=(column, lo, hi)
        )
        total = len(log.files_for(v)[0])
        return df, total - skipped, skipped

    def read_where(
        self,
        spark: SparkSession,
        prunes: list[tuple[str, object, object]],
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Conjunctive stats pruning: like :meth:`read_pruned` but with
        a LIST of ``(column, lo, hi)`` ranges (ANDed predicates — a
        file skips when ANY range is provably disjoint). One-sided
        predicates pass ``manifest.UNBOUNDED_LO`` / ``UNBOUNDED_HI``
        as the open bound. This is the read the SQL catalog routes
        extractable WHERE conjuncts through. Returns
        (df, files_scanned, files_skipped)."""
        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log (legacy table): "
                "stats pruning needs manifests"
            )
        v = log.visible_version() if version is None else version
        df, skipped = self._read_manifest_files(spark, v, prune=prunes)
        total = len(log.files_for(v)[0])
        return df, total - skipped, skipped

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time-travel read (VERSION AS OF): the snapshot exactly as
        committed at ``version``. Copy-on-write makes this free — every
        version directory IS a full consistent snapshot, so historical
        reads cost one manifest read, no log replay (contrast the MoR
        chain, where an as-of read would re-resolve deltas). Raises on
        uncommitted/vacuumed versions — ``vacuum(keep_last=n)`` is the
        retention boundary for how far back travel reaches."""
        log = CommitLog(self.path)
        if log.exists():
            log.manifest(version)  # raises if unpublished/retired
            return self._read_manifest_files(spark, version)[0]
        if version not in _versions(self.path):
            raise FileNotFoundError(
                f"version v{version} of {self.path} is not committed "
                "(never written, or removed by vacuum)"
            )
        return spark.read.parquet(os.path.join(self.path, f"v{version}"))

    def _identity_hwm_for(
        self, spark: SparkSession, base: int, id_cols: list[str]
    ) -> dict[str, int]:
        """Per-column identity high-water mark of version ``base`` from
        the manifest's per-file max stats — ZERO data scan in the
        normal case. A file whose identity stats were lost (null
        min/max with non-null rows) forces ONE scan fallback: silently
        trusting a lowered stats-only HWM would mint DUPLICATE ids
        (shared by append() and merge())."""
        log = CommitLog(self.path)
        hw = {c: 0 for c in id_cols}
        need_scan = False
        if base > 0:
            for ent in log.manifest(base)["files"]:
                if ent.get("role", "data") != "data":
                    continue
                for c in id_cols:
                    st = ent.get("columns", {}).get(c)
                    if st is None:
                        continue  # file predates the column
                    mx = st.get("max")
                    if mx is None:
                        if st.get("null_count", 0) < ent.get("rows", 0):
                            need_scan = True  # stats lost: scan
                        continue
                    hw[c] = max(hw[c], int(mx))
        if need_scan:
            row = (
                self._read_manifest_files(spark, base)[0]
                .agg(*[F.max(c).alias(c) for c in id_cols])
                .first()
            )
            for c in id_cols:
                hw[c] = max(hw[c], int(row[c] or 0))
        return hw

    def append(self, df: DataFrame) -> int:
        """Append ``df`` as the table's next version (hardlink reuse of
        the current base's files + the new files), HONORING the stored
        hive partition layout — new files land inside their
        ``key=value`` dirs like every other commit's. This is the
        engine-native INSERT path: the DataSource writer's commit runs
        in a Python worker and REFUSES flat appends into partitioned
        tables (a root-level file in a hive-partitioned version dir is
        silently dropped by Spark's partition discovery — row loss, not
        a layout nit). Generated columns and CHECK/NOT NULL invariants
        are enforced like every write surface. Returns the version."""
        import uuid as _uuid

        from .constraints import apply_generated, apply_invariants
        from .manifest import build_manifest

        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log: init() the table first"
            )
        props = log.table_props()
        df = apply_invariants(apply_generated(df, props), props)
        pby = self.partition_by or props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        # GENERATED ALWAYS AS IDENTITY (S49): assignment happens HERE,
        # inside the OCC loop — ids start above the base version's
        # high-water mark (from the manifest's file stats, no scan),
        # and a lost claim RE-STAGES against the new base, so two
        # racing appends can never mint the same key
        from .constraints import identity_columns

        have_lower = {c.lower() for c in df.columns}
        supplied_ids = [
            c for c in identity_columns(props) if c.lower() in have_lower
        ]
        if supplied_ids:
            raise ValueError(
                f"GENERATED ALWAYS AS IDENTITY column(s) {supplied_ids} "
                "cannot be supplied — the engine assigns them"
            )
        id_cols = [
            c
            for c in identity_columns(props)
            if c.lower() not in have_lower
        ]
        id_types: dict[str, object] = {}
        if id_cols and props.get("schema_ddl"):
            from pyspark.sql.types import StructType as _ST

            for f in _ST.fromDDL(props["schema_ddl"]).fields:
                for c in id_cols:
                    if f.name.lower() == c.lower():
                        id_types[c] = f.dataType

        def _identity_hwm(base: int) -> dict[str, int]:
            return self._identity_hwm_for(df.sparkSession, base, id_cols)

        cdf_on = cdf_enabled(props) and self.key in df.columns

        def _stage(frame: DataFrame) -> str:
            s = os.path.join(
                self.path, f".stage-append-{_uuid.uuid4().hex}"
            )
            w = frame.write.mode("errorifexists")
            if pby:
                w = w.partitionBy(*pby)
            w.parquet(os.path.join(s, "new"))
            if cdf_on:
                # S51: every appended row is an insert event; the feed
                # member commits atomically with the data (linked into
                # the work dir's cdf/ below)
                _cdf_insert_events(frame, self.key).write.mode(
                    "errorifexists"
                ).parquet(os.path.join(s, "cdfev"))
            return s

        stage: str | None = None
        seq_pin = None
        try:
            from pyspark.sql.types import LongType

            from .txn import inherit_pending

            bloom_on = self.bloom_on or props.get("bloom_on")
            if id_cols:
                seqd, seq_pin = _dense_seq(df)
            for _ in range(50):
                base, claim = _base_and_claim(self.path)
                if id_cols:
                    # dense hwm+1..hwm+n values (never
                    # monotonically_increasing_id — see _dense_seq):
                    # the seq column is hwm-independent, so a lost OCC
                    # claim only re-offsets, never re-numbers
                    hw = _identity_hwm(base)
                    assigned = seqd
                    for c in id_cols:
                        assigned = assigned.withColumn(
                            c,
                            (F.lit(hw[c]) + F.col("__seq")).cast(
                                id_types.get(c, LongType())
                            ),
                        )
                    assigned = assigned.drop("__seq")
                    if stage is not None:
                        shutil.rmtree(stage, ignore_errors=True)
                    stage = _stage(assigned)
                elif stage is None:
                    stage = _stage(df)
                work = os.path.join(
                    self.path, f".stage-appub-{_uuid.uuid4().hex}"
                )
                os.makedirs(work)
                try:
                    if base > 0:
                        for fent in log.manifest(base)["files"]:
                            if fent.get("role", "data") != "data":
                                # change-data members belong to THEIR
                                # commit only — never carried forward
                                continue
                            rel = fent["path"]
                            dst = os.path.join(work, rel)
                            os.makedirs(
                                os.path.dirname(dst), exist_ok=True
                            )
                            os.link(
                                os.path.join(
                                    self.path, f"v{base}", rel
                                ),
                                dst,
                            )
                    srcdir = os.path.join(stage, "new")
                    for root_, dirs, files in os.walk(srcdir):
                        dirs[:] = [
                            d
                            for d in dirs
                            if not d.startswith(("_", "."))
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
                                    ddir,
                                    f"app-{_uuid.uuid4().hex[:8]}-{fn}",
                                ),
                            )
                    if cdf_on:
                        evdir = os.path.join(stage, "cdfev")
                        cdst = os.path.join(work, "cdf")
                        os.makedirs(cdst, exist_ok=True)
                        for fn in os.listdir(evdir):
                            if fn.endswith(".parquet"):
                                os.link(
                                    os.path.join(evdir, fn),
                                    os.path.join(cdst, fn),
                                )
                    with open(
                        os.path.join(work, "_SUCCESS"), "w"
                    ) as fh:
                        fh.write("")
                    manifest = build_manifest(
                        claim, work, bloom_on=bloom_on
                    )
                    if cdf_on:
                        manifest["cdf"] = True
                    inherited = inherit_pending(log, claim)
                    if inherited:
                        manifest["txn_inherited"] = inherited
                        _stamp_inherited(work, inherited)
                except BaseException:
                    shutil.rmtree(work, ignore_errors=True)
                    raise
                try:
                    os.rename(work, os.path.join(self.path, f"v{claim}"))
                except OSError as exc:
                    import errno

                    shutil.rmtree(work, ignore_errors=True)
                    if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        _heal_claim(self.path, claim)
                        continue  # lost the race: relink vs new base
                    raise
                log.publish(manifest)
                return claim
            raise RuntimeError(
                f"append lost the version race 50 times at {self.path}"
            )
        finally:
            if stage is not None:
                shutil.rmtree(stage, ignore_errors=True)
            if seq_pin is not None:
                release_checkpoint(seq_pin)

    def replace_where(self, df: DataFrame, condition: str) -> dict:
        """Predicate-scoped overwrite (the Delta ``replaceWhere``
        contract, S48): ONE commit whose state is (current rows NOT
        matching ``condition``) + ``df``. Every incoming row must
        satisfy the condition — rows outside the replaced region are
        rejected before anything commits (the Delta rule: a replace
        must not smuggle data into the part of the table it claimed not
        to touch).

        File-granular, not row-granular, where stats allow: base files
        whose manifest envelopes PROVE no row can match the condition
        are HARDLINKED verbatim (byte-identical — never decoded, never
        rewritten); only files that may contain matching rows are read,
        filtered to the survivors, and rewritten. At 100 TB a
        replaceWhere on one day of a date-partitioned table rewrites
        that day's files and relinks everything else — the same
        manifest-stats machinery as read-side file skipping, applied to
        a write. Returns {version, files_relinked, files_rewritten,
        rows_replaced is NOT reported (it would force an extra pass)}.
        """
        import uuid as _uuid

        from pyspark.sql import functions as F

        from ..plans.prune_sql import extract_prunes
        from .colmap import (
            apply_events_df,
            events_upto,
            prior_physical_names,
        )
        from .constraints import apply_generated, apply_invariants
        from .manifest import build_manifest
        from .txn import inherit_pending

        spark = df.sparkSession
        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log: init() the table first"
            )
        props = log.table_props()
        df = apply_invariants(apply_generated(df, props), props)
        cond = F.expr(condition).cast("boolean")
        # contract: every incoming row matches (NULL counts as outside)
        stray = df.filter(~F.coalesce(cond, F.lit(False))).limit(1)
        if stray.count() > 0:
            raise ValueError(
                f"replaceWhere({condition!r}): incoming rows violate "
                "the predicate — a replace must only write into the "
                "region it replaces"
            )
        pby = self.partition_by or props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        bloom_on = self.bloom_on or props.get("bloom_on")
        cdf_on = cdf_enabled(props) and self.key in df.columns
        for _ in range(20):
            base, claim = _base_and_claim(self.path)
            vdir = os.path.join(self.path, f"v{base}")
            m = log.manifest(base)
            stat_cols: set[str] = set()
            for ent in m["files"]:
                stat_cols.update(ent.get("columns", {}))
            conjs = extract_prunes(
                f"SELECT * FROM __rw__ WHERE {condition}",
                "__rw__",
                stat_cols
                | {e["new"] for e in events_upto(props, None)
                   if e["op"] == "rename"},
            )
            for c, lo, hi in list(conjs):
                for oldn in prior_physical_names(props, c):
                    conjs.append((oldn, lo, hi))
            # files_for keeps files INTERSECTING the condition's ranges
            # = the rewrite set; the skipped ones provably hold no
            # matching row = the relink set
            rewrite_abs, _n_skip = log.files_for(
                base, prune=conjs or None
            )
            all_rels = [
                e["path"]
                for e in m["files"]
                if e.get("role", "data") == "data"
            ]
            rewrite_rels = {
                os.path.relpath(p, vdir) for p in rewrite_abs
            }
            relink_rels = [r for r in all_rels if r not in rewrite_rels]
            stage = os.path.join(
                self.path, f".stage-rw-{_uuid.uuid4().hex}"
            )
            try:
                parts: list[DataFrame] = [df]
                old_region = None
                if rewrite_rels:
                    reader = self._physical_reader(spark, props, base)
                    scanned = reader.option("basePath", vdir).parquet(
                        *sorted(os.path.join(vdir, r) for r in rewrite_rels)
                    )
                    scanned = apply_events_df(
                        scanned, events_upto(props, base)
                    )
                    matched_c = F.coalesce(
                        F.expr(condition).cast("boolean"),
                        F.lit(False),
                    )
                    if cdf_on:
                        old_region = scanned.filter(matched_c)
                    survivors = scanned.filter(~matched_c)
                    parts.append(
                        survivors.select(*df.columns)
                        if set(survivors.columns) == set(df.columns)
                        else survivors
                    )
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p, allowMissingColumns=True)
                w = out.write.mode("errorifexists")
                if pby:
                    w = w.partitionBy(*pby)
                w.parquet(os.path.join(stage, "new"))
                if cdf_on:
                    # S51: the replaced region's net change — old
                    # in-region rows vs the incoming payload, keyed
                    # diff (one extra region-sized join, the documented
                    # CDF write amplification)
                    lo_side = (
                        old_region
                        if old_region is not None
                        else df.limit(0)
                    )
                    hi_side = df
                    for f in hi_side.schema.fields:
                        if f.name not in lo_side.columns:
                            lo_side = lo_side.withColumn(
                                f.name, F.lit(None).cast(f.dataType)
                            )
                    for f in lo_side.schema.fields:
                        if f.name not in hi_side.columns:
                            hi_side = hi_side.withColumn(
                                f.name, F.lit(None).cast(f.dataType)
                            )
                    _diff_frames(
                        lo_side, hi_side, self.key
                    ).write.mode("errorifexists").parquet(
                        os.path.join(stage, "cdfev")
                    )
                work = os.path.join(
                    self.path, f".stage-rwpub-{_uuid.uuid4().hex}"
                )
                os.makedirs(work)
                try:
                    for rel in relink_rels:
                        dst = os.path.join(work, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(os.path.join(vdir, rel), dst)
                    srcdir = os.path.join(stage, "new")
                    for root_, dirs, files in os.walk(srcdir):
                        dirs[:] = [
                            d
                            for d in dirs
                            if not d.startswith(("_", "."))
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
                                    ddir,
                                    f"rw-{_uuid.uuid4().hex[:8]}-{fn}",
                                ),
                            )
                    evdir = os.path.join(stage, "cdfev")
                    if os.path.isdir(evdir):
                        cdst = os.path.join(work, "cdf")
                        os.makedirs(cdst, exist_ok=True)
                        for fn in os.listdir(evdir):
                            if fn.endswith(".parquet"):
                                os.link(
                                    os.path.join(evdir, fn),
                                    os.path.join(cdst, fn),
                                )
                    with open(
                        os.path.join(work, "_SUCCESS"), "w"
                    ) as fh:
                        fh.write("")
                    manifest = build_manifest(
                        claim, work, bloom_on=bloom_on
                    )
                    if cdf_on:
                        manifest["cdf"] = True
                    manifest["op"] = "replace_where"
                    manifest["metrics"] = {
                        "files_rewritten": len(rewrite_rels),
                        "files_relinked": len(relink_rels),
                        "predicate": condition,
                    }
                    inherited = inherit_pending(log, claim)
                    if inherited:
                        manifest["txn_inherited"] = inherited
                        _stamp_inherited(work, inherited)
                except BaseException:
                    shutil.rmtree(work, ignore_errors=True)
                    raise
                try:
                    os.rename(
                        work, os.path.join(self.path, f"v{claim}")
                    )
                except OSError as exc:
                    import errno

                    shutil.rmtree(work, ignore_errors=True)
                    if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        _heal_claim(self.path, claim)
                        continue  # lost the race: recompute vs new base
                    raise
                log.publish(manifest)
                return {
                    "version": claim,
                    "files_relinked": len(relink_rels),
                    "files_rewritten": len(rewrite_rels),
                }
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"replaceWhere lost the version race 20 times at {self.path}"
        )

    def delete_where(self, spark: SparkSession, condition: str) -> dict:
        """File-granular CoW DELETE (S50 — the Delta DELETE shape,
        VERDICT r14 item 2): base files whose manifest stats envelopes
        PROVE no row matches ``condition`` are HARDLINKED verbatim into
        the new version (byte-identical, never decoded); only
        intersecting files are read and rewritten without the matching
        rows. At 100 TB a ``DELETE WHERE day = X`` on a
        clustered/partitioned table rewrites one day's files and
        relinks everything else — contrast the prior MERGE route, which
        joined and rewrote the whole touched slice regardless of file
        envelopes. Returns {version, files_relinked, files_rewritten}
        (also stamped into the commit manifest for DESCRIBE HISTORY)."""
        return self._dml_where(spark, condition, "delete", None)

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict[str, str],
    ) -> dict:
        """File-granular CoW UPDATE (S50): stats-disjoint files relink
        byte-identical; intersecting files rewrite with the SET
        expressions applied to matching rows only. All assignments
        evaluate against PRE-update values (one simultaneous
        projection, the SQL UPDATE contract); GENERATED columns not
        explicitly assigned are recomputed from the updated row (the
        Delta rule)."""
        return self._dml_where(spark, condition, "update", assignments)

    def _dml_where(
        self,
        spark: SparkSession,
        condition: str,
        op: str,
        assignments: dict[str, str] | None,
    ) -> dict:
        import uuid as _uuid

        from ..plans.prune_sql import extract_prunes
        from .colmap import (
            apply_events_df,
            events_upto,
            prior_physical_names,
        )
        from .constraints import (
            apply_generated,
            apply_invariants,
            generated_columns,
        )
        from .manifest import build_manifest
        from .txn import inherit_pending

        log = CommitLog(self.path)
        if not log.exists():
            raise FileNotFoundError(
                f"{self.path} has no commit log: file-granular "
                f"{op.upper()} needs manifests (route through merge())"
            )
        props = log.table_props()
        pby = self.partition_by or props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        bloom_on = self.bloom_on or props.get("bloom_on")
        cdf_on = cdf_enabled(props)
        for _ in range(20):
            base, claim = _base_and_claim(self.path)
            vdir = os.path.join(self.path, f"v{base}")
            m = log.manifest(base)
            stat_cols: set[str] = set()
            for ent in m["files"]:
                stat_cols.update(ent.get("columns", {}))
            conjs = extract_prunes(
                f"SELECT * FROM __dml__ WHERE {condition}",
                "__dml__",
                stat_cols
                | {
                    e["new"]
                    for e in events_upto(props, None)
                    if e["op"] == "rename"
                },
            )
            for c, lo, hi in list(conjs):
                for oldn in prior_physical_names(props, c):
                    conjs.append((oldn, lo, hi))
            rewrite_abs, _n_skip = log.files_for(
                base, prune=conjs or None
            )
            all_rels = [
                e["path"]
                for e in m["files"]
                if e.get("role", "data") == "data"
            ]
            rewrite_rels = {
                os.path.relpath(p, vdir) for p in rewrite_abs
            }
            relink_rels = [r for r in all_rels if r not in rewrite_rels]
            stage = os.path.join(
                self.path, f".stage-dml-{_uuid.uuid4().hex}"
            )
            try:
                replacement: DataFrame | None = None
                ev: DataFrame | None = None
                if rewrite_rels:
                    reader = self._physical_reader(spark, props, base)
                    scanned = reader.option("basePath", vdir).parquet(
                        *sorted(
                            os.path.join(vdir, r) for r in rewrite_rels
                        )
                    )
                    scanned = apply_events_df(
                        scanned, events_upto(props, base)
                    )
                    # ALTER-declared columns the rewrite files don't
                    # hold yet materialize as typed NULLs (same rule as
                    # the MERGE route: the declaration made them part
                    # of the table — not an evolution to opt into)
                    if props.get("schema_ddl"):
                        from pyspark.sql.types import StructType as _ST

                        have_l = {c.lower() for c in scanned.columns}
                        for f in _ST.fromDDL(
                            props["schema_ddl"]
                        ).fields:
                            if f.name.lower() not in have_l:
                                scanned = scanned.withColumn(
                                    f.name,
                                    F.lit(None).cast(f.dataType),
                                )
                    payload = [
                        c for c in scanned.columns if c != self.key
                    ]
                    # the predicate evaluates against PRE-update values
                    # EVERYWHERE (SET projection, generated recompute,
                    # change events): materialize it as a flag BEFORE
                    # any transformation — re-evaluating the raw
                    # condition on a transformed frame would re-test
                    # assigned columns against their POST values
                    scanned = scanned.withColumn(
                        "__match",
                        F.coalesce(
                            F.expr(condition).cast("boolean"),
                            F.lit(False),
                        ),
                    )
                    cond_c = F.col("__match")
                    track_cdf = cdf_on and self.key in scanned.columns
                    if track_cdf:
                        scanned = scanned.withColumn(
                            "__old", F.struct(*payload)
                        )
                    hidden = [
                        c for c in ("__match", "__old")
                        if c in scanned.columns
                    ]
                    if op == "delete":
                        if track_cdf:
                            ev = scanned.filter(cond_c).select(
                                F.col(self.key),
                                F.lit("delete").alias("change"),
                                F.col("__old").alias("old"),
                                F.lit(None)
                                .cast(
                                    scanned.schema["__old"].dataType
                                )
                                .alias("new"),
                            )
                        replacement = scanned.filter(~cond_c).drop(
                            *hidden
                        )
                    else:
                        # SET expressions see PRE-update values: one
                        # simultaneous projection, not chained
                        # withColumn (a later assignment must not read
                        # an earlier one's result)
                        sets = {
                            col: F.when(cond_c, F.expr(e)).otherwise(
                                F.col(col)
                            )
                            for col, e in (assignments or {}).items()
                        }
                        replacement = scanned.withColumns(sets)
                        assigned = {c.lower() for c in sets}
                        for gcol, gexpr in generated_columns(
                            props
                        ).items():
                            if (
                                gcol.lower() not in assigned
                                and gcol in replacement.columns
                            ):
                                replacement = replacement.withColumn(
                                    gcol,
                                    F.when(
                                        cond_c, F.expr(gexpr)
                                    ).otherwise(F.col(gcol)),
                                )
                        # apply_generated VALIDATES explicitly-assigned
                        # generated columns value-equals-expr (the
                        # smuggle guard); unassigned ones were just
                        # recomputed so the check passes by construction
                        replacement = apply_invariants(
                            apply_generated(replacement, props), props
                        )
                        if track_cdf:
                            # update events: pre-image captured before
                            # the SET projection, post-image from the
                            # transformed row; no-change rows drop
                            new_s = F.struct(*payload)
                            ev = replacement.filter(cond_c).select(
                                F.col(self.key),
                                F.lit("update").alias("change"),
                                F.col("__old").alias("old"),
                                new_s.alias("new"),
                            ).filter(
                                ~F.col("old").eqNullSafe(F.col("new"))
                            )
                        replacement = replacement.drop(*hidden)
                    if ev is not None:
                        ev.write.mode("errorifexists").parquet(
                            os.path.join(stage, "cdfev")
                        )
                    w = replacement.write.mode("errorifexists")
                    if pby:
                        w = w.partitionBy(*pby)
                    w.parquet(os.path.join(stage, "new"))
                work = os.path.join(
                    self.path, f".stage-dmlpub-{_uuid.uuid4().hex}"
                )
                os.makedirs(work)
                try:
                    for rel in relink_rels:
                        dst = os.path.join(work, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(os.path.join(vdir, rel), dst)
                    srcdir = os.path.join(stage, "new")
                    if rewrite_rels:
                        for root_, dirs, files in os.walk(srcdir):
                            dirs[:] = [
                                d
                                for d in dirs
                                if not d.startswith(("_", "."))
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
                                        ddir,
                                        f"dml-{_uuid.uuid4().hex[:8]}"
                                        f"-{fn}",
                                    ),
                                )
                    evdir = os.path.join(stage, "cdfev")
                    if os.path.isdir(evdir):
                        cdst = os.path.join(work, "cdf")
                        os.makedirs(cdst, exist_ok=True)
                        for fn in os.listdir(evdir):
                            if fn.endswith(".parquet"):
                                os.link(
                                    os.path.join(evdir, fn),
                                    os.path.join(cdst, fn),
                                )
                    with open(
                        os.path.join(work, "_SUCCESS"), "w"
                    ) as fh:
                        fh.write("")
                    manifest = build_manifest(
                        claim, work, bloom_on=bloom_on
                    )
                    if cdf_on and (ev is not None or not rewrite_rels):
                        # flag ONLY when the change set was actually
                        # recorded (or provably empty): a keyless
                        # rewrite without events must not present the
                        # commit as feed-complete
                        manifest["cdf"] = True
                    manifest["op"] = op
                    manifest["metrics"] = {
                        "files_rewritten": len(rewrite_rels),
                        "files_relinked": len(relink_rels),
                        "predicate": condition,
                    }
                    inherited = inherit_pending(log, claim)
                    if inherited:
                        manifest["txn_inherited"] = inherited
                        _stamp_inherited(work, inherited)
                except BaseException:
                    shutil.rmtree(work, ignore_errors=True)
                    raise
                try:
                    os.rename(
                        work, os.path.join(self.path, f"v{claim}")
                    )
                except OSError as exc:
                    import errno

                    shutil.rmtree(work, ignore_errors=True)
                    if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        _heal_claim(self.path, claim)
                        continue  # lost the race: recompute vs new base
                    raise
                log.publish(manifest)
                return {
                    "version": claim,
                    "files_relinked": len(relink_rels),
                    "files_rewritten": len(rewrite_rels),
                }
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"{op}_where lost the version race 20 times at {self.path}"
        )

    def init(self, df: DataFrame) -> None:
        """Write version 1 (fails if the table already exists); stores
        the table properties (kind + merge key) so later sessions can
        discover DML routing from the path alone
        (``LakehouseSqlCatalog.register_path``)."""
        if _versions(self.path):
            raise FileExistsError(f"merge table already initialized: {self.path}")
        # GENERATED ALWAYS AS IDENTITY at first commit: ids start at 1
        # (high-water mark 0 — no base to race with; see append())
        from .constraints import identity_columns as _idc

        props0 = CommitLog(self.path).table_props()
        have0 = {c.lower() for c in df.columns}
        supplied0 = [
            c for c in _idc(props0) if c.lower() in have0
        ]
        if supplied0:
            raise ValueError(
                f"GENERATED ALWAYS AS IDENTITY column(s) {supplied0} "
                "cannot be supplied — the engine assigns them"
            )
        missing0 = [c for c in _idc(props0) if c.lower() not in have0]
        seq_pin = None
        if missing0:
            from pyspark.sql.types import LongType, StructType as _ST0

            types0: dict[str, object] = {}
            if props0.get("schema_ddl"):
                for f in _ST0.fromDDL(props0["schema_ddl"]).fields:
                    for c in missing0:
                        if f.name.lower() == c.lower():
                            types0[c] = f.dataType
            # dense 1..n values (see _dense_seq: mid overflows INT
            # identity under ANSI / duplicates without it)
            df, seq_pin = _dense_seq(df)
            for c in missing0:
                df = df.withColumn(
                    c,
                    F.col("__seq").cast(types0.get(c, LongType())),
                )
            df = df.drop("__seq")
        try:
            self._write(df, _next_version(self.path))
        finally:
            if seq_pin is not None:
                release_checkpoint(seq_pin)
        log = CommitLog(self.path)
        props = log.table_props()  # CREATE TABLE may have written one
        props["kind"] = "cow"
        # creation-time column order: what lets partitioned-table reads
        # (and positional INSERT binding) serve the DECLARED order even
        # though Spark's scan appends partition columns last. Redundant
        # (and never stored) when a DDL declaration already orders the
        # schema; internal either way — SHOW CREATE TABLE omits it.
        if not props.get("schema_ddl"):
            props.setdefault("column_order", list(df.columns))
        # never persist the keyless placeholder "_" as a real merge key
        # (register_path would serve it as a DML routing key)
        if self.key and self.key != "_":
            props["merge_key"] = self.key
        if self.partition_by:
            props["partition_by"] = self.partition_by
        if self.bloom_on is not None:
            props["bloom_on"] = self.bloom_on
        log.write_table_props(props)

    def _read_version_dir(self, spark: SparkSession, version: int):
        """State scan of one version for REWRITE ops (optimize/zorder).
        Manifest tables read the manifest's data-role file list (a raw
        directory scan would also sweep up the S51 ``cdf/`` change-data
        member); legacy tables keep the directory scan. ALTER-evolved
        tables may hold mixed file schemas; without mergeSchema the
        rewrite would adopt one footer's schema and permanently DROP a
        materialized column (the overlay would then mask the loss with
        NULLs forever)."""
        log = CommitLog(self.path)
        if log.exists():
            return self._read_manifest_files(spark, version)[0]
        reader = spark.read
        if log.table_props().get("schema_ddl"):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(os.path.join(self.path, f"v{version}"))

    def optimize(
        self,
        spark: SparkSession,
        cluster_by: tuple[str, int] | None = None,
        max_retries: int = 20,
    ) -> int:
        """Recluster the current state as a new commit (the OPTIMIZE
        maintenance op of the data-skipping story): on a table WITHOUT
        a standing ``cluster_by``, MERGE output is join-hash-partitioned
        — after a few merges every file's [min, max] envelope on any
        query column spans the whole domain and ``read_pruned`` skips
        nothing. This rewrites the CURRENT version through the given
        spec (range-disjoint files, tight manifest envelopes), restoring
        skipping without touching history — the pay-per-maintenance
        alternative to a standing spec's pay-per-commit shuffle. Uses
        the table's own ``cluster_by`` when no spec is passed. Same OCC
        commit protocol as merge. Returns the committed version."""
        spec = cluster_by or self.cluster_by
        if spec is None:
            raise ValueError(
                f"optimize needs a cluster_by spec on {self.path}"
            )
        if (
            cluster_by is not None
            and self.cluster_by is not None
            and cluster_by != self.cluster_by
        ):
            # _write re-applies the standing spec on every commit, so a
            # different ad-hoc spec would be silently overridden — error
            # instead of pretending
            raise ValueError(
                f"table has a standing cluster_by {self.cluster_by}; "
                f"optimize cannot apply a different spec {cluster_by}"
            )
        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            state = self._read_version_dir(spark, base)
            if self.cluster_by is None:  # else _write applies the spec
                col, n = spec
                state = state.repartitionByRange(n, F.col(col))
            try:
                # dataChange=false (the Delta marker): same logical
                # content, new layout — streams and the change feed
                # serve this commit as zero events instead of breaking
                self._write(
                    state,
                    claim,
                    manifest_extra={"op": "optimize", "data_change": False},
                )
            except FileExistsError:
                _heal_claim(self.path, claim)
                continue  # a merge slipped in: recluster the NEW state
            return claim
        raise RuntimeError(
            f"optimize lost the version race {max_retries} times "
            f"at {self.path}"
        )

    def compact_small(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        max_retries: int = 20,
    ) -> dict:
        """Bare ``OPTIMIZE`` on an UNCLUSTERED CoW table (LAY6 — the
        Delta binpacking default): coalesce SMALL files (< half the
        target) toward ``target_bytes`` outputs, grouped per hive
        partition directory; every file already at-or-above the
        threshold RELINKS byte-identical (never decoded). Content is
        unchanged, so the commit stamps ``data_change: false`` —
        streams and the change feed cross it as zero events. This is
        the maintenance op for streaming-ingest small-file buildup: at
        100 TB the nightly run reads only the small tail, not the
        table. Column-mapped tables refuse (a compaction would have to
        materialize the rename overlay into mixed-era groups — run the
        clustered OPTIMIZE paths instead). Returns {version,
        files_relinked, files_rewritten, files_out}."""
        import uuid as _uuid

        from .colmap import column_events

        log = CommitLog(self.path)
        props = log.table_props()
        if column_events(props):
            raise ValueError(
                f"OPTIMIZE (binpack) on {self.path}: table carries "
                "column-mapping events (RENAME/DROP/WIDEN) — compact "
                "through OPTIMIZE ... ZORDER BY / a clustered spec, "
                "which rewrites under the logical schema"
            )
        bloom_on = self.bloom_on or props.get("bloom_on")
        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            m = log.manifest(base)
            vdir = os.path.join(self.path, f"v{base}")
            data = [
                e for e in m["files"] if e.get("role", "data") == "data"
            ]
            groups: dict[str, list[dict]] = {}
            relink: list[dict] = []
            for ent in data:
                if int(ent.get("bytes") or 0) >= target_bytes // 2:
                    relink.append(ent)
                else:
                    groups.setdefault(
                        os.path.dirname(ent["path"]), []
                    ).append(ent)
            # singleton small files have nothing to merge with: relink
            rewrite: dict[str, list[dict]] = {}
            for d, ents in groups.items():
                if len(ents) >= 2:
                    rewrite[d] = ents
                else:
                    relink.extend(ents)
            if not rewrite:
                return {
                    "version": base,
                    "files_relinked": len(data),
                    "files_rewritten": 0,
                    "files_out": len(data),
                }
            stage = os.path.join(
                self.path, f".stage-binpack-{_uuid.uuid4().hex}"
            )
            work = os.path.join(
                self.path, f".stage-binpackpub-{_uuid.uuid4().hex}"
            )
            try:
                reader = self._physical_reader(spark, props, base)
                n_new = 0
                for d, ents in sorted(rewrite.items()):
                    total = sum(int(e.get("bytes") or 0) for e in ents)
                    n_out = max(
                        1, (total + target_bytes - 1) // target_bytes
                    )
                    df = reader.parquet(
                        *sorted(
                            os.path.join(vdir, e["path"]) for e in ents
                        )
                    )
                    df.coalesce(int(n_out)).write.mode(
                        "errorifexists"
                    ).parquet(os.path.join(stage, d or "_root"))
                os.makedirs(work, exist_ok=True)
                for ent in relink:
                    dst = os.path.join(work, ent["path"])
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.link(os.path.join(vdir, ent["path"]), dst)
                for d in sorted(rewrite):
                    srcdir = os.path.join(stage, d or "_root")
                    ddir = os.path.join(work, d) if d else work
                    os.makedirs(ddir, exist_ok=True)
                    for fn in sorted(os.listdir(srcdir)):
                        if not fn.endswith(".parquet"):
                            continue
                        os.link(
                            os.path.join(srcdir, fn),
                            os.path.join(
                                ddir,
                                f"bp-{_uuid.uuid4().hex[:8]}-{fn}",
                            ),
                        )
                        n_new += 1
                with open(os.path.join(work, "_SUCCESS"), "w") as fh:
                    fh.write("")
                manifest = build_manifest(
                    claim, work, bloom_on=bloom_on
                )
                manifest["op"] = "optimize_compact"
                manifest["data_change"] = False
                manifest["metrics"] = {
                    "files_rewritten": sum(
                        len(v) for v in rewrite.values()
                    ),
                    "files_relinked": len(relink),
                    "files_out": len(relink) + n_new,
                }
                from .txn import inherit_pending

                inherited = inherit_pending(log, claim)
                if inherited:
                    manifest["txn_inherited"] = inherited
                    _stamp_inherited(work, inherited)
            except BaseException:
                shutil.rmtree(work, ignore_errors=True)
                shutil.rmtree(stage, ignore_errors=True)
                raise
            shutil.rmtree(stage, ignore_errors=True)
            try:
                os.rename(work, os.path.join(self.path, f"v{claim}"))
            except OSError as exc:
                import errno

                shutil.rmtree(work, ignore_errors=True)
                if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                    _heal_claim(self.path, claim)
                    continue  # lost the race: rebin against new base
                raise
            log.publish(manifest)
            return {
                "version": claim,
                "files_relinked": len(relink),
                "files_rewritten": sum(
                    len(v) for v in rewrite.values()
                ),
                "files_out": len(relink) + n_new,
            }
        raise RuntimeError(
            f"binpack optimize lost the version race {max_retries} "
            f"times at {self.path}"
        )

    def restore(self, spark: SparkSession, version: int, max_retries: int = 20) -> int:
        """RESTORE TO VERSION AS OF ``version`` (the Delta RESTORE
        shape): commit a NEW version whose content is exactly the old
        snapshot — history-preserving rollback, so the bad versions stay
        time-travel-inspectable and a second restore can undo the
        undo. Cost is O(files) METADATA, zero data rewrite: the old
        version's immutable files are hardlinked into the new commit
        (the same reuse the append writer does) and its manifest's
        per-file stats are copied verbatim — restoring a terabyte
        snapshot moves no bytes. Same OCC claim protocol as merge;
        raises if ``version`` is unpublished or vacuumed. Returns the
        committed version."""
        import shutil

        log = CommitLog(self.path)
        src_manifest = log.manifest(version)  # raises if retired
        props_r = log.table_props()
        vdir = os.path.join(self.path, f"v{version}")
        # change-data members describe THEIR commit, never table state:
        # relinking the source version's cdf/ would make the feed serve
        # its events a second time under the restore's version number
        keep = [
            e
            for e in src_manifest["files"]
            if e.get("role", "data") == "data"
        ]
        for _ in range(max_retries):
            _base, claim = _base_and_claim(self.path)
            stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
            os.makedirs(stage)
            try:
                for ent in keep:
                    dst = os.path.join(stage, ent["path"])
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    src = os.path.join(vdir, ent["path"])
                    try:
                        os.link(src, dst)
                    except OSError:
                        shutil.copy2(src, dst)
                manifest = {
                    "version": claim,
                    "checkpoint": bool(src_manifest.get("checkpoint")),
                    "files": keep,
                    "restored_from": version,
                    "op": "restore",
                }
                if cdf_enabled(props_r) and _base > 0:
                    # the rollback IS a change: feed consumers see the
                    # net diff current -> restored (the Delta RESTORE
                    # CDF rule), so the feed survives rollbacks instead
                    # of breaking the span
                    ev = _diff_frames(
                        self.read_version(spark, _base),
                        self.read_version(spark, version),
                        self.key,
                    )
                    ev.write.mode("errorifexists").parquet(
                        os.path.join(stage, "cdf")
                    )
                    manifest["cdf"] = True
                    manifest["files"] = keep + [
                        e
                        for e in build_manifest(claim, stage)["files"]
                        if e.get("role") == "cdf"
                    ]
                open(os.path.join(stage, "_SUCCESS"), "w").close()
                try:
                    os.rename(stage, os.path.join(self.path, f"v{claim}"))
                except OSError:
                    _heal_claim(self.path, claim)
                    continue  # lost the race: re-claim
                log.publish(manifest)
                return claim
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"restore lost the version race {max_retries} times at "
            f"{self.path}"
        )

    def optimize_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        bits: int = 16,
        max_retries: int = 20,
    ) -> int:
        """``OPTIMIZE ... ZORDER BY (a, b, ...)`` — recluster the
        current state by the Morton interleave of ``cols`` (LAY1,
        `operators/layout.py`): range-partition + sort on the z-value
        so every file's manifest [min, max] envelope is tight on EVERY
        interleaved column, and ``read_pruned``/SQL-conjunct skipping
        works for each of them from one layout. Columns must be
        non-negative integers (normalize/rank first otherwise — the
        documented zorder_key domain). The spec is persisted in the
        table props (``zorder_by``) so a later bare OPTIMIZE reuses
        it. Same OCC commit protocol as merge/optimize; returns the
        committed version."""
        from ..operators.layout import cluster_by_zorder, zorder_normalize

        if self.cluster_by is not None:
            raise ValueError(
                f"table has a standing cluster_by {self.cluster_by}; "
                "ZORDER would be re-sorted away by the next commit's "
                "standing-spec shuffle"
            )
        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            state = self._read_version_dir(spark, base)
            # resolve clause columns case-insensitively (SQL semantics)
            by_lower = {c.lower(): c for c in state.columns}
            missing = [c for c in cols if c.lower() not in by_lower]
            if missing:
                raise ValueError(
                    f"ZORDER BY columns {missing} not in table "
                    f"({state.columns})"
                )
            cols = [by_lower[c.lower()] for c in cols]
            # keep the table's file granularity: one output range per
            # current data file (a maintenance op reshapes layout, not
            # file count)
            log = CommitLog(self.path)
            n_files = (
                len(log.files_for(base)[0]) if log.exists() else None
            )
            # per-column mins from the manifest stats (one JSON already
            # in hand) — the sign probe zorder_normalize would otherwise
            # answer with a full-scan agg job per integral column
            known_mins: dict[str, object] = (
                manifest_min_fold(log.manifest(base)["files"], cols)
                if log.exists()
                else {}
            )
            # arbitrary domains (strings, floats, negative ints)
            # normalize to equi-depth range buckets first — without
            # this a string dimension casts to NULL and the whole
            # layout silently collapses to one range
            state, dims = zorder_normalize(
                state, cols, bits, known_mins=known_mins
            )
            try:
                self._write(
                    cluster_by_zorder(
                        state, dims, bits, num_partitions=n_files
                    ).drop(*[d for d in dims if d.startswith("__zn_")]),
                    claim,
                    manifest_extra={"op": "zorder", "data_change": False},
                )
            except FileExistsError:
                _heal_claim(self.path, claim)
                continue  # a merge slipped in: recluster the NEW state
            log = CommitLog(self.path)
            props = log.table_props()
            props["zorder_by"] = list(cols)
            # every file of this version is clustered under the spec:
            # the anchor incremental OPTIMIZE relinks from (LAY1d)
            props["zorder_at"] = claim
            log.write_table_props(props)
            return claim
        raise RuntimeError(
            f"optimize_zorder lost the version race {max_retries} times "
            f"at {self.path}"
        )

    def optimize_zorder_incremental(
        self,
        spark: SparkSession,
        cols: list[str] | None = None,
        bits: int = 16,
        max_retries: int = 20,
    ) -> dict:
        """``OPTIMIZE t [ZORDER BY (...)] INCREMENTAL`` (LAY1d) —
        recluster ONLY the files appended since the last OPTIMIZE: the
        previous clustered layers relink byte-identical (never decoded)
        and the append layer since ``zorder_at`` range-partitions +
        sorts into its OWN z-layer. Maintenance cost is proportional to
        NEW data, not table size — at 100 TB a nightly incremental
        OPTIMIZE reclusters the day's appends, not the table (the
        liquid-clustering maintenance shape). Layers overlap in range
        (per-file envelopes stay tight WITHIN each layer), so stats
        skipping reads a few files per layer instead of one — a
        periodic FULL ``optimize_zorder`` merges layers back to one.

        Clustered-file identity needs no manifest format change:
        relinked files keep their relative path, so "clustered" =
        present in the ``zorder_at`` version's manifest. ``cols``
        defaults to the stored spec and must match it (changing the
        spec is a full recluster by definition). Returns
        {version, files_relinked, files_reclustered}."""
        import uuid as _uuid

        from ..operators.layout import cluster_by_zorder, zorder_normalize
        from .colmap import apply_events_df, events_upto
        from .manifest import build_manifest
        from .txn import inherit_pending

        log = CommitLog(self.path)
        props = log.table_props()
        stored = props.get("zorder_by") or []
        if isinstance(stored, str):
            stored = [c.strip() for c in stored.split(",") if c.strip()]
        cols = list(cols) if cols else list(stored)
        if not cols:
            raise ValueError(
                "INCREMENTAL OPTIMIZE needs a ZORDER spec (stored "
                "zorder_by or an explicit ZORDER BY clause)"
            )
        if stored and [c.lower() for c in cols] != [
            c.lower() for c in stored
        ]:
            raise ValueError(
                f"INCREMENTAL OPTIMIZE spec {cols} != stored {stored}: "
                "changing the clustering spec is a full recluster "
                "(run OPTIMIZE ... ZORDER BY)"
            )
        pby = self.partition_by or props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        bloom_on = self.bloom_on or props.get("bloom_on")
        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            m = log.manifest(base)
            data_rels = [
                e["path"]
                for e in m["files"]
                if e.get("role", "data") == "data"
            ]
            zat = int(props.get("zorder_at") or 0)
            clustered: set[str] = set()
            if 0 < zat <= base:
                try:
                    clustered = {
                        e["path"]
                        for e in log.manifest(zat)["files"]
                        if e.get("role", "data") == "data"
                    } & set(data_rels)
                except FileNotFoundError:
                    pass  # anchor vacuumed: recluster everything
            work = [r for r in data_rels if r not in clustered]
            if not work:
                return {
                    "version": base,
                    "files_relinked": len(clustered),
                    "files_reclustered": 0,
                }
            vdir = os.path.join(self.path, f"v{base}")
            reader = spark.read
            if props.get("schema_ddl"):
                reader = reader.option("mergeSchema", "true")
            state = reader.option("basePath", vdir).parquet(
                *sorted(os.path.join(vdir, r) for r in work)
            )
            state = apply_events_df(state, events_upto(props, base))
            by_lower = {c.lower(): c for c in state.columns}
            missing = [c for c in cols if c.lower() not in by_lower]
            if missing:
                raise ValueError(
                    f"ZORDER BY columns {missing} not in table "
                    f"({state.columns})"
                )
            rcols = [by_lower[c.lower()] for c in cols]
            # manifest-served sign probe (r18): entries for the WORK
            # files are already in hand — zero extra scan jobs
            work_set = set(work)
            state, dims = zorder_normalize(
                state,
                rcols,
                bits,
                known_mins=manifest_min_fold(
                    [
                        e
                        for e in log.manifest(base)["files"]
                        if e["path"] in work_set
                    ],
                    rcols,
                ),
            )
            layer = cluster_by_zorder(
                state, dims, bits, num_partitions=max(len(work), 1)
            ).drop(*[d for d in dims if d.startswith("__zn_")])
            stage = os.path.join(
                self.path, f".stage-zinc-{_uuid.uuid4().hex}"
            )
            try:
                w = layer.write.mode("errorifexists")
                if pby:
                    w = w.partitionBy(*pby)
                w.parquet(os.path.join(stage, "new"))
                workdir = os.path.join(
                    self.path, f".stage-zincpub-{_uuid.uuid4().hex}"
                )
                os.makedirs(workdir)
                try:
                    for rel in sorted(clustered):
                        dst = os.path.join(workdir, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(os.path.join(vdir, rel), dst)
                    srcdir = os.path.join(stage, "new")
                    for root_, dirs, files in os.walk(srcdir):
                        dirs[:] = [
                            d
                            for d in dirs
                            if not d.startswith(("_", "."))
                        ]
                        for fn in files:
                            if not fn.endswith(".parquet"):
                                continue
                            rel_dir = os.path.relpath(root_, srcdir)
                            ddir = (
                                workdir
                                if rel_dir == "."
                                else os.path.join(workdir, rel_dir)
                            )
                            os.makedirs(ddir, exist_ok=True)
                            os.link(
                                os.path.join(root_, fn),
                                os.path.join(
                                    ddir,
                                    f"zinc-{_uuid.uuid4().hex[:8]}-{fn}",
                                ),
                            )
                    with open(
                        os.path.join(workdir, "_SUCCESS"), "w"
                    ) as fh:
                        fh.write("")
                    manifest = build_manifest(
                        claim, workdir, bloom_on=bloom_on
                    )
                    manifest["op"] = "zorder_incremental"
                    manifest["data_change"] = False
                    inherited = inherit_pending(log, claim)
                    if inherited:
                        manifest["txn_inherited"] = inherited
                        _stamp_inherited(workdir, inherited)
                except BaseException:
                    shutil.rmtree(workdir, ignore_errors=True)
                    raise
                try:
                    os.rename(
                        workdir, os.path.join(self.path, f"v{claim}")
                    )
                except OSError as exc:
                    import errno

                    shutil.rmtree(workdir, ignore_errors=True)
                    if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        _heal_claim(self.path, claim)
                        props = log.table_props()
                        continue  # lost the race: resplit vs new base
                    raise
                log.publish(manifest)
                props = log.table_props()
                props["zorder_by"] = list(rcols)
                props["zorder_at"] = claim
                log.write_table_props(props)
                return {
                    "version": claim,
                    "files_relinked": len(clustered),
                    "files_reclustered": len(work),
                }
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"incremental optimize lost the version race {max_retries} "
            f"times at {self.path}"
        )

    def optimize_where(
        self,
        spark: SparkSession,
        condition: str,
        cols: list[str] | None = None,
        bits: int = 16,
        target_bytes: int = 128 * 1024 * 1024,
        max_retries: int = 20,
    ) -> dict:
        """``OPTIMIZE t [ZORDER BY (...)] WHERE <cond>`` — PREDICATE-
        SCOPED maintenance (the Delta ``OPTIMIZE ... WHERE`` shape):
        only the files whose manifest stats INTERSECT the condition's
        conjunct ranges are rewritten (compacted to ~``target_bytes``
        output files, or z-clustered when a spec is given / stored);
        every provably-disjoint file relinks byte-identical. Content is
        NEVER filtered — the predicate scopes WHICH FILES are
        maintained, not which rows survive (contrast replace_where).
        At 100 TB, `OPTIMIZE t WHERE day = yesterday` compacts one
        day's small streamed files and relinks the other 10 years.
        Returns {version, files_relinked, files_rewritten,
        files_out}."""
        import math
        import uuid as _uuid

        from ..operators.layout import cluster_by_zorder, zorder_normalize
        from ..plans.prune_sql import extract_prunes
        from .colmap import (
            apply_events_df,
            events_upto,
            prior_physical_names,
        )
        from .manifest import build_manifest
        from .txn import inherit_pending

        log = CommitLog(self.path)
        props = log.table_props()
        spec = list(cols) if cols else list(
            props.get("zorder_by") or []
        )
        pby = self.partition_by or props.get("partition_by") or []
        if isinstance(pby, str):
            pby = [p.strip() for p in pby.split(",") if p.strip()]
        bloom_on = self.bloom_on or props.get("bloom_on")
        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            m = log.manifest(base)
            vdir = os.path.join(self.path, f"v{base}")
            stat_cols: set[str] = set()
            for ent in m["files"]:
                stat_cols.update(ent.get("columns", {}))
            conjs = extract_prunes(
                f"SELECT * FROM __ow__ WHERE {condition}",
                "__ow__",
                stat_cols
                | {
                    e["new"]
                    for e in events_upto(props, None)
                    if e["op"] == "rename"
                },
            )
            for c, lo, hi in list(conjs):
                for oldn in prior_physical_names(props, c):
                    conjs.append((oldn, lo, hi))
            rewrite_abs, _skip = log.files_for(base, prune=conjs or None)
            rewrite_rels = {
                os.path.relpath(p, vdir) for p in rewrite_abs
            }
            all_ents = [
                e
                for e in m["files"]
                if e.get("role", "data") == "data"
            ]
            relink_rels = [
                e["path"]
                for e in all_ents
                if e["path"] not in rewrite_rels
            ]
            if not rewrite_rels:
                return {
                    "version": base,
                    "files_relinked": len(relink_rels),
                    "files_rewritten": 0,
                    "files_out": 0,
                }
            reader = spark.read
            if props.get("schema_ddl"):
                reader = reader.option("mergeSchema", "true")
            state = reader.option("basePath", vdir).parquet(
                *sorted(os.path.join(vdir, r) for r in rewrite_rels)
            )
            state = apply_events_df(state, events_upto(props, base))
            rw_bytes = sum(
                e.get("bytes", 0)
                for e in all_ents
                if e["path"] in rewrite_rels
            )
            n_out = max(1, math.ceil(rw_bytes / max(target_bytes, 1)))
            if spec:
                by_lower = {c.lower(): c for c in state.columns}
                missing = [
                    c for c in spec if c.lower() not in by_lower
                ]
                if missing:
                    raise ValueError(
                        f"ZORDER BY columns {missing} not in table "
                        f"({state.columns})"
                    )
                rcols = [by_lower[c.lower()] for c in spec]
                # manifest-served sign probe (r18): same zero-job fold
                # as optimize_zorder, over the rewrite set's entries
                state, dims = zorder_normalize(
                    state,
                    rcols,
                    bits,
                    known_mins=manifest_min_fold(
                        [
                            e
                            for e in all_ents
                            if e["path"] in rewrite_rels
                        ],
                        rcols,
                    ),
                )
                out_frame = cluster_by_zorder(
                    state, dims, bits, num_partitions=n_out
                ).drop(*[d for d in dims if d.startswith("__zn_")])
            else:
                out_frame = state.coalesce(n_out)
            stage = os.path.join(
                self.path, f".stage-ow-{_uuid.uuid4().hex}"
            )
            try:
                w = out_frame.write.mode("errorifexists")
                if pby:
                    w = w.partitionBy(*pby)
                w.parquet(os.path.join(stage, "new"))
                workdir = os.path.join(
                    self.path, f".stage-owpub-{_uuid.uuid4().hex}"
                )
                os.makedirs(workdir)
                n_files_out = 0
                try:
                    for rel in relink_rels:
                        dst = os.path.join(workdir, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(os.path.join(vdir, rel), dst)
                    srcdir = os.path.join(stage, "new")
                    for root_, dirs, files in os.walk(srcdir):
                        dirs[:] = [
                            d
                            for d in dirs
                            if not d.startswith(("_", "."))
                        ]
                        for fn in files:
                            if not fn.endswith(".parquet"):
                                continue
                            n_files_out += 1
                            rel_dir = os.path.relpath(root_, srcdir)
                            ddir = (
                                workdir
                                if rel_dir == "."
                                else os.path.join(workdir, rel_dir)
                            )
                            os.makedirs(ddir, exist_ok=True)
                            os.link(
                                os.path.join(root_, fn),
                                os.path.join(
                                    ddir,
                                    f"ow-{_uuid.uuid4().hex[:8]}-{fn}",
                                ),
                            )
                    with open(
                        os.path.join(workdir, "_SUCCESS"), "w"
                    ) as fh:
                        fh.write("")
                    manifest = build_manifest(
                        claim, workdir, bloom_on=bloom_on
                    )
                    manifest["op"] = "optimize_where"
                    manifest["data_change"] = False
                    inherited = inherit_pending(log, claim)
                    if inherited:
                        manifest["txn_inherited"] = inherited
                        _stamp_inherited(workdir, inherited)
                except BaseException:
                    shutil.rmtree(workdir, ignore_errors=True)
                    raise
                try:
                    os.rename(
                        workdir, os.path.join(self.path, f"v{claim}")
                    )
                except OSError as exc:
                    import errno

                    shutil.rmtree(workdir, ignore_errors=True)
                    if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        _heal_claim(self.path, claim)
                        continue  # lost the race: resplit vs new base
                    raise
                log.publish(manifest)
                return {
                    "version": claim,
                    "files_relinked": len(relink_rels),
                    "files_rewritten": len(rewrite_rels),
                    "files_out": n_files_out,
                }
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"optimize_where lost the version race {max_retries} times "
            f"at {self.path}"
        )

    def clone_to(
        self, dest: str, version: int | None = None
    ) -> "MergeSink":
        """SHALLOW CLONE (the Delta shape): create a NEW table at
        ``dest`` whose v1 is the source's ``version`` (default current)
        snapshot — zero data copy, the immutable files are HARDLINKED
        (the local-FS spelling of the shared-object references real
        formats write; the inode outlives either table's directory
        entry, so vacuum of one side can never corrupt the other) and
        the manifest's per-file stats are copied verbatim. The clone
        gets its OWN commit log and table props: subsequent commits,
        vacuum, and time travel on either side are fully independent —
        the clone's history STARTS at the clone point (v1), the
        source's history is not carried (Delta semantics: time travel
        on a clone reaches only post-clone versions). Raises if dest
        already holds a table."""
        import shutil

        log = CommitLog(self.path)
        v = log.current_version() if version is None else version
        src_manifest = log.manifest(v)  # raises if unpublished/vacuumed
        dest_log = CommitLog(dest)
        if _versions(dest) or dest_log.table_props():
            raise FileExistsError(f"clone target already a table: {dest}")
        vdir = os.path.join(self.path, f"v{v}")
        os.makedirs(dest, exist_ok=True)
        stage = os.path.join(dest, f".stage-{uuid.uuid4().hex}")
        os.makedirs(stage)
        # change-data members (S51) describe the SOURCE's commit, not
        # table state: a clone starts a fresh history and must not
        # carry them (its feed would misattribute the source's events)
        src_manifest = dict(src_manifest)
        src_manifest["files"] = [
            e
            for e in src_manifest["files"]
            if e.get("role", "data") == "data"
        ]
        try:
            for ent in src_manifest["files"]:
                dst = os.path.join(stage, ent["path"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                src = os.path.join(vdir, ent["path"])
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
            open(os.path.join(stage, "_SUCCESS"), "w").close()
            os.rename(stage, os.path.join(dest, "v1"))
            dest_log.publish(
                {
                    "version": 1,
                    "checkpoint": bool(src_manifest.get("checkpoint")),
                    "files": src_manifest["files"],
                    "cloned_from": {"path": self.path, "version": v},
                }
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        props = log.table_props()
        props["kind"] = "cow"
        # column-mapping events (S46) anchor at SOURCE version numbers;
        # the clone's history restarts at v1, so every event at-or-below
        # the cloned snapshot rebases to since=0 (applies to the whole
        # clone history — the clone's v1 files ARE the post-event state)
        if props.get("column_events"):
            props["column_events"] = [
                {**e, "since": 0}
                for e in props["column_events"]
                if int(e.get("since", 0)) <= v
            ]
        # persist the merge key only when one is actually KNOWN: a
        # keyless registration clones through the placeholder key "_",
        # and writing that into _table.json would make a later
        # register_path serve it as a real DML routing key
        if self.key and self.key != "_":
            props["merge_key"] = self.key
        else:
            props.pop("merge_key", None)
        dest_log.write_table_props(props)
        return MergeSink(
            dest,
            key=self.key,
            partition_by=self.partition_by,
            cluster_by=self.cluster_by,
        )

    def vacuum(
        self,
        keep_last: int = 1,
        retention_hours: float | None = None,
        dry_run: bool = False,
    ) -> list[int]:
        """Retention maintenance (S11): physically delete all but the
        newest ``keep_last`` COMMITTED versions; returns the versions
        removed.

        The version directories are what make time travel
        (``version_diff`` / CDC reads) possible, and what makes storage
        grow by one table-copy per merge — vacuum is the explicit,
        destructive trade of history for space, exactly like a table
        format's VACUUM/expire_snapshots. The current version is never
        eligible (``keep_last`` is clamped to >= 1); readers of the
        current version are unaffected, and a concurrent writer's claim
        is numbered above everything vacuumed, so the OCC commit
        protocol is undisturbed. Un-committed stage/torn directories
        are left alone (they belong to in-flight or dead writers).

        ``retention_hours`` switches to AGE-BASED retention (the Delta
        ``VACUUM ... RETAIN n HOURS`` rule): victims are the committed
        versions whose ``committed_at`` stamp is older than the horizon
        — the current version is never eligible regardless of age.
        Timestamps are advisory (wall clock) but nondecreasing in
        version order by construction, so the victim set is always a
        prefix of the version chain. Requires a manifest table.
        """
        import shutil

        committed = _versions(self.path)
        if retention_hours is not None:
            import time

            log = CommitLog(self.path)
            if not log.exists():
                raise FileNotFoundError(
                    f"{self.path} has no commit log (legacy table): "
                    "age-based retention needs committed_at stamps"
                )
            cutoff = int(time.time() * 1000) - retention_hours * 3_600_000
            victims = [
                v
                for v in committed[:-1]  # never the current version
                if int(log.manifest(v).get("committed_at", 0)) < cutoff
            ]
            if dry_run:
                return victims  # report, delete nothing
            for v in victims:
                shutil.rmtree(os.path.join(self.path, f"v{v}"))
            log.retire(victims)
            # the sweep keeps its OWN conservative horizon: the DATA
            # retention may legally be 0 hours, but a live writer's
            # in-flight stage must never be collected under it
            sweep_orphan_stages(self.path)
            return victims
        keep_last = max(1, keep_last)
        victims = committed[:-keep_last] if len(committed) > keep_last else []
        if dry_run:
            return victims  # report, delete nothing
        sweep_orphan_stages(self.path)
        for v in victims:
            shutil.rmtree(os.path.join(self.path, f"v{v}"))
        # retire the victims' manifests too: the _latest hint never
        # regresses and probing starts there, so gaps below are harmless,
        # while a dangling manifest would advertise a vacuumed version
        CommitLog(self.path).retire(victims)
        return victims

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        deletes: DataFrame | None = None,
        max_retries: int = 20,
        allow_evolution: bool = False,
        manifest_extra: dict | None = None,
    ) -> DataFrame:
        """Apply source-wins upserts (and optional key deletes); return the
        new state DataFrame (already durable when this returns).

        Precondition (same contract as SQL MERGE): ``source`` carries at
        most one row per key — dedup upstream (e.g. the reconcile plan's
        first-match semantics) or rows multiply through the full-outer
        join. Concurrent merges are safe: each attempt computes against
        the CURRENT version and commits via the atomic rename in
        ``_write``; a writer that loses the version race re-reads the
        winner's state and recomputes (optimistic concurrency, no lost
        updates), giving up after ``max_retries`` conflicts.

        CONFLICT RULE for overlapping keys (pinned by
        ``tests/test_round14.py::test_concurrent_merge_same_key``): the
        outcome equals SOME serial order of the committed merges —
        retry-with-recompute, so the later committer's source row wins
        the contested key WHOLE-ROW (source rows carry full rows; there
        is no column-level blend of two racing writers), and every key
        only one side touched keeps that side's value. Neither torn
        rows nor lost disjoint updates are possible: the loser's
        recompute starts from the winner's full committed state.

        ``allow_evolution=True`` is automatic schema evolution with
        Delta's WHEN-MATCHED semantics: a column only in the SOURCE is
        added to the table (existing/unmatched rows get NULL — a
        metadata-only backfill, no rewrite of history: old versions keep
        the old schema, the new version carries the union); a column
        only in the TARGET keeps its target value on matched rows
        (updates don't erase what they don't mention) and is NULL on
        inserts. Off by default: an unexpected schema change should be
        an error unless the caller opted in."""
        from .constraints import identity_columns as _idc

        def build(target: DataFrame, props: dict) -> DataFrame:
            # IDENTITY columns (S49) may be ABSENT from the source —
            # matched rows keep their target-side ids (out_col's
            # target-only rule) and NEWLY INSERTED rows get ids
            # assigned by commit_state, above the base's high-water mark
            id_missing = [
                c
                for c in _idc(props)
                if c.lower() not in {x.lower() for x in source.columns}
                and c in target.columns
            ]
            if not allow_evolution and set(source.columns) | set(
                id_missing
            ) != set(target.columns):
                raise ValueError(
                    f"source schema {sorted(source.columns)} != "
                    f"target schema {sorted(target.columns)} "
                    "(pass allow_evolution=True to evolve)"
                )
            k = self.key
            if k not in source.columns:
                raise ValueError(f"source lacks merge key {k!r}")
            out_cols = [c for c in target.columns if c != k] + [
                c for c in source.columns if c not in target.columns and c != k
            ]
            src = source.select(
                F.col(k).alias("__sk"),
                *[
                    F.col(c).alias(f"__s_{c}")
                    for c in source.columns
                    if c != k
                ],
            )

            def out_col(c):
                t_has = c in target.columns
                s_has = c in source.columns
                if t_has and s_has:
                    return (
                        F.when(
                            F.col("__sk").isNotNull(), F.col(f"__s_{c}")
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                if t_has:  # update doesn't mention it: keep target value
                    return F.col(c).alias(c)
                # new column: NULL for rows the source didn't touch
                return (
                    F.when(F.col("__sk").isNotNull(), F.col(f"__s_{c}"))
                    .otherwise(F.lit(None))
                    .alias(c)
                )

            merged = target.join(
                src, F.col(k) == F.col("__sk"), "full_outer"
            ).select(
                F.coalesce(F.col(k), F.col("__sk")).alias(k),
                *[out_col(c) for c in out_cols],
            )
            if deletes is not None:
                merged = merged.join(
                    F.broadcast(deletes.select(F.col(deletes.columns[0]).alias(k))),
                    k,
                    "left_anti",
                )
            return merged

        self.commit_state(
            spark, build, max_retries=max_retries,
            manifest_extra=manifest_extra,
        )
        return self.read(spark)

    def commit_state(
        self,
        spark: SparkSession,
        build,
        max_retries: int = 20,
        manifest_extra: dict | None = None,
    ) -> int:
        """Commit ``build(target, props)`` as the table's next version,
        under optimistic concurrency; return the committed version.

        ``build`` gets the current version's state (a logical read) and
        the table properties, and returns the whole new state. Each
        attempt reads the base and claim number from ONE snapshot and
        commits by the atomic rename in ``_write``; an interleaved
        commit makes the rename fail, and the next attempt calls
        ``build`` again against the winner's version (no lost updates),
        giving up after ``max_retries`` conflicts. Around ``build`` this
        loop owns what every full-state commit shares: identity values
        for rows whose identity columns are NULL, the change-data rows
        of a CDF table, and (in ``_write``) generated columns and
        CHECK / NOT NULL invariants."""
        from .constraints import identity_columns as _idc

        for _ in range(max_retries):
            base, claim = _base_and_claim(self.path)
            # manifest tables read the base through the manifest path:
            # mergeSchema for declared mixed versions (a raw dir scan
            # takes one footer's schema and silently drops columns the
            # other files carry) and the column-mapping overlay (S46 —
            # the target arrives under LOGICAL names, so the merged
            # full state writes logical names: renames compact away)
            if CommitLog(self.path).exists():
                target = self._read_manifest_files(spark, base)[0]
            else:
                target = spark.read.parquet(
                    os.path.join(self.path, f"v{base}")
                )
            props = CommitLog(self.path).table_props()
            merged = build(target, props)
            pin = None
            id_all = [c for c in _idc(props) if c in target.columns]
            if id_all:
                # inserted rows carry NULL in the identity columns:
                # assign above the base's high-water mark (per-file
                # stats, no scan); non-NULL values are the target's own
                # ids round-tripped through kept or updated rows and are
                # preserved. HWM via the shared stats+scan-fallback
                # helper (a stats-lost file must not silently lower the
                # mark), values via the dense seq (mid overflows INT
                # identity — _dense_seq); non-NULL rows leave gaps in
                # the seq, which identity permits (uniqueness, not
                # density, is the contract)
                hwm = self._identity_hwm_for(spark, base, id_all)
                # number ONLY the rows that need new ids: _dense_seq
                # pins and window-shuffles its input, so feeding it the
                # whole state would cost O(table) per OCC attempt; the
                # null slice is payload-sized (r15 ADVICE)
                need_id = F.lit(False)
                for c in id_all:
                    need_id = need_id | F.col(c).isNull()
                keep = merged.filter(~need_id)
                ins, pin = _dense_seq(merged.filter(need_id))
                for c in id_all:
                    typ = target.schema[c].dataType
                    ins = ins.withColumn(
                        c,
                        F.when(
                            F.col(c).isNull(),
                            (F.lit(hwm[c]) + F.col("__seq")).cast(typ),
                        ).otherwise(F.col(c)),
                    )
                merged = keep.unionByName(ins.drop("__seq"))
            cdf_df = None
            if cdf_enabled(props):
                # S51: the commit's change rows — one extra diff join
                # against the base state (the documented CDF write
                # amplification; off unless the table opted in),
                # aligned for evolution like version_diff. Both sides
                # are LOGICAL reads (column-mapping events applied), so
                # renamed/widened tables record events under current
                # names — the r16 apply_events_cdf read overlay handles
                # the members written before the events.
                lo_al, hi_al = target, merged
                for f in hi_al.schema.fields:
                    if f.name not in lo_al.columns:
                        lo_al = lo_al.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                for f in lo_al.schema.fields:
                    if f.name not in hi_al.columns:
                        hi_al = hi_al.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                cdf_df = _diff_frames(lo_al, hi_al, self.key)
            try:
                self._write(
                    merged, claim, cdf_df=cdf_df,
                    manifest_extra=manifest_extra,
                )
            except FileExistsError:
                # lost the version race: if the winner crashed before
                # publishing its manifest, publish it for them so base
                # advances, then recompute vs the new current state
                _heal_claim(self.path, claim)
                continue
            finally:
                # the identity pin lives exactly as long as its write
                if pin is not None:
                    release_checkpoint(pin)
            return claim
        raise RuntimeError(
            f"merge lost the version race {max_retries} times at {self.path}"
        )

    def _write(
        self,
        df: DataFrame,
        version: int,
        cdf_df: DataFrame | None = None,
        manifest_extra: dict | None = None,
    ) -> None:
        """Stage to a hidden dir, then atomically rename onto ``v<N>``,
        then publish the commit's manifest.

        The rename is the claim: POSIX guarantees at most one renamer
        wins the destination name (renaming onto an existing non-empty
        directory fails), so two writers racing the same version number
        can never interleave files in one directory. Raises
        ``FileExistsError`` for the loser; the orphaned stage dir is
        removed best-effort. The manifest (file list + footer stats,
        assembled from the stage BEFORE the rename — the file set is
        final once staged) is what makes the commit visible to
        listing-free readers; a crash between rename and publish is
        recovered by the next writer's heal path."""
        log = CommitLog(self.path)
        first_manifest_era = not log.exists()
        # table invariants (CHECK / NOT NULL) ride inside the write job —
        # a violating row throws before the stage is renamed, so the
        # version never advances on bad data (no-op when none declared)
        from .constraints import apply_generated, apply_invariants

        _props = log.table_props()
        df = apply_invariants(apply_generated(df, _props), _props)
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        if self.cluster_by is not None:
            col, n = self.cluster_by
            df = df.repartitionByRange(n, F.col(col))
        w = df.write.mode("errorifexists")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        try:
            w.parquet(stage)
            if cdf_df is not None:
                # S51: the commit's change rows ride INSIDE the staged
                # dir (cdf/ member -> role "cdf" in the manifest) so the
                # feed commits atomically with the data it describes
                cdf_df.write.mode("errorifexists").parquet(
                    os.path.join(stage, "cdf")
                )
            manifest = build_manifest(
                version, stage, bloom_on=self.bloom_on
            )
            if cdf_df is not None:
                manifest["cdf"] = True
            if manifest_extra:
                manifest.update(manifest_extra)
            # visibility inheritance (sinks/txn.py): built on a pending
            # multi-table-txn base -> invisible until that txn commits
            from .txn import inherit_pending

            inherited = inherit_pending(log, version)
            own_txn = (manifest_extra or {}).get("txn")
            if own_txn:
                # a commit published FOR a transaction (S53 cow_delta) does
                # not "inherit" its own marker
                inherited = [
                    t for t in inherited if t.get("id") != own_txn.get("id")
                ]
            if inherited:
                manifest["txn_inherited"] = inherited
            stamp: dict = {}
            if own_txn:
                stamp["txn"] = own_txn
            if inherited:
                stamp["txn_inherited"] = inherited
            if stamp:
                # persist the txn identity WITH the staged files (the _TXN
                # stamp build_manifest restores): a crash between the
                # rename claim and publish is healed from the directory —
                # without the stamp the healed manifest would lose the
                # marker and leak pending data into visibility
                import json as _json

                from .manifest import _TXN_STAMP

                with open(os.path.join(stage, _TXN_STAMP), "w") as fh:
                    _json.dump(stamp, fh, separators=(",", ":"))
        except BaseException:
            # a failed write job (e.g. a CHECK violation) must not
            # leave its partial stage beside the versions
            shutil.rmtree(stage, ignore_errors=True)
            raise
        final = os.path.join(self.path, f"v{version}")
        try:
            os.rename(stage, final)
        except OSError as exc:
            import errno

            shutil.rmtree(stage, ignore_errors=True)
            # Only a destination-already-exists failure is a version race;
            # everything else (EACCES, ENOENT on a deleted table root,
            # EXDEV, ...) is a real error and must not trigger a recompute.
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                raise FileExistsError(
                    f"version v{version} already committed"
                ) from exc
            raise
        log.publish(manifest)
        if first_manifest_era:
            # this commit upgraded a legacy (pre-manifest) table: bring
            # its existing history into the log so versions()/time
            # travel/vacuum keep seeing every committed version
            log.backfill_legacy()
