"""Versioned parquet tables: a native transaction log giving the
Delta-lake behaviors the reference relies on — atomic commits,
snapshot-isolation reads, time travel, history, MERGE, schema
overwrite, vacuum — without the Delta jars (absent in this container;
``sources.save_table`` keeps the import-gated real-Delta upgrade).

Reference parity: the reference persists every derived table as Delta
with ``overwriteSchema`` (01_aml_network_analysis.py:245, :322, :358,
:378, :461; 03_aml_entity_resolution.py:68) and reads them back by
name. This module reproduces the OBSERVABLE contract of that usage:

- **Atomic commit**: data files land under ``data/`` first; a commit
  is one exclusive-create (``open(..., 'x')``) of the next manifest
  ``_log/<version>.json`` listing exactly its visible files. Readers
  resolve a manifest, then read only its files — a crashed writer
  leaves orphan data files but never a half-visible table.
- **Optimistic concurrency**: two writers racing to the same version
  number — the second exclusive-create raises ``FileExistsError`` →
  surfaced as ``CommitConflict`` (Delta's ConcurrentAppendException
  shape). The loser re-reads and retries. A ``merge()`` after a
  ``read(spark)`` on the same thread and handle is based on that read,
  so a read-modify-write conflicts instead of overwriting a commit
  that landed in between.
- **Snapshot isolation / time travel**: ``read(spark)`` pins the
  latest committed manifest at call time; ``read(spark, version=N)``
  / ``read(spark, as_of_ts=...)`` replay any retained version.
- **Schema overwrite**: ``mode="overwrite"`` manifests a fresh file
  set — the new schema simply wins (overwriteSchema semantics);
  ``append`` refuses a mismatched schema instead of corrupting the
  union (names+types compared, nullability ignored).
- **Vacuum**: deletes data files referenced ONLY by dropped manifests
  (and orphans from crashed writers), keeping the last ``retain``
  versions — never a file a retained manifest lists, and never an
  unreferenced file younger than the grace window (it may belong to a
  writer mid-commit; Delta's retention-hours floor, same reason).

Scale posture: the log holds FILE LISTS, not data — manifests are
O(files) JSON and the exclusive-create is one metadata op, so commit
cost is independent of table size. Readers plan directly from the
manifest (no directory listing — the same reason Delta/Iceberg beat
raw parquet dirs at 100 TB). On an object store the exclusive-create
maps to a conditional PUT (if-none-match), the one primitive this
design needs.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic
    concurrency); re-read the table and retry."""


@dataclass
class _Manifest:
    version: int
    operation: str
    timestamp: float
    files: list[str]
    schema: str
    #: per-file column stats for data skipping: {file: {col: [min, max]}}
    stats: dict | None = None
    #: free-form commit metadata (e.g. {"batch_id": N} for the
    #: streaming sink's exactly-once replay guard)
    meta: dict | None = None


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _schema_key(df_schema) -> str:
    # names + types only: nullability differs between writers reading
    # the same logical data and must not poison appends
    return json.dumps([(f.name, f.dataType.simpleString()) for f in df_schema.fields])


def _footer_stats(file_path: str, cols: list[str]) -> dict:
    """[min, max] per requested column from the parquet footer's
    row-group statistics (driver-side metadata read, no data scan).
    Columns with missing/untyped stats are omitted — absence means
    "can't skip", never "skip wrongly". Only JSON-safe scalar types
    are recorded (numbers/strings); binary/temporal mins fall back to
    no-stats for the same reason."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(file_path)
    names = {c: i for i, c in enumerate(md.schema.names)}
    out: dict = {}
    for col in cols:
        idx = names.get(col)
        if idx is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None:
            out[col] = [lo, hi]
    return out


class VersionedTable:
    """A path-addressed versioned parquet table (see module docstring).

    >>> t = VersionedTable("/tmp/tbl")
    >>> v1 = t.write(df)                       # append -> version 1
    >>> v2 = t.write(df2, mode="overwrite")    # schema may change
    >>> t.read(spark)                          # latest snapshot
    >>> t.read(spark, version=v1)              # time travel
    """

    def __init__(self, path: str) -> None:
        self.path = path
        # per thread: the head version it last read through this
        # handle (see merge)
        self._head_read = threading.local()
        os.makedirs(_log_dir(path), exist_ok=True)
        os.makedirs(_data_dir(path), exist_ok=True)

    # -- log ----------------------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(_log_dir(self.path))
            if f.endswith(".json")
        )

    def _load(self, version: int) -> _Manifest:
        with open(_manifest_path(self.path, version)) as f:
            d = json.load(f)
        return _Manifest(**d)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def history(self, spark: SparkSession) -> DataFrame:
        """(version, operation, timestamp, n_files) — Delta's
        DESCRIBE HISTORY face."""
        rows = [
            (m.version, m.operation, m.timestamp, len(m.files))
            for m in (self._load(v) for v in self.versions())
        ]
        return spark.createDataFrame(
            rows, "version int, operation string, timestamp double, n_files int"
        )

    # -- write --------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        stats_cols: list[str] | None = None,
        operation: str | None = None,
        meta: dict | None = None,
        merge_schema: bool = False,
        checks: dict[str, str] | None = None,
        expected_base: int | None = None,
    ) -> int:
        """Stage ``df`` as parquet files, then commit them as the next
        version. Returns the committed version number. Raises
        :class:`CommitConflict` if another writer won the version race
        (caller retries), ``ValueError`` on an append schema mismatch.

        ``stats_cols`` records per-file [min, max] for those columns in
        the manifest (read from the parquet footers the write just
        produced — no extra data pass), enabling manifest-level file
        skipping in :meth:`read` — the Delta/Iceberg data-skipping
        design: prune from metadata before Spark ever lists a file.
        ``meta`` rides along in the manifest (e.g. the streaming sink's
        batch id); ``operation`` overrides the history label.

        ``merge_schema=True`` permits ADDITIVE append evolution (Delta's
        mergeSchema): every existing column must keep its name+type, new
        columns are appended to the recorded schema and read back as
        NULL for pre-evolution files (reads always apply the manifest's
        recorded schema, so old files project the union without a
        mergeSchema footer sweep).

        ``checks`` are CHECK constraints ({name: boolean SQL expr}):
        rows violating any expression abort the write BEFORE anything
        stages (one counting action over df; NULL = violation, same
        rule as operators.expectations).

        ``expected_base`` pins READ-SET VALIDATION for writes derived
        from a snapshot (merge/compact): the commit targets exactly
        ``expected_base + 1``, so a concurrent commit that bumped the
        head past ``expected_base`` trips the manifest exclusive-create
        and surfaces :class:`CommitConflict` for the caller to re-read
        and retry — instead of silently overwriting on top of a stale
        snapshot and discarding the concurrent commit's rows (Delta's
        ConcurrentAppendException semantics; r5 advice, medium). When
        ``None`` (plain append/overwrite, no read dependency) the write
        targets the current head + 1 as before. ``expected_base=0``
        pins "I read the table as EMPTY": the commit targets version 1
        exclusively, so a racing first writer surfaces as a conflict
        rather than this write landing at version 2 on top of state it
        never saw (the streaming sink's empty-table bootstrap case).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if checks:
            from pyspark.sql import functions as F

            # ONE aggregate pass for every constraint (the same
            # conditional-count shape as operators.expectations; a
            # per-check filter+count would re-execute df's lineage
            # once per rule) — NULL counts as a violation.
            counts = df.agg(
                *[
                    F.sum(
                        (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
                    ).alias(name)
                    for name, expr in checks.items()
                ]
            ).collect()[0]
            violated = [n for n in checks if (counts[n] or 0) > 0]
            if violated:
                raise ValueError(
                    f"CHECK constraint violated: {violated[0]} ({checks[violated[0]]})"
                )
        if expected_base is None:
            base = self.latest_version()
        else:
            base = expected_base if expected_base > 0 else None  # 0 = pinned-empty
        prev = self._load(base) if base is not None else None
        schema_key = _schema_key(df.schema)
        if mode == "append" and prev is not None and prev.files:
            if prev.schema != schema_key:
                prev_fields = json.loads(prev.schema)
                new_fields = json.loads(schema_key)
                additive = merge_schema and all(f in new_fields for f in prev_fields)
                if not additive:
                    raise ValueError(
                        "append schema mismatch; use mode='overwrite' or "
                        "merge_schema=True for additive evolution "
                        f"(table {prev.schema} vs df {schema_key})"
                    )
                # union: existing order first, then the added columns
                schema_key = json.dumps(
                    prev_fields + [f for f in new_fields if f not in prev_fields]
                )
        # stage: spark writes a scratch dir; unique-rename the parts in.
        # The move is WITHIN the table directory (same filesystem), so
        # it's a metadata rename, and uncommitted files are invisible —
        # readers only see manifest-listed names.
        scratch = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(scratch)
        new_files = []
        for f in sorted(os.listdir(scratch)):
            if f.endswith(".parquet"):
                name = f"part-{uuid.uuid4().hex}.parquet"
                os.rename(os.path.join(scratch, f), os.path.join(_data_dir(self.path), name))
                new_files.append(name)
        shutil.rmtree(scratch, ignore_errors=True)

        new_stats: dict = {}
        if stats_cols:
            for name in new_files:
                s = _footer_stats(
                    os.path.join(_data_dir(self.path), name), stats_cols
                )
                if s:
                    new_stats[name] = s

        carried = prev.files if (mode == "append" and prev is not None) else []
        carried_stats = (
            dict(prev.stats or {}) if (mode == "append" and prev is not None) else {}
        )
        carried_stats.update(new_stats)
        manifest = _Manifest(
            version=(base or 0) + 1,
            operation=operation or mode,
            timestamp=time.time(),
            files=carried + new_files,
            schema=schema_key,
            stats=carried_stats or None,
            meta=meta,
        )
        return self._commit_manifest(manifest)

    def _commit_manifest(self, manifest: _Manifest) -> int:
        """THE commit protocol — the single definition write() and
        restore() share (review finding: two hand-maintained copies of
        the atomicity-critical block drift). Publish the fully-written
        tmp under the final name via exclusive-create hard link;
        EEXIST = lost the optimistic race (staged data files become
        orphans; vacuum reclaims them after its grace period). On an
        object store this maps to a conditional PUT."""
        tmp = _manifest_path(self.path, manifest.version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest.__dict__, f)
        try:
            os.link(tmp, _manifest_path(self.path, manifest.version))
        except FileExistsError as e:
            raise CommitConflict(
                f"version {manifest.version} already committed"
            ) from e
        finally:
            os.unlink(tmp)
        # this thread's own commit right after its head read keeps
        # that read current (nothing else landed in between)
        if getattr(self._head_read, "version", None) == manifest.version - 1:
            self._head_read.version = manifest.version
        return manifest.version

    # -- read ---------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ts: float | None = None,
        prune: tuple[str, object, object] | None = None,
    ) -> DataFrame:
        """Snapshot read: latest by default, or time travel by version
        number / timestamp (last version committed at or before
        ``as_of_ts``).

        ``prune=(col, lo, hi)`` applies manifest-level data skipping:
        files whose recorded [min, max] for ``col`` cannot intersect
        [lo, hi] are dropped from the scan BEFORE Spark plans it, and
        the matching filter is also applied row-wise (so pruning is an
        optimization, never a semantics change; files without recorded
        stats are conservatively kept). Pass ``None`` for an open
        bound. This is the metadata half of predicate pushdown — at
        100 TB it's the difference between listing 10^6 files and the
        handful a time-range query touches."""
        if version is not None and as_of_ts is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no committed versions at {self.path}")
        if as_of_ts is not None:
            eligible = [v for v in vs if self._load(v).timestamp <= as_of_ts]
            if not eligible:
                raise ValueError(f"no version committed at or before {as_of_ts}")
            version = eligible[-1]
        elif version is None:
            version = vs[-1]
            self._head_read.version = version
        m = self._load(version)
        if prune is not None and m.files:
            m = _Manifest(**{**m.__dict__, "files": self._prune_files(m, prune)})
        if not m.files:
            # an overwrite with an empty DataFrame: preserve emptiness
            # with the recorded schema
            names_types = json.loads(m.schema)
            ddl = ", ".join(f"`{n}` {t}" for n, t in names_types)
            return spark.createDataFrame([], ddl)
        paths = [os.path.join(_data_dir(self.path), f) for f in m.files]
        # Always read under the manifest's RECORDED schema: files from
        # before an additive evolution project the union (missing
        # columns read as NULL) with no mergeSchema footer sweep, and
        # column order is deterministic regardless of file order.
        names_types = json.loads(m.schema)
        ddl = ", ".join(f"`{n}` {t}" for n, t in names_types)
        df = spark.read.schema(ddl).parquet(*paths)
        if prune is not None:
            from pyspark.sql import functions as F

            col, lo, hi = prune
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def _prune_files(
        self, m: _Manifest, prune: tuple[str, object, object]
    ) -> list[str]:
        col, lo, hi = prune
        stats = m.stats or {}
        kept = []
        for f in m.files:
            s = stats.get(f, {}).get(col)
            if s is None:
                kept.append(f)  # no stats -> can't skip safely
                continue
            fmin, fmax = s
            if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
                continue  # provably disjoint from [lo, hi]
            kept.append(f)
        return kept

    # -- merge --------------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str],
        meta: dict | None = None,
        snapshot_version: int | None = None,
        **merge_kwargs,
    ) -> int:
        """MERGE INTO (Delta's upsert face): rewrite the latest
        snapshot merged with ``source`` as a new version. Reuses
        ``operators.merge_into`` (the hash-attested MERGE semantics —
        ``matched_delete`` / ``when_not_matched`` pass through) so the
        versioned face and the in-memory face can't diverge. The
        operation label and ``meta`` ride in the SAME commit — a
        post-commit annotation rewrite would leave a window where the
        manifest exists without its metadata (review finding: the
        streaming sink's exactly-once ledger depended on exactly that
        window never being observed).

        The snapshot version is PINNED at read time and passed to
        write() as the expected base, so a concurrent commit landing
        between the snapshot read and this merge's commit raises
        :class:`CommitConflict` (re-read and retry) instead of being
        silently overwritten (r5 advice, medium: the previous shape
        re-resolved the head at commit time and could discard an
        interleaved append without any error).

        ``snapshot_version`` lets a caller that already resolved the
        head (the streaming sink, which must derive its replay ledger
        from the SAME version the commit is based on) pin it
        explicitly. By default the current head is pinned here, and if
        this thread read the head through this handle (``read(spark)``
        with no version) since its last merge, that read must still be
        the head: a ``source`` computed from it is stale once anything
        else commits, so the merge raises :class:`CommitConflict`
        rather than lose that commit's update. The read is used up
        either way: a retry that does not read again pins the head."""
        from anti_money_laundering_spark.operators import merge_into

        if snapshot_version is not None:
            snapshot_v = snapshot_version
        else:
            snapshot_v = self.latest_version()
            read_v = self._head_read.__dict__.pop("version", None)
            if read_v is not None and read_v != snapshot_v:
                raise CommitConflict(
                    f"version {read_v} read by this thread is no longer the head ({snapshot_v})"
                )
        if snapshot_v is None:
            raise FileNotFoundError(f"no committed versions at {self.path}")
        target = self.read(spark, version=snapshot_v)
        merged = merge_into(target, source, on=on, **merge_kwargs)
        return self.write(
            merged,
            mode="overwrite",
            operation="merge",
            meta=meta,
            expected_base=snapshot_v,
        )

    # -- change data feed ---------------------------------------------
    def diff(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        on: list[str],
    ) -> DataFrame:
        """Change-data-feed between two retained versions (Delta CDF's
        observable shape): one row per changed key with op I/U/D and
        before/after structs, via ``operators.table_diff`` over the two
        snapshot reads — so ``merge_into(read(from), diff)`` reproduces
        ``read(to)`` exactly (table_diff's pinned inverse)."""
        from anti_money_laundering_spark.operators import table_diff

        return table_diff(
            self.read(spark, version=from_version),
            self.read(spark, version=to_version),
            on=on,
        )

    # -- restore ------------------------------------------------------
    def restore(self, version: int) -> int:
        """RESTORE (Delta's table rollback): commit a NEW version whose
        file set, schema, and stats are those of ``version`` — history
        is preserved (the bad versions stay time-travelable until
        vacuum), the head just points back. The restored manifest
        shares data files with the source version; vacuum keeps them
        as long as either manifest is retained."""
        src = self._load(version)
        manifest = _Manifest(
            version=(self.latest_version() or 0) + 1,
            operation=f"restore(v{version})",
            timestamp=time.time(),
            files=list(src.files),
            schema=src.schema,
            stats=dict(src.stats) if src.stats else None,
            meta=None,
        )
        return self._commit_manifest(manifest)

    # -- maintenance --------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_bits: int = 16,
    ) -> int:
        """OPTIMIZE: rewrite the latest snapshot into ``target_files``
        files as a new version (operation='optimize'). Logical content
        is untouched — only the file layout changes (small-file
        compaction after many streaming/append commits).
        Snapshot-pinned like merge(): a concurrent commit during the
        rewrite raises CommitConflict instead of being lost.

        ``cluster_by`` is OPTIMIZE ZORDER (Delta's clustering face):
        one column range-clusters the rewrite on that column; two to
        four columns range-cluster on their Morton interleave
        (functions.morton_code_n — ``cluster_bits`` per dimension,
        auto-shrunk so n x bits fits a signed long), so each output
        file covers a narrow range in EVERY dimension and a
        ``read(prune=...)`` selective in ANY clustered column skips
        most files from the manifest stats alone. Without clustering,
        min/max ranges of arrival-ordered files all overlap and
        pruning degenerates to scanning everything — at 100 TB the
        clustered rewrite is the difference between data skipping
        working and merely existing. stats for ``cluster_by`` columns
        are always recorded (union'd into ``stats_cols``).

        Cluster values are first linearly rescaled from their OBSERVED
        [min, max] (one bounded agg over the snapshot) into the
        ``cluster_bits``-wide bucket domain before interleaving —
        morton_code masks raw values to its bit width, so without the
        rescale any domain wider than 2^bits (or negative, whose
        two's-complement low bits interleave meaninglessly) silently
        aliased and clustering quality degraded to near-random (r6
        advice). Pruning correctness never depended on this — file
        stats are recorded on the real columns — but the LAYOUT now
        actually clusters for arbitrary numeric domains."""
        snapshot_v = self.latest_version()
        if snapshot_v is None:
            raise FileNotFoundError(f"no committed versions at {self.path}")
        df = self.read(spark, version=snapshot_v)
        if cluster_by:
            if not 1 <= len(cluster_by) <= 4:
                raise ValueError("cluster_by takes one to four columns")
            from pyspark.sql import functions as F

            from anti_money_laundering_spark.functions import morton_code_n

            if len(cluster_by) == 1:
                key = F.col(cluster_by[0])
            else:
                # per-dimension bit width shrinks so n dims fit a long
                cluster_bits = min(cluster_bits, 63 // len(cluster_by))
                n_buckets = 1 << cluster_bits
                bounds = df.agg(
                    *(F.min(c).alias(f"mn{i}") for i, c in enumerate(cluster_by)),
                    *(F.max(c).alias(f"mx{i}") for i, c in enumerate(cluster_by)),
                ).collect()[0]

                from pyspark.sql.types import IntegralType

                def _bucket(i: int) -> Column:
                    mn, mx = bounds[f"mn{i}"], bounds[f"mx{i}"]
                    if mn is None or mx is None or mx <= mn:
                        return F.lit(0).cast("long")
                    # +1 widens the span only for integral domains (so
                    # the max value maps inside the top bucket, not past
                    # it); for continuous domains it would compress the
                    # layout into a prefix of the bucket range (review
                    # finding: a [0,1] double column used half the
                    # buckets) — divide by the exact width and let the
                    # clamp below absorb the mx edge instead.
                    integral = isinstance(
                        df.schema[cluster_by[i]].dataType, IntegralType
                    )
                    span = float(mx) - float(mn) + (1.0 if integral else 0.0)
                    scaled = F.floor(
                        (F.col(cluster_by[i]).cast("double") - float(mn))
                        / span
                        * n_buckets
                    )
                    # clamp: float rounding at the top edge, NULLs to 0
                    return F.coalesce(
                        F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), scaled)),
                        F.lit(0),
                    ).cast("long")

                key = morton_code_n(
                    [_bucket(i) for i in range(len(cluster_by))], bits=cluster_bits
                )
            df = (
                df.withColumn("__zkey", key)
                .repartitionByRange(target_files, F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
            stats_cols = sorted(set(stats_cols or []) | set(cluster_by))
        else:
            df = df.coalesce(target_files)
        return self.write(
            df,
            mode="overwrite",
            operation="optimize" if not cluster_by else f"optimize(zorder={','.join(cluster_by)})",
            stats_cols=stats_cols,
            expected_base=snapshot_v,
        )

    # -- streaming sink -----------------------------------------------
    def stream_sink(self, on: list[str] | None = None, app_id: str = "default"):
        """``foreachBatch`` function giving EXACTLY-ONCE streaming
        writes into the versioned table: each micro-batch commits one
        version carrying its batch id in the manifest ``meta``; a
        REPLAYED batch (post-crash re-delivery) finds its id already
        committed and skips — the dedupe ledger is the transaction log
        itself, no side state. With ``on`` the batch MERGEs (streaming
        upsert — Delta's `foreachBatch + MERGE` recipe); without, it
        appends.

        ``app_id`` scopes the ledger per streaming query (Delta's
        txnAppId): batch ids restart at 0 whenever a NEW query (fresh
        checkpoint dir) targets the table, so an unscoped max would
        silently discard every batch of the successor query (r6 review
        finding). Distinct queries writing the same table must pass
        distinct app ids; a RESTARTED query must keep its app id (same
        checkpoint = same id sequence = the replay case the guard is
        for).

        >>> q = stream.writeStream.foreachBatch(t.stream_sink(on=["k"]))
        """

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            # Replay guard (Delta's txnAppId/txnVersion rule): within
            # one app, batch ids are delivered in order, so ANY id <=
            # that app's max ever committed is a re-delivery — skip it.
            # The per-app max map is carried forward in every sink
            # commit (r5 advice, low: the guard previously matched
            # exact batch_id values in retained manifests, so a vacuum
            # that dropped the manifest carrying a later re-delivered
            # id let the batch re-apply as a duplicate; vacuum also
            # refuses to drop the newest batch-bearing manifest, so the
            # carried map survives log truncation).
            #
            # TOCTOU closure (r6 advice, medium): the carried map MUST
            # be derived from the commit's immediate parent, or a
            # commit by app A landing between our ledger read and our
            # commit gets its max rolled back by our stale map (A's
            # next crash-replay would then re-apply as duplicates). So:
            # pin the base version, read the ledger AS OF that base,
            # commit with expected_base=base (the empty table pins as
            # base 0), and on CommitConflict re-read from the new
            # parent and retry — the carried map is always derived from
            # the version the commit sits on.
            for _attempt in range(100):  # bounded: a livelock should raise, not spin
                base = self.latest_version()
                ledger = (
                    self._committed_batch_ledger(as_of=base) if base is not None else {}
                )
                last = ledger.get(app_id)
                if last is not None and batch_id <= last:
                    return  # replayed batch: already committed
                batch_meta = {
                    "app_id": app_id,
                    "batch_id": batch_id,
                    "max_batch_ids": {**ledger, app_id: batch_id},
                }
                try:
                    if on is not None and base is not None:
                        # meta rides in the SAME commit as the merge — no
                        # annotation window for a crash to split (merge());
                        # the merge snapshot is pinned to the SAME base the
                        # ledger was read at.
                        self.merge(
                            batch_df.sparkSession,
                            batch_df,
                            on=on,
                            meta=batch_meta,
                            snapshot_version=base,
                        )
                    else:
                        self.write(
                            batch_df,
                            mode="append",
                            meta=batch_meta,
                            expected_base=base if base is not None else 0,
                        )
                    return
                except CommitConflict:
                    continue  # head moved: re-derive the ledger from it
            raise CommitConflict(
                f"stream_sink app {app_id!r} batch {batch_id}: 100 consecutive "
                f"commit conflicts at {self.path} — writer livelock"
            )

        return _sink

    def _committed_batch_ledger(self, as_of: int | None = None) -> dict:
        """{app_id: max committed batch id} across all stream_sink
        commits, as of version ``as_of`` (default: the whole log).
        Bounded scan on modern logs: stops at the first manifest
        carrying the full ``max_batch_ids`` map from the tail — sink
        commits carry the whole map forward, so the newest carrying
        manifest holds every app's max (interleaved non-sink commits
        carry no meta and are skipped).

        Pre-carry manifests (``max_batch_id`` = r6 pre-scoping single
        'default' max; ``batch_id`` = per-commit id) are PARTIAL
        evidence: the scan keeps walking older manifests and unions
        per-app maxes until a full-carry manifest (or the log head) is
        reached (r6 advice, low: returning at the first pre-carry hit
        lost every other app's max on multi-writer pre-upgrade logs,
        permitting one duplicate replay per lost app). Legacy logs pay
        a full scan once; the next sink commit writes the full map and
        restores the O(1) tail read."""
        acc: dict = {}
        for v in reversed(self.versions()):
            if as_of is not None and v > as_of:
                continue
            try:
                meta = self._load(v).meta or {}
            except FileNotFoundError:
                continue  # a racing vacuum dropped this manifest
            if "max_batch_ids" in meta:
                carried = dict(meta["max_batch_ids"])
                for app, b in acc.items():  # newer pre-carry ids win
                    carried[app] = max(carried.get(app, b), b)
                return carried
            if "max_batch_id" in meta:  # r6 pre-scoping manifests
                acc.setdefault("default", meta["max_batch_id"])
            elif "batch_id" in meta:  # pre-carry manifests (back-compat)
                app = meta.get("app_id", "default")
                acc.setdefault(app, meta["batch_id"])
        return acc

    def _last_committed_batch_id(self) -> int | None:
        """Back-compat face of :meth:`_committed_batch_ledger` for the
        single-app ('default') case."""
        return self._committed_batch_ledger().get("default")

    # -- vacuum -------------------------------------------------------
    def vacuum(self, retain: int = 2, orphan_grace_s: float = 600.0) -> list[str]:
        """Drop manifests older than the last ``retain`` versions and
        delete data files no RETAINED manifest references (this also
        reclaims orphans from crashed/conflicted writers). Returns the
        deleted file names.

        ``orphan_grace_s``: an UNREFERENCED file younger than this is
        kept — it may belong to an IN-FLIGHT writer that has moved its
        parts into ``data/`` but not yet won the manifest
        exclusive-create (review finding: without the grace window,
        vacuum racing a live write deletes files the writer then
        commits, corrupting that version — the same reason Delta's
        VACUUM has a retention-hours floor). Pass 0 only when no
        writer can be active.

        Two r5-advice hardenings: (1) expired MANIFESTS are unlinked
        BEFORE their data files, and the unlink tolerates
        FileNotFoundError — a reader racing vacuum now fails fast with
        "no such version" instead of resolving a manifest whose files
        are already gone mid-scan, and two concurrent vacuums no longer
        crash on the manifest unlink; (2) the NEWEST batch-bearing
        manifest is never dropped even when it falls outside ``retain``
        — it is the stream sink's exactly-once ledger (carries
        ``max_batch_id``), and truncating it would let a post-vacuum
        crash-recovery replay re-apply an old batch as duplicates."""
        if retain < 1:
            raise ValueError("retain must be >= 1 (never drop the head)")
        vs = self.versions()
        keep_vs = set(vs[-retain:])
        # preserve the exactly-once ledger: the newest manifest whose
        # meta carries a batch id stays, whatever its age
        for v in reversed(vs):
            try:
                meta = self._load(v).meta or {}
            except FileNotFoundError:
                continue  # another vacuum raced us
            if "max_batch_ids" in meta or "max_batch_id" in meta or "batch_id" in meta:
                keep_vs.add(v)
                break
        referenced: set[str] = set()
        for v in sorted(keep_vs):
            try:
                referenced.update(self._load(v).files)
            except FileNotFoundError:
                keep_vs = keep_vs - {v}  # a racing vacuum dropped it
        # 1) drop expired manifests FIRST (guarded): readers then fail
        # fast with "no such version" rather than chasing deleted files
        for v in vs:
            if v in keep_vs:
                continue
            try:
                os.unlink(_manifest_path(self.path, v))
            except FileNotFoundError:
                pass  # another vacuum raced us
        # 2) then reclaim data files no retained manifest references
        now = time.time()
        deleted = []
        for f in os.listdir(_data_dir(self.path)):
            if f in referenced:
                continue
            full = os.path.join(_data_dir(self.path), f)
            try:
                age = now - os.path.getmtime(full)
            except FileNotFoundError:
                continue  # another vacuum raced us
            if age < orphan_grace_s:
                continue  # possibly an in-flight writer's staged file
            try:
                os.unlink(full)
            except FileNotFoundError:
                continue  # another vacuum raced us
            deleted.append(f)
        return sorted(deleted)
