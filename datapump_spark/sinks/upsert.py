"""Idempotent primary-key upsert sinks.

The reference's sink is CKAN ``datastore_upsert(method='upsert')`` — a
PostgreSQL upsert keyed on the PK declared at create time
(datapump.py:560-566,594), plus truncate (datastore_delete,
datapump.py:545-555) and metadata stamping (datapump.py:616-630). Spark has
no native upsert, so two profiles:

- ``ParquetMergeSink`` — lake profile for local/testing: MERGE emulated as
  anti-join(current-in-affected-buckets, batch-keys) ∪ batch. Tables live
  in versioned directories behind an atomic pointer file (os.replace), so
  a crash never leaves a missing/torn table, and upserted tables are
  partitioned by a PK hash bucket (``pk_bucket``) so a batch rewrites ONLY
  the buckets containing its keys — unaffected buckets are hardlinked into
  the new version, byte-identical, O(1) data movement. At production scale
  the same call shape maps to Delta ``MERGE INTO`` (log-backed ACID,
  partition-pruned merge-on-read); this class documents the seam and keeps
  semantics testable with zero extra dependencies. Single-writer: version
  GC assumes no concurrent reader holds a superseded version (Delta's log
  is the multi-writer answer).
- ``JdbcUpsertSink`` — CKAN-datastore-parity profile: per-partition batched
  ``INSERT … ON CONFLICT (pk) DO UPDATE`` through a user-supplied DB-API
  connection factory (no driver baked into the engine). Writes happen on
  executors via ``foreachPartition`` — the driver never materializes rows
  (the reference's ``to_dict('records')`` full-copy, datapump.py:475, is
  exactly what this avoids).

Scale notes: the merge anti-join shuffles on the PK — the same key the
dedupe stage already partitioned by, so AQE reuses the exchange; a Delta
profile would additionally prune merge targets by partition column. JDBC
batches default to 1000 rows/execute to bound round-trips.
"""

from __future__ import annotations

import json
import re
import shutil
import time
from collections.abc import Callable, Sequence
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference description stamp: '… (UPDATED: 2021-01-01 00:00:00)' appended /
# rewritten in place (datapump.py:616-630, regex datapump.py:618).
_UPDATED_RE = re.compile(r" \(UPDATED: (.*?)\)$")


BUCKET_COL = "pk_bucket"
# CDC delete marker column (apply_cdc): deletes are retained as marker
# rows so late out-of-order updates older than the delete stay dead.
TOMBSTONE_COL = "__tombstone"


class ParquetMergeSink:
    """Directory-per-table parquet sink with PK-upsert semantics.

    On-disk layout (crash-atomic via the pointer file)::

        root/<table>/_current            # text: name of the live version
        root/<table>/v-<ns>/             # overwrite(): plain parquet
        root/<table>/v-<ns>/pk_bucket=N/ # upsert(): hash-bucketed parquet

    ``_current`` is flipped with ``os.replace`` (atomic on POSIX), so a
    reader always resolves a complete version; a crash mid-write leaves
    only an orphan ``v-*`` dir that the next successful publish removes.
    """

    def __init__(self, root: str | Path, n_buckets: int = 16,
                 retain_versions: int = 1):
        """``retain_versions`` > 1 keeps that many published versions on
        disk for time travel (:meth:`read` with ``version=``,
        :meth:`versions`). Retention is CHEAP for upsert tables: a new
        version hardlinks every unaffected bucket's files, so N retained
        versions share all unchanged bytes — the storage bill is the
        per-version deltas plus one inode table, the same economics as a
        lakehouse transaction log. Default 1 = publish-and-GC."""
        self.root = Path(root)
        self.n_buckets = n_buckets
        self.retain_versions = max(1, int(retain_versions))
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        return self.root / table

    def _pointer(self, table: str) -> Path:
        return self.path(table) / "_current"

    def current_version(self, table: str) -> Path | None:
        p = self._pointer(table)
        if not p.exists():
            return None
        return self.path(table) / p.read_text().strip()

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def read(self, spark: SparkSession, table: str,
             version: str | None = None) -> DataFrame:
        # mergeSchema: after an add-column upsert, unaffected buckets
        # still hold old-schema files (hardlinked, deliberately not
        # rewritten) — without footer merging Spark would resolve the
        # table schema from an arbitrary file and could silently drop
        # the new column (schema-evolution test pins this). Delta keeps
        # schema in the log; a parquet sink pays the footer scan instead.
        #
        # ``version`` = time travel: any name from :meth:`versions`
        # (requires retain_versions > 1 at write time).
        if version is None:
            vdir = self.current_version(table)
        elif version in self.versions(table):
            vdir = self.path(table) / version
        else:
            raise ValueError(
                f"version {version!r} of table {table!r} is not retained "
                f"(have: {self.versions(table)})")
        df = spark.read.option("mergeSchema", "true").parquet(str(vdir))
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def _history_path(self, table: str) -> Path:
        return self.path(table) / "_history"

    def versions(self, table: str) -> list[str]:
        """Published, still-retained version names, oldest → newest (the
        last entry is the live version)."""
        p = self._history_path(table)
        if not p.exists():
            cur = self.current_version(table)
            return [cur.name] if cur is not None else []
        return [v for v in p.read_text().split() if v]

    def _publish(self, table: str, version: str) -> None:
        """Atomically flip the pointer to ``version``, record it in the
        publish history, then GC versions beyond the retention window —
        plus any orphan dir that was never published (crash leftovers).
        Single-writer assumption, see module docstring."""
        tdir = self.path(table)
        history = [v for v in self.versions(table) if v != version]
        history.append(version)
        kept = history[-self.retain_versions:]
        tmp = tdir / f"._hist-{time.time_ns()}"
        tmp.write_text("\n".join(kept) + "\n")
        tmp.replace(self._history_path(table))
        tmp = tdir / f"._current-{time.time_ns()}"
        tmp.write_text(version)
        tmp.replace(self._pointer(table))
        keep = set(kept)
        for d in tdir.glob("v-*"):
            if d.name not in keep and d.is_dir():
                shutil.rmtree(d, ignore_errors=True)

    def vacuum(self, table: str, keep_last: int = 1) -> list[str]:
        """Shrink the retained-version window to ``keep_last`` (the live
        version is always kept); returns the names removed. Hardlinked
        files shared with surviving versions cost nothing to 'delete' —
        only bytes no retained version references are freed."""
        versions = self.versions(table)
        kept, dropped = versions[-max(1, keep_last):], versions[:-max(1, keep_last)]
        tdir = self.path(table)
        tmp = tdir / f"._hist-{time.time_ns()}"
        tmp.write_text("\n".join(kept) + "\n")
        tmp.replace(self._history_path(table))
        for name in dropped:
            shutil.rmtree(tdir / name, ignore_errors=True)
        return dropped

    def _new_version(self, table: str) -> tuple[str, Path]:
        tdir = self.path(table)
        tdir.mkdir(parents=True, exist_ok=True)
        name = f"v-{time.time_ns()}"
        return name, tdir / name

    def _swap_write(self, df: DataFrame, table: str) -> None:
        """Write a fresh full version and flip the pointer to it."""
        name, vdir = self._new_version(table)
        df.write.mode("overwrite").parquet(str(vdir))
        self._publish(table, name)

    def append(self, df: DataFrame, table: str) -> None:
        """Append-only tables (e.g. the audit log): add part files to the
        live version in place — O(batch) I/O per event, never a
        read-union-rewrite. Appended files become visible as they land;
        fine for logs, use upsert/overwrite for tables needing snapshot
        isolation."""
        cur = self.current_version(table)
        if cur is None:
            self._swap_write(df, table)
            return
        df.write.mode("append").parquet(str(cur))

    def compact(self, spark: SparkSession, table: str,
                target_file_mb: int = 128) -> dict:
        """Bin-pack small part files into ~``target_file_mb`` outputs (the
        Delta ``OPTIMIZE`` seam). The append path (audit logs) and
        per-batch upserts accumulate files whose open/footer overhead
        eventually dominates scans; compaction rewrites the live version
        coalesced and flips the pointer atomically — readers see either
        the old layout or the new one, never a partial rewrite.

        Bucket-partitioned tables keep their ``pk_bucket=…`` layout (the
        rewrite hash-partitions on the bucket column, so each bucket dir
        lands exactly one file and upsert pruning is preserved). Returns
        ``{files_before, files_after, total_mb}``.
        """
        cur = self.current_version(table)
        if cur is None:
            raise ValueError(f"no such table: {table!r}")
        files = list(cur.rglob("*.parquet"))
        total_mb = sum(f.stat().st_size for f in files) / 2**20
        n_out = max(1, -(-int(total_mb) // target_file_mb))
        df = spark.read.parquet(str(cur))
        name, vdir = self._new_version(table)
        if any(cur.glob(f"{BUCKET_COL}=*")):
            (df.repartition(n_out, F.col(BUCKET_COL))
             .write.mode("overwrite").partitionBy(BUCKET_COL)
             .parquet(str(vdir)))
        else:
            df.repartition(n_out).write.mode("overwrite").parquet(str(vdir))
        self._publish(table, name)
        return {
            "files_before": len(files),
            "files_after": len(list(vdir.rglob("*.parquet"))),
            "total_mb": round(total_mb, 3),
        }

    def truncate(self, table: str) -> None:
        """K3 (datastore_delete-on-Truncate, datapump.py:545-555)."""
        shutil.rmtree(self.path(table), ignore_errors=True)

    # ---------------------------------------------------------- metadata (K1/K4)

    def _meta_path(self, table: str) -> Path:
        return self.root / f".{table}.meta.json"

    def get_properties(self, table: str) -> dict:
        """Table properties sidecar — the stand-in for `ALTER TABLE … SET
        TBLPROPERTIES` / CKAN resource metadata (SURVEY §1.1)."""
        p = self._meta_path(table)
        return json.loads(p.read_text()) if p.exists() else {}

    def set_properties(self, table: str, **props) -> None:
        merged = {**self.get_properties(table), **props}
        self._meta_path(table).write_text(json.dumps(merged, sort_keys=True))

    def stamp_updated(self, table: str, when: datetime | None = None) -> None:
        """K4: rewrite the description's ``(UPDATED: ts)`` suffix in place
        (append on first stamp) — the reference's regex-split/rejoin
        behavior (datapump.py:616-630) — and set an ``updated_at``
        property for programmatic readers."""
        when = when or datetime.now(timezone.utc)
        ts = when.strftime("%Y-%m-%d %H:%M:%S")
        props = self.get_properties(table)
        desc = _UPDATED_RE.sub("", props.get("description", ""))
        props["description"] = f"{desc} (UPDATED: {ts})"
        props["updated_at"] = ts
        self.set_properties(table, **props)

    def set_alias(self, table: str, alias: str) -> None:
        """K1's resource alias ('org-package-resource',
        datapump.py:224-225): recorded as a property; a SQL catalog
        profile maps this to CREATE VIEW."""
        self.set_properties(table, alias=alias)

    def overwrite(self, df: DataFrame, table: str) -> None:
        """Full-refresh write (stats tables are replaced per run, K6)."""
        self._swap_write(df, table)

    def _bucket_expr(self, keys: Sequence[str], n: int):
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n)).cast("int")

    def _merge_buckets(self, spark: SparkSession, batch: DataFrame,
                       table: str, keys: Sequence[str],
                       merge: Callable[[DataFrame, DataFrame], DataFrame],
                       ) -> None:
        """The bucketed MERGE shared by :meth:`upsert` and
        :meth:`apply_cdc`: check the batch keys against the table's
        bucket keys, tag the batch with ``pk_bucket``, and rewrite only
        the buckets it touches as ``merge(current rows of those buckets,
        tagged batch)``. Unaffected buckets are hardlinked into the new
        version and the pointer flips atomically.

        The first write has no current rows: the tagged batch is the
        table. A table without bucket directories (written by
        :meth:`overwrite`) is migrated once: all its rows go through
        ``merge``."""
        props = self.get_properties(table)
        n = int(props.get("bucket_count", self.n_buckets))
        stored_keys = props.get("bucket_keys")
        if stored_keys is not None and list(stored_keys) != list(keys):
            raise ValueError(
                f"table {table!r} bucketed by {stored_keys}, "
                f"batch keyed by {list(keys)}")
        bdf = batch.withColumn(BUCKET_COL, self._bucket_expr(keys, n))

        cur_dir = self.current_version(table)
        bucketed = cur_dir is not None and any(cur_dir.glob(f"{BUCKET_COL}=*"))
        if cur_dir is None:
            merged = bdf
        elif not bucketed:
            current = self.read(spark, table)
            merged = merge(
                current.withColumn(BUCKET_COL, self._bucket_expr(keys, n)),
                bdf)
        else:
            affected = sorted(r[BUCKET_COL] for r in
                              bdf.select(BUCKET_COL).distinct().collect())
            # mergeSchema for the same reason as read(): earlier
            # evolutions may have left mixed-schema buckets behind
            current = spark.read.option("mergeSchema", "true").parquet(
                str(cur_dir))  # includes pk_bucket
            merged = merge(current.where(F.col(BUCKET_COL).isin(affected)),
                           bdf)

        name, vdir = self._new_version(table)
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(str(vdir))
        if bucketed:
            # carry unaffected buckets over via hardlinks (same inode,
            # zero copy)
            affected_dirs = {f"{BUCKET_COL}={b}" for b in affected}
            for bucket_dir in cur_dir.glob(f"{BUCKET_COL}=*"):
                if bucket_dir.name in affected_dirs:
                    continue
                dst = vdir / bucket_dir.name
                dst.mkdir()
                for fpath in bucket_dir.iterdir():
                    if fpath.is_file():
                        (dst / fpath.name).hardlink_to(fpath)
        self._publish(table, name)
        if not bucketed:
            self.set_properties(table, bucket_count=n, bucket_keys=list(keys))

    def upsert(self, spark: SparkSession, df: DataFrame, table: str,
               keys: Sequence[str]) -> None:
        """K2 MERGE: batch rows win on PK collision (reference upsert
        semantics; Delta equivalent: WHEN MATCHED UPDATE ALL / WHEN NOT
        MATCHED INSERT ALL).

        Bounded cost: the table is partitioned by ``pk_bucket =
        pmod(xxhash64(pk), n_buckets)``; only buckets containing batch keys
        are scanned (partition-pruned), anti-joined, and rewritten.
        Unaffected buckets are hardlinked into the new version —
        byte-identical files, no data copied — matching the reference's
        incremental upsert cost model (datapump.py:560-566) instead of a
        full-table rewrite per batch."""
        keys = list(keys)

        def merge(cur: DataFrame, bdf: DataFrame) -> DataFrame:
            kept = cur.join(df.select(*keys).distinct(), on=keys,
                            how="left_anti")
            return kept.unionByName(bdf, allowMissingColumns=True)

        self._merge_buckets(spark, df, table, keys, merge)

    def apply_cdc(self, spark: SparkSession, changes: DataFrame, table: str,
                  keys: Sequence[str], seq_cols: Sequence[str],
                  op_col: str = "op", delete_op: str = "D") -> None:
        """MERGE a CDC changelog batch: WHEN MATCHED AND op='D' DELETE /
        WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT — the Delta
        ``foreachBatch + MERGE`` CDC recipe on the bucketed sink.

        Sequence-aware and tombstone-retaining, so it is correct under
        out-of-order delivery ACROSS batches, not just within one:
        - the batch collapses to one winner per key (sortless max_by on
          ``seq_cols``, including delete-then-reinsert ordering),
        - a winner only replaces the stored row when its sequence is ≥
          the stored one (stale changes are ignored, whole-row-wise),
        - deletes are stored as ``__tombstone`` marker rows (payload
          nulls) rather than physical removals, so a late update older
          than an applied delete is correctly discarded. Read the live
          state with :meth:`read_state`; compaction may drop tombstones
          older than the feed's reordering horizon.

        Cost model identical to :meth:`upsert`: only buckets containing
        batch keys are rewritten, the rest hardlink forward. Replaying
        the same changelog is a no-op (idempotent), which is what a
        streaming foreachBatch needs after a retry."""
        keys, seq_cols = list(keys), list(seq_cols)
        payload = [c for c in changes.columns
                   if c not in set(keys) | set(seq_cols) | {op_col}]
        seq_struct = F.struct(*[F.col(c) for c in seq_cols])
        winners = (
            changes.groupBy(*keys)
            .agg(F.max_by(
                F.struct(*[F.col(c) for c in seq_cols + payload],
                         (F.col(op_col) == delete_op).alias(TOMBSTONE_COL)),
                seq_struct).alias("__w"))
            .select(*keys,
                    *[F.col(f"__w.{c}").alias(c) for c in seq_cols + payload],
                    F.col(f"__w.{TOMBSTONE_COL}").alias(TOMBSTONE_COL))
        )

        def merge(cur: DataFrame, bw: DataFrame) -> DataFrame:
            w_seq = winners.select(*keys, seq_struct.alias("__wseq"))
            # stored row survives unless a batch winner with seq >= its
            # own exists for the key
            kept = (
                cur.join(F.broadcast(w_seq), on=keys, how="left")
                .where(F.col("__wseq").isNull()
                       | (F.col("__wseq") < seq_struct))
                .drop("__wseq")
            )
            c_seq = cur.select(*keys, seq_struct.alias("__cseq"))
            incoming = (
                bw.join(F.broadcast(c_seq), on=keys, how="left")
                .where(F.col("__cseq").isNull()
                       | (seq_struct >= F.col("__cseq")))
                .drop("__cseq")
            )
            return kept.unionByName(incoming, allowMissingColumns=True)

        self._merge_buckets(spark, winners, table, keys, merge)

    def read_state(self, spark: SparkSession, table: str) -> DataFrame:
        """Live CDC state: the table minus tombstone marker rows (and
        minus the physical bucket/marker columns)."""
        df = self.read(spark, table)
        if TOMBSTONE_COL in df.columns:
            df = df.where(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))) \
                .drop(TOMBSTONE_COL)
        return df


def dedupe_batch_by_pk(batch: list[tuple], key_idx: Sequence[int]) -> list[tuple]:
    """Last row per PK wins (upsert order) — one ON CONFLICT statement may
    not touch the same row twice in PostgreSQL."""
    uniq = {tuple(row[i] for i in key_idx): row for row in batch}
    return list(uniq.values())


class JdbcUpsertSink:
    """Executor-side DB-API upsert: INSERT … ON CONFLICT (pk) DO UPDATE.

    ``connection_factory`` must be a picklable zero-arg callable returning a
    DB-API connection (psycopg2.connect partial, sqlite3 for tests, …).
    """

    def __init__(self, connection_factory: Callable[[], object],
                 batch_size: int = 1000, dialect: str = "postgres"):
        self.connection_factory = connection_factory
        self.batch_size = batch_size
        self.dialect = dialect

    def upsert_sql(self, table: str, columns: Sequence[str],
                   keys: Sequence[str]) -> str:
        cols = ", ".join(f'"{c}"' for c in columns)
        ph = ", ".join(["?" if self.dialect == "sqlite" else "%s"] * len(columns))
        pk = ", ".join(f'"{k}"' for k in keys)
        updates = ", ".join(
            f'"{c}" = excluded."{c}"' for c in columns if c not in keys
        ) or f'"{keys[0]}" = excluded."{keys[0]}"'
        return (
            f'INSERT INTO "{table}" ({cols}) VALUES ({ph}) '
            f"ON CONFLICT ({pk}) DO UPDATE SET {updates}"
        )

    def upsert(self, df: DataFrame, table: str, keys: Sequence[str]) -> None:
        """Rows with the same PK inside one executemany batch are deduped
        (last occurrence wins, matching upsert order) — PostgreSQL raises
        'cannot affect row a second time' when a single INSERT … ON
        CONFLICT statement touches the same row twice."""
        columns = df.columns
        sql = self.upsert_sql(table, columns, keys)
        factory = self.connection_factory
        batch_size = self.batch_size
        key_idx = [columns.index(k) for k in keys]

        def flush(cur, batch):
            cur.executemany(sql, dedupe_batch_by_pk(batch, key_idx))
            batch.clear()

        def write_partition(rows):
            conn = factory()
            try:
                cur = conn.cursor()
                batch = []
                for row in rows:
                    batch.append(tuple(row))
                    if len(batch) >= batch_size:
                        flush(cur, batch)
                if batch:
                    flush(cur, batch)
                conn.commit()
            finally:
                conn.close()

        df.foreachPartition(write_partition)
