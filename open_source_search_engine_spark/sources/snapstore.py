"""Snapshot-committed parquet tables — the checkpoint/lineage layer.

The reference engine's durability unit is the Rdb dump + Msg4 barrier; one
scheduling round ends with all new frontier records committed (SURVEY §2.K).
On a production cluster this layer IS Apache Iceberg
(``df.writeTo(tbl).append()`` — one snapshot per round, MOR deletes for the
negative-key semantics, ``rewrite_data_files`` for the dedup compaction).
This container has no Iceberg runtime jars and no network, so we provide a
minimal snapshot store with the same contract, used by the round driver:

- a table = directory with ``snap-00000N/`` parquet dirs + ``manifest.json``
- commit = write data dir, then atomically ``os.replace`` the manifest →
  readers always see a consistent snapshot (crash-safe resume point)
- append = new snapshot referencing previous data dirs + the new one
  (no rewrite of existing files — O(new data) per round, like Iceberg)
- overwrite = new snapshot referencing only the new dir
- every snapshot records per-partition lineage: rows written, the round id,
  and arbitrary metrics (the north rule's "per-partition lineage + fetch/
  dedup metrics")
- ``read(spark, snapshot=k)`` = time travel; default latest

Layout:
    table_dir/
      manifest.json        {"current": 3, "snapshots": {...}}
      snap-000001/part-*.parquet
      snap-000002/...
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Frontier storage clustering (round 5 — the bench-proven salted
# layout, VERDICT r4 Wrong #3): tables are bucketed by
# (first_ip, _salt = uh48 mod SALT_WIDTH) and sorted by uh48 inside
# each bucket — the spiderdb key order (firstip-major, urlhash48-minor,
# Spider.h:432-470) with the zipf hot-IP split over SALT_WIDTH ways.
# One layout serves every frontier-scale stage of the round
# exchange-free: partitioning on (first_ip,_salt) satisfies the C2
# merge-dedup and latest-reply groupBys on (first_ip,_salt,uh48) — a
# superset of the bucket keys — the request⋈reply join on the same
# triple, AND the phase-1 winner window on (first_ip,_salt), while
# per-task rows stay bounded by hot_ip/SALT_WIDTH (BENCH.md round-4
# variant matrix: checksum-identical to the unsalted plan, 1.63× at 32
# cores).  uh48→first_ip is functional (one canonical url, one resolved
# IP), so the triple-key grouping is exactly per-uh48 dedup.
# FRONTIER_BUCKETS only changes file layout, never results.  SALT_WIDTH
# is a constant: _salt is STORED data, so two processes deriving it with
# different widths over one workdir would split a uh48 across triple-key
# groups.
FRONTIER_BUCKETS = int(os.environ.get("OSSE_FRONTIER_BUCKETS", "32"))
SALT_WIDTH = 16
_FRONTIER_BUCKETED = ("requests", "replies", "inlinks")
FRONTIER_BUCKET_COLS = ["first_ip", "_salt"]
FRONTIER_SORT_COLS = ["first_ip", "_salt", "uh48"]


def with_salt(df: DataFrame) -> DataFrame:
    """Stamp the stored skew-salt column if absent.  Deterministic in
    uh48, so retries/re-reads agree; when the column is already present
    (a bucketed scan) it is left untouched — re-deriving it would
    replace the scan's attribute and erase the reported partitioning."""
    if "_salt" in df.columns:
        return df
    from pyspark.sql import functions as F
    return df.withColumn(
        "_salt", F.pmod(F.col("uh48"), F.lit(SALT_WIDTH)).cast("int"))


def frontier_table(workdir: str, name: str) -> "SnapshotTable":
    """The canonical constructor for a crawl-state table: frontier-scale
    tables get the salted bucket layout, the small per-round tables stay
    plain parquet.  Scheduler and compaction must agree on the spec —
    both construct through here."""
    if name in _FRONTIER_BUCKETED:
        return SnapshotTable(os.path.join(workdir, name),
                             bucket_by=(list(FRONTIER_BUCKET_COLS),
                                        FRONTIER_BUCKETS),
                             sort_by=list(FRONTIER_SORT_COLS))
    return SnapshotTable(os.path.join(workdir, name))


def url_seen_table(workdir: str) -> "SnapshotTable":
    """The C5 exact seen set as its own incremental snapshot table
    (VERDICT r5 Wrong #2): (uh48, last_added_ms), bucketed+sorted by
    uh48 so the per-round maybe-seen anti-join reuses the scan
    partitioning — only the (small) candidate side exchanges, never the
    10^10-key seen side.  The base dir is written bucketed by the first
    ``append_requests`` (seed or ingest), by compaction and by the
    open-time re-sync; later new-key deltas append as parquet and fold
    into the base at the next compaction."""
    return SnapshotTable(os.path.join(workdir, "url_seen"),
                         bucket_by=(["uh48"], FRONTIER_BUCKETS),
                         sort_by=["uh48"])


def _seen_stamp(workdir: str) -> int | None:
    """The requests snapshot url_seen's current snapshot mirrors."""
    m = url_seen_table(workdir).manifest()
    return (m["snapshots"].get(str(m["current"]), {}).get("lineage", {})
            .get("synced_requests_snapshot"))


def url_seen_synced(workdir: str) -> bool:
    """True iff url_seen mirrors the CURRENT requests snapshot.  Every
    product write goes through ``append_requests``, so it is false only
    between a torn write (or a direct requests write) and the next open,
    which rebuilds the base (``compaction.upgrade_legacy_state``)."""
    return (_seen_stamp(workdir) ==
            frontier_table(workdir, "requests").current_snapshot())


def append_requests(workdir: str, df: DataFrame, lineage: dict) -> None:
    """Append request rows and their url_seen keys: the one writer of
    requests (seed, round and streaming ingest).  Pass pinned rows —
    both writes read ``df``.  The keys go to a new bucketed base when
    url_seen has no snapshot yet, else to a delta; a delta extends the
    sync stamp only from a synced table, so the stamp never claims keys
    an earlier torn write lost."""
    from pyspark.sql import functions as F
    req, seen = frontier_table(workdir, "requests"), url_seen_table(workdir)
    stamp = _seen_stamp(workdir)
    synced = (stamp or 0) == req.current_snapshot()
    req.append(with_salt(df), lineage)
    (seen.append if seen.exists() else seen.overwrite)(
        df.select("uh48", F.col("added_time_ms").alias("last_added_ms")),
        {**lineage, "synced_requests_snapshot":
            req.current_snapshot() if synced else stamp})


def seen_parts(spark: SparkSession, workdir: str) -> list[DataFrame]:
    """The exact seen-key set (the spiderdb getUrlHash48 lookup) as uh48
    relations, one ``left_anti`` join each: the bucketed url_seen base
    (scan-partitioned on uh48 — no seen-side exchange) + the small
    append deltas, annihilated by the negative keys (a key is seen iff a
    stored row outlives its newest negative, the requests-side rule);
    none before the first request write."""
    negs = read_negatives(spark, workdir)
    base, delta = url_seen_table(workdir).read_parts(spark)
    parts = [p for p in (base, delta) if p is not None]
    if negs is not None:
        parts = [annihilate(p, negs, "last_added_ms") for p in parts]
    return [p.select("uh48") for p in parts]


def read_negatives(spark: SparkSession, workdir: str) -> DataFrame | None:
    """The H8 negative-key log (uh48, neg_time_ms) written by
    ``CrawlDriver.delete_urls``, or None when no url was ever deleted —
    decided from the manifest, so the common case costs no Spark job."""
    t = SnapshotTable(os.path.join(workdir, "negatives"))
    return t.read(spark) if t.exists() else None


def annihilate(df: DataFrame, negs: DataFrame, time_col: str) -> DataFrame:
    """Rdb negative-key annihilation: drop rows at or before their uh48's
    newest negative key.  Records added after the negative survive, so a
    deleted-then-rediscovered url is seen (and crawls) afresh.  Every
    reader of frontier state applies this one rule — the round's state
    read and seen set, the streaming seen check, and compaction (which
    applies it physically).  Negatives are operator/API-scale, never
    frontier-scale, so the broadcast is safe."""
    from pyspark.sql import functions as F
    n = negs.groupBy("uh48").agg(F.max("neg_time_ms").alias("_negt"))
    return (df.join(F.broadcast(n), "uh48", "left")
            .filter(F.col("_negt").isNull() |
                    (F.col(time_col) > F.col("_negt")))
            .drop("_negt"))


class SnapshotTable:
    """``bucket_by=(cols, n)`` declares the table's storage clustering
    (Iceberg's ``bucket(n, col)`` partition transform; spiderdb's
    firstip-major key order, Spider.h:432-470).  Snapshot dirs written
    through :meth:`overwrite` (i.e. compactions) are then written
    BUCKETED and re-registered to the session catalog on read, so
    downstream groupBy/join/window on the bucket key run without a
    shuffle.  Dirs appended between compactions are plain parquet — a
    mixed snapshot falls back to a flat union read (Iceberg proper keeps
    the transform across appends; our shim regains it at the next
    compaction, which the crawl driver runs periodically anyway)."""

    def __init__(self, path: str,
                 bucket_by: tuple[list[str], int] | None = None,
                 sort_by: list[str] | None = None):
        self.path = path
        self.bucket_by = bucket_by
        self.sort_by = sort_by
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"current": 0, "snapshots": {}}
        with open(p) as f:
            return json.load(f)

    def current_snapshot(self) -> int:
        return self.manifest()["current"]

    def _data_dirs(self, snapshot: int | None = None) -> list[str]:
        m = self.manifest()
        snap = m["current"] if snapshot is None else snapshot
        if snap == 0:
            return []
        info = m["snapshots"].get(str(snap))
        if info is None:
            raise ValueError(f"unknown snapshot {snap} in {self.path}")
        return [os.path.join(self.path, d) for d in info["data_dirs"]]

    # ------------------------------------------------------------------
    def _commit(self, new_dirs: list[str], mode: str,
                lineage: dict[str, Any]) -> int:
        m = self.manifest()
        snap = m["current"] + 1
        if mode == "append":
            prev = (m["snapshots"].get(str(m["current"]), {})
                    .get("data_dirs", []))
            dirs = prev + new_dirs
        else:
            dirs = new_dirs
        m["snapshots"][str(snap)] = {
            "data_dirs": dirs,
            "mode": mode,
            "committed_at": time.time(),
            "lineage": lineage,
        }
        m["current"] = snap
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic commit
        return snap

    def _write_dir(self, df: DataFrame, snap_hint: int,
                   bucketed: bool = False) -> tuple[str, dict]:
        name = f"snap-{snap_hint:06d}"
        out = os.path.join(self.path, name)
        if bucketed and self.bucket_by is not None:
            cols, n = self.bucket_by
            spark = df.sparkSession
            tmp = f"osse_snap_w_{abs(hash((self.path, snap_hint))) % 10**9}"
            w = (df.repartition(n, *cols)
                 .write.bucketBy(n, *cols))
            if self.sort_by:
                w = w.sortBy(*self.sort_by)
            (w.option("path", out).mode("overwrite").saveAsTable(tmp))
            # metadata lives in the manifest, not this session's catalog
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        else:
            df.write.mode("overwrite").parquet(out)
        # per-partition lineage: parquet files + row counts per file
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        if not files:
            # a bucketed write of zero rows (e.g. a compaction after every
            # row was deleted) leaves no file; keep one empty bucket-0
            # file so every reader finds the schema in its footer
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            files = ["part-00000-empty_00000.c000.parquet"]
            pq.write_table(to_arrow_schema(df.schema).empty_table(),
                           os.path.join(out, files[0]))
        lineage = {"files": len(files)}
        if bucketed and self.bucket_by is not None:
            spec = {"cols": self.bucket_by[0], "n": self.bucket_by[1],
                    "sort": self.sort_by or []}
            with open(os.path.join(out, "_bucketed.json"), "w") as f:
                json.dump(spec, f)
            lineage["bucketed"] = spec
        return name, lineage

    def append(self, df: DataFrame, metrics: dict | None = None) -> int:
        snap_hint = self.current_snapshot() + 1
        name, lineage = self._write_dir(df, snap_hint)
        lineage.update(metrics or {})
        return self._commit([name], "append", lineage)

    def append_rows(self, rows: list[dict], schema,
                    metrics: dict | None = None) -> int:
        """Append a tiny driver-side row batch (e.g. the 1-row per-round
        metrics record) without a Spark job — pyarrow parquet + the same
        manifest commit.  ``schema`` is a pyarrow schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        snap_hint = self.current_snapshot() + 1
        name = f"snap-{snap_hint:06d}"
        out = os.path.join(self.path, name)
        os.makedirs(out, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        lineage = {"files": 1}
        lineage.update(metrics or {})
        return self._commit([name], "append", lineage)

    def overwrite(self, df: DataFrame, metrics: dict | None = None) -> int:
        snap_hint = self.current_snapshot() + 1
        name, lineage = self._write_dir(df, snap_hint, bucketed=True)
        lineage.update(metrics or {})
        return self._commit([name], "overwrite", lineage)

    def read(self, spark: SparkSession, snapshot: int | None = None,
             schema=None) -> DataFrame | None:
        dirs = self._data_dirs(snapshot)
        if not dirs:
            return None
        if len(dirs) == 1:
            spec_p = os.path.join(dirs[0], "_bucketed.json")
            if os.path.exists(spec_p):
                with open(spec_p) as f:
                    spec = json.load(f)
                return self._read_bucketed(spark, dirs[0], spec)
            return spark.read.parquet(dirs[0])
        # multi-dir (append log): writers may order their columns
        # differently, and a bare multi-path read takes one footer's
        # schema nondeterministically — union by name.  The frontier
        # tables hold one schema at rest (compaction.upgrade_legacy_state
        # rewrites older dirs at driver open), so no column is missing
        # there; small tables may still gain a column over time, read
        # as null in older dirs.
        out = spark.read.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(spark.read.parquet(d),
                                  allowMissingColumns=True)
        return out

    def read_parts(self, spark: SparkSession
                   ) -> tuple[DataFrame | None, DataFrame | None]:
        """(base, delta): the FIRST data dir read through its bucketed
        catalog registration when written so (scan reports the bucket
        partitioning), remaining append dirs unioned flat.  Lets a
        consumer keep the base's exchange-free plan and treat only the
        small append tail as unclustered — instead of the plain read()'s
        flat union, which loses the bucketing for every dir."""
        dirs = self._data_dirs()
        if not dirs:
            return None, None
        spec_p = os.path.join(dirs[0], "_bucketed.json")
        if os.path.exists(spec_p):
            with open(spec_p) as f:
                spec = json.load(f)
            base = self._read_bucketed(spark, dirs[0], spec)
        else:
            base = spark.read.parquet(dirs[0])
        delta = None
        for d in dirs[1:]:
            nd = spark.read.parquet(d)
            delta = nd if delta is None else \
                delta.unionByName(nd, allowMissingColumns=True)
        return base, delta

    def _read_bucketed(self, spark: SparkSession, d: str,
                       spec: dict) -> DataFrame:
        """Register the dir as a bucketed catalog table (bucket METADATA
        lives in the catalog — Iceberg/HMS on a cluster, re-declared
        per-session here) and read through it, so the scan reports
        HashPartitioning(bucket cols) and downstream ops skip their
        exchanges."""
        import hashlib
        name = f"osse_snap_{hashlib.md5(d.encode()).hexdigest()[:12]}"
        if not spark.catalog.tableExists(name):
            df = spark.read.parquet(d)
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in df.schema.fields)
            cl = ", ".join(spec["cols"])
            sort = (f"SORTED BY ({', '.join(spec['sort'])})"
                    if spec.get("sort") else "")
            spark.sql(f"""
                CREATE TABLE {name} ({ddl}) USING PARQUET
                CLUSTERED BY ({cl}) {sort} INTO {spec['n']} BUCKETS
                LOCATION '{d}'
            """)
        return spark.table(name)

    def exists(self) -> bool:
        return self.current_snapshot() > 0
