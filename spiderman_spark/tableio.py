"""TableIO — the Iceberg seam (SURVEY.md §7.0).

The engine's state tables (frontier, url_seen, crawl_order, item tables,
file_meta, metrics) are written through this thin interface.  Its one
backend is parquet+manifest: each logical table is a directory of immutable
parquet files plus a ``_manifests/`` directory of JSON snapshot files
``v{N}.json`` listing member files.  A snapshot commit = write data files →
write ``v{N+1}.json.tmp`` → atomic ``os.rename``.  Readers resolve the latest
manifest and read exactly its file list, so appends are atomic, failed writes
are invisible, and any older snapshot remains readable.  This mirrors
Iceberg's append/replace/snapshot semantics, which is what the engine needs
from a table format (north rule: resumable from snapshot checkpoints).

Reference parity: this replaces the Redis keyspace (`SP/utils/ctrl_redis.py`)
— RPUSH becomes an append snapshot, key deletion (`SP_JOBS/job.py:75-77`)
becomes ``replace`` with an empty DataFrame, and SCHEDULER_PERSIST
(`SP/settings.py:105`) is simply "keep the table".
"""

from __future__ import annotations

import json
import os
import time
import uuid


def _bucket_expr(col: str, n_buckets: int):
    """The bucket id of ``col`` in a table of ``n_buckets`` hash buckets."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


class ParquetManifestTable:
    """One logical table: immutable parquet part-dirs + JSON snapshot manifests."""

    def __init__(self, spark, root: str, name: str):
        self.spark = spark
        self.root = os.path.join(root, name)
        self.name = name
        self.mdir = os.path.join(self.root, "_manifests")
        os.makedirs(self.mdir, exist_ok=True)

    # -------------------------------------------------- snapshot resolution

    def _versions(self) -> list[int]:
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "props": {}}
        with open(os.path.join(self.mdir, f"v{v}.json")) as fh:
            return json.load(fh)

    def _commit(
        self, files: list[str], props: dict, sizes: dict | None = None
    ) -> int:
        """Atomic snapshot commit via tmp-write + rename.  ``sizes`` (entry →
        data bytes) rides the manifest so later compaction decisions read
        the immutable parts' sizes from ONE json instead of os.walk-ing
        every base part on every cycle (O(table files) driver stats)."""
        v = self.current_version() + 1
        body = {"version": v, "files": files, "props": props, "ts": time.time()}
        if sizes is not None:
            body["sizes"] = {f: sizes[f] for f in files if f in sizes}
        tmp = os.path.join(self.mdir, f"v{v}.json.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(body, fh)
        os.rename(tmp, os.path.join(self.mdir, f"v{v}.json"))
        return v

    # -------------------------------------------------- read / write

    def exists(self) -> bool:
        return self.current_version() > 0

    def read(self, version: int | None = None, ddl: str | None = None):
        m = self._manifest(version)
        if not m["files"]:
            return None  # caller supplies schema for the empty case
        reader = self.spark.read
        # the engine knows its state-table schemas, and a replace snapshot
        # records its own: either skips the per-read parquet footer
        # inference (a Spark job per read)
        ddl = ddl or m["props"].get("schema")
        if ddl is not None:
            reader = reader.schema(ddl)
        return reader.parquet(*[os.path.join(self.root, f) for f in m["files"]])

    def _write_data(self, df) -> str:
        part = f"data-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, part))
        return part

    def part_bytes(self, entry: str) -> int:
        """Total data-file bytes of one manifest entry (driver-side listing)."""
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self.root, entry)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        return total

    def part_rows(self, entry: str) -> int:
        """Row count of one entry from parquet FOOTERS only (no data read)."""
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self.root, entry)):
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    total += pq.read_metadata(os.path.join(dirpath, f)).num_rows
        return total

    def append(self, df, props: dict | None = None, drop_empty: bool = False) -> int:
        """Append ``df`` as a new snapshot.  ``drop_empty=True``: if the
        written part holds zero rows, remove it and commit NOTHING — the
        per-round state appends are often empty (idle tail rounds, rounds
        with no failures/items), and committing an empty part every round
        grows the reader's file list O(rounds) between compactions.  The
        emptiness check reads parquet footers only (driver-side, O(files in
        the new part))."""
        part = self._write_data(df)
        if drop_empty and self.part_rows(part) == 0:
            import shutil

            shutil.rmtree(os.path.join(self.root, part), ignore_errors=True)
            return self.current_version()
        m = self._manifest()
        sizes = dict(m.get("sizes") or {})
        sizes[part] = self.part_bytes(part)
        return self._commit(m["files"] + [part], props or {}, sizes=sizes)

    def _entry_sizes(self, m: dict) -> dict:
        """Entry → bytes for every manifest entry, read from the manifest's
        recorded sizes (one json) — os.walk only for legacy entries written
        before sizes were recorded, after which the next commit records
        them.  Keeps compaction's driver cost O(1) in table size."""
        sizes = dict(m.get("sizes") or {})
        for f in m["files"]:
            if f not in sizes:
                sizes[f] = self.part_bytes(f)
        return sizes

    def _pack(self, entries: list[str], sizes: dict, threshold_bytes: int, ddl):
        """Read ``entries`` and write them as one part sized to ~threshold
        files; returns (new_entry, bytes_read)."""
        reader = self.spark.read
        if ddl is not None:
            reader = reader.schema(ddl)
        packed = reader.parquet(*[os.path.join(self.root, f) for f in entries])
        bytes_read = sum(sizes[f] for f in entries)
        packed = packed.coalesce(max(1, bytes_read // max(threshold_bytes, 1) + 1))
        part = self._write_data(packed)
        sizes[part] = self.part_bytes(part)
        return part, bytes_read

    def compact_small(
        self,
        threshold_bytes: int,
        ddl: str | None = None,
        props: dict | None = None,
        max_parts: int = 64,
    ) -> dict:
        """Size-tiered compaction: bin-pack only manifest entries SMALLER
        than ``threshold_bytes`` (the per-round appends) into one new part;
        every entry at/above the threshold carries over verbatim — its
        immutable files are never re-read or re-written.  Compaction I/O is
        therefore proportional to appended bytes, not table size: once a
        packed part outgrows the threshold it becomes base and is rarely
        touched again, so each byte is rewritten O(threshold/append) times
        amortized — vs the previous replace(read()) full-table rewrite,
        O(corpus) recurring at the north rule's 10^10-URL url_seen scale.

        ``max_parts`` bounds the TOTAL entry count (single-tier packing
        alone grows base entries O(table/threshold) forever): when the
        post-pack count exceeds it, the smallest entries merge into one —
        smallest-first keeps the amortized rewrite count O(log(table/
        threshold)) per byte, the standard LSM tiering trade — so the
        reader's file list is O(1) in rounds AND in table size.

        Returns {"compacted", "kept", "bytes_read"}; commits nothing when
        there is nothing to pack or merge."""
        m = self._manifest()
        if any(self._bucket_of(f) is not None for f in m["files"]):
            raise ValueError(
                f"compact_small: table {self.name!r} is bucketed — use "
                "merge_buckets granularity instead"
            )
        sizes = self._entry_sizes(m)
        small = [f for f in m["files"] if sizes[f] < threshold_bytes]
        entries = [f for f in m["files"] if f not in set(small)]
        bytes_read, n_packed = 0, 0
        if len(small) >= 2:
            part, br = self._pack(small, sizes, threshold_bytes, ddl)
            entries.append(part)
            bytes_read += br
            n_packed = len(small)
        else:
            entries = list(m["files"])  # 0-1 small parts: nothing to pack
        if len(entries) > max_parts:
            # tier merge: fold the smallest entries into one so the count
            # returns to the bound (entries only grow by ~1 per cycle, so
            # one merge per call suffices)
            by_size = sorted(entries, key=lambda f: sizes[f])
            victims = by_size[: len(entries) - max_parts + 1]
            part, br = self._pack(victims, sizes, threshold_bytes, ddl)
            entries = [f for f in entries if f not in set(victims)] + [part]
            bytes_read += br
            n_packed += len(victims)
        if n_packed == 0:
            return {"compacted": 0, "kept": len(m["files"]), "bytes_read": 0}
        self._commit(entries, {**m["props"], **(props or {})}, sizes=sizes)
        kept = len(set(m["files"]) & set(entries))  # carried over untouched
        return {"compacted": n_packed, "kept": kept, "bytes_read": bytes_read}

    def replace(self, df, props: dict | None = None) -> int:
        """Replace table contents (snapshot-isolated truncate+write); the
        props record the data schema, so reads skip schema inference."""
        part = self._write_data(df)
        return self._commit(
            [part],
            {**(props or {}), "schema": df.schema.toDDL()},
            sizes={part: self.part_bytes(part)},
        )

    # -------------------------------------------------- bucketed snapshots
    #
    # Hash-bucketed layout for MERGE-heavy tables (file_meta): each snapshot
    # entry is one bucket directory 'data-XXX/_b=i' holding ONE parquet file
    # (rows are clustered by bucket before the partitioned write), so a
    # merge touching few buckets rewrites only those and carries every other
    # entry over unchanged — O(touched buckets), not O(table), per merge
    # (Iceberg MERGE INTO's copy-on-write file granularity, on the parquet
    # backend).  Files, not rows, are the fixed cost of a small write: each
    # file, .crc sidecar and directory is a filesystem round trip (a forked
    # chmod per file without Hadoop's native library).  The table's props
    # record the bucket column, the bucket count and the data schema, so
    # merges hash identically and reads skip schema inference.

    @staticmethod
    def _bucket_of(entry: str) -> int | None:
        tail = entry.rsplit("/", 1)[-1]
        return int(tail[len("_b="):]) if tail.startswith("_b=") else None

    def _write_bucketed(self, df, bucket_col: str, n_buckets: int) -> list[str]:
        part = f"data-{uuid.uuid4().hex}"
        (
            df.withColumn("_b", _bucket_expr(bucket_col, n_buckets))
            .repartition("_b")  # one task per bucket → one file per bucket
            .write.partitionBy("_b")
            .mode("overwrite")
            .parquet(os.path.join(self.root, part))
        )
        pdir = os.path.join(self.root, part)
        return sorted(
            f"{part}/{d}" for d in os.listdir(pdir) if d.startswith("_b=")
        )

    def replace_bucketed(
        self, df, bucket_col: str, n_buckets: int, props: dict | None = None
    ) -> int:
        entries = self._write_bucketed(df, bucket_col, n_buckets)
        return self._commit(
            entries,
            {
                **(props or {}),
                "bucket_col": bucket_col,
                "n_buckets": n_buckets,
                "schema": df.schema.toDDL(),
            },
        )

    def bucket_entries(self, buckets) -> list[str]:
        want = set(buckets)
        return [f for f in self._manifest()["files"] if self._bucket_of(f) in want]

    def buckets_of(self, df, col: str) -> list[int]:
        """The buckets that ``df``'s values of ``col`` hash into: the ones a
        merge keyed by them can touch.  One small action, none when the
        table has a single bucket."""
        n_buckets = self.props().get("n_buckets", 1)
        if n_buckets == 1:
            return [0]
        rows = df.select(_bucket_expr(col, n_buckets)).distinct().collect()
        return [r[0] for r in rows]

    def read_buckets(self, buckets):
        """Read only the given buckets' files (None if they hold no data),
        with the schema recorded at ``replace_bucketed``."""
        entries = self.bucket_entries(buckets)
        if not entries:
            return None
        return self.spark.read.schema(self.props()["schema"]).parquet(
            *[os.path.join(self.root, f) for f in entries]
        )

    def merge_buckets(self, df, touched, props: dict | None = None) -> int:
        """Commit a snapshot where ``df`` REPLACES the touched buckets'
        contents; every untouched bucket entry carries over verbatim (same
        immutable files — the merge cost is O(touched), asserted in tests)."""
        m = self._manifest()
        bucket_col, n_buckets = m["props"]["bucket_col"], m["props"]["n_buckets"]
        touched = set(int(b) for b in touched)
        new_entries = [
            e
            for e in self._write_bucketed(df, bucket_col, n_buckets)
            if self._bucket_of(e) in touched  # guard: df must stay in-bucket
        ]
        keep = [f for f in m["files"] if self._bucket_of(f) not in touched]
        return self._commit(keep + new_entries, {**m["props"], **(props or {})})

    def replace_empty(self, props: dict | None = None) -> int:
        return self._commit([], props or {})

    def props(self, version: int | None = None) -> dict:
        return self._manifest(version)["props"]

    def rollback_to(self, version: int) -> int:
        """Commit a new snapshot whose file list and props equal
        ``version``'s — orphaned appends from a crashed round become
        invisible (resume path), and a bucketed table keeps its layout."""
        m = self._manifest(version)
        return self._commit(
            m["files"], {**m["props"], "rolled_back_to": version},
            sizes=m.get("sizes"),
        )


class Catalog:
    """A directory of ParquetManifestTables under one workdir."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> ParquetManifestTable:
        return ParquetManifestTable(self.spark, self.root, name)

    def read_or_empty(self, name: str, ddl: str):
        t = self.table(name)
        df = t.read(ddl=ddl) if t.exists() else None
        if df is None:
            return self.spark.createDataFrame([], ddl)
        return df
