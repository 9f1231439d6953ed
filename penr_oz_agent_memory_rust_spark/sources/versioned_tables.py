"""Manifest-versioned Parquet table: Delta-style semantics from plain
files (★ the transactional backend of the mutation seam; it needs no
jars, while a real Delta backend waits until its jars are in the repository).

Layout:
    <path>/files/<commit-uuid>/part-*.parquet     immutable data files
    <path>/_manifests/v<00000N>.json              one manifest per version

Every operation commits a NEW manifest listing exactly the files that
version reads; data files are never modified or deleted by commits:

- append         zero-copy: new manifest = previous file list + the new
                 commit's files (the previous version's files are reused
                 byte-for-byte, like Delta's add-only log entry);
- overwrite / merge_upsert / delete_where / update_where
                 rewrite commits (O(table), same honest cost as
                 ParquetTable) — but ATOMIC: readers see the old version
                 until the single manifest hard-link lands;
- read(version=) snapshot isolation + time travel: a reader resolves one
                 manifest and only ever sees that manifest's files, no
                 matter what commits land mid-query;
- rollback(v)    a new manifest duplicating version v's file list
                 (git-revert style — history is preserved);
- vacuum(keep)   deletes data files unreachable from the newest `keep`
                 manifests (the only destructive operation, run it like
                 Delta's VACUUM after the time-travel window lapses).

Commit protocol (optimistic concurrency, the Delta log trick on a POSIX
filesystem): the manifest is fully written to a temp file, then
`os.link`ed to its final `v<N>.json` name — link is atomic and FAILS if
the name exists, so two writers racing to version N cannot both win;
the loser either retries on a fresh snapshot (append) or raises
`ConcurrentWriteError` (read-modify-write ops, whose base snapshot is
stale by definition). A crash mid-commit leaves data files with no
manifest pointing at them — invisible to readers, reclaimed by vacuum.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from contextlib import suppress as contextlib_suppress

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from penr_oz_agent_memory_rust_spark.localdata import local_df


class ConcurrentWriteError(RuntimeError):
    """Another commit landed after this operation's base snapshot."""


_BLOOM_K = 4


def _require_txn_pair(txn_app: str | None, txn_id: int | None) -> None:
    """txn_app and txn_id are one identity — half of it is always a bug
    (txn_committed would int(None) deep inside a scan otherwise)."""
    if (txn_app is None) != (txn_id is None):
        raise ValueError(
            "txn_app and txn_id must be provided together "
            f"(got txn_app={txn_app!r}, txn_id={txn_id!r})"
        )


def _bloom_positions(col: str, value, m_bits: int) -> list[int]:
    """k bit positions for `value` in a column's bloom — md5-hex slices,
    module-level so driver membership tests and executor-side builds share
    ONE definition (a drifted hash would turn false positives into false
    NEGATIVES, i.e. lost rows)."""
    import hashlib

    h = hashlib.md5(f"{col}|{value}".encode()).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m_bits for i in range(_BLOOM_K)]


def _bloom_bitmap(col: str, values, m_bits: int) -> bytes:
    bits = bytearray(m_bits // 8)
    for v in values:
        if v is None:
            continue
        for h in _bloom_positions(col, v, m_bits):
            bits[h >> 3] |= 1 << (h & 7)
    return bytes(bits)


class VersionedParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_cols: list[str] | None = None,  # accepted for seam parity;
        # manifests list files directly, so directory-partition pruning does
        # not apply — filter pushdown still works via parquet row-group stats
        merge_key_cap: int = 100_000,
        bloom_cols: list[str] | None = None,
        bloom_bits_per_row: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        # largest distinct-update-key set merge_upsert/delete-style pruning
        # will collect to the driver for the bisect fast path; above it the
        # overlap test runs as a distributed range join (still exact)
        self.merge_key_cap = merge_key_cap
        # per-file Bloom filters for these columns, built once at commit
        # time (data files are immutable, so a bloom never goes stale):
        # the point-lookup index for HIGH-CARDINALITY keys — a uuid id
        # column has min/max stats that never discriminate (every file's
        # range spans the whole keyspace), but its bloom answers "key
        # cannot be in this file" for ~2 bytes/row, which is what makes
        # DELETE /memory/{id} and keyed upserts O(matching files) on the
        # serving path. Stored as sidecar files under _blooms/, never in
        # the manifest JSON (a 1M-row file's bloom is ~2 MB).
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits_per_row = bloom_bits_per_row
        self._bloom_cache: dict[str, bytes | None] = {}
        self._mdir = os.path.join(path, "_manifests")

    # ------------------------------------------------------------ manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._mdir, f"v{version:08d}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._mdir):
            return []
        return sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self._mdir, "v*.json"))
        )

    def current_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _schema_at(self, version: int) -> T.StructType:
        js = self._load_manifest(version).get("schema")
        return T.StructType.fromJson(js) if js else self.schema

    def current_schema(self) -> T.StructType:
        """The schema the table evolved to — a reopened handle constructed
        with an older StructType still reads/writes the widened one."""
        return self._schema_at(self.current_version()) if self.exists() else self.schema

    def _try_commit(
        self,
        version: int,
        files: list[str],
        op: str,
        stats: dict | None = None,
        txn: tuple[str, int] | None = None,
        schema_obj: T.StructType | None = None,
        txns: dict[str, int] | None = None,
    ) -> bool:
        os.makedirs(self._mdir, exist_ok=True)
        body = {
            "version": version,
            "op": op,
            "files": sorted(files),
            "stats": stats or {},
            "schema": (schema_obj or self.schema).jsonValue(),
            "committed_at": time.time(),
            # latest txn id PER APP, carried forward by every commit (the
            # Delta-checkpoint device): vacuum can drop old manifests
            # without erasing the idempotence records txn_committed needs
            "txns": dict(txns or {}),
        }
        if txn is not None:
            body["txn"] = [txn[0], int(txn[1])]
            prev = body["txns"].get(txn[0])
            body["txns"][txn[0]] = (
                int(txn[1]) if prev is None else max(int(prev), int(txn[1]))
            )
        tmp = os.path.join(self._mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(body, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._manifest_path(version))  # atomic + exclusive
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------------- data IO

    def _write_commit_files(self, df: DataFrame, schema: T.StructType | None = None) -> list[str]:
        cdir = os.path.join(self.path, "files", uuid.uuid4().hex)
        sch = schema or self.schema
        (
            df.select(*[f.name for f in sch.fields])
            .write.mode("overwrite")
            .parquet(cdir)
        )
        rels = []
        import pyarrow.parquet as pq

        for pth in glob.glob(os.path.join(cdir, "*.parquet")):
            # drop zero-row part files: they carry no data and no footer
            # stats (and would erode the skipping index's coverage
            # guarantees)
            try:
                if pq.read_metadata(pth).num_rows == 0:
                    os.unlink(pth)
                    continue
            except Exception:  # noqa: BLE001
                pass
            rels.append(os.path.relpath(pth, self.path))
        return rels

    # ------------------------------------------------------- bloom sidecars

    # crossover measured on the 2M-row probe: per-commit Spark-job
    # overhead (~0.7 s each) beats driver hashing (~1.3 µs/row) only when
    # a single commit carries millions of rows (OPTIMIZE rewrites); the
    # serving-path appends stay on the driver
    _BLOOM_DRIVER_BUILD_MAX_ROWS = 1_000_000

    def _bloom_path(self, rel: str, col: str) -> str:
        import hashlib

        return os.path.join(
            self.path, "_blooms", f"{hashlib.md5(rel.encode()).hexdigest()}.{col}"
        )

    def _write_bloom_atomic(self, rel: str, col: str, payload: bytes) -> None:
        """Sidecar writes are tmp + os.replace: lookups derive m_bits from
        the file LENGTH, so a crash/disk-full-truncated sidecar would hash
        to the wrong positions and return false NEGATIVES (silently
        skipped files on the pruned mutation paths). Atomic rename makes a
        partial sidecar unobservable."""
        dst = self._bloom_path(rel, col)
        tmp = f"{dst}.tmp.{os.getpid()}"
        try:
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, dst)
        except OSError:
            with contextlib_suppress(OSError):
                os.unlink(tmp)

    @staticmethod
    def _bloom_m_bits(n_rows: int, bits_per_row: int) -> int:
        m = max(1024, n_rows * bits_per_row)
        return m + (-m) % 8

    def _build_blooms(self, rel_files: list[str]) -> None:
        """One bloom sidecar per (new file, bloom col). Data files are
        immutable, so sidecars are write-once and survive every later
        manifest. Small commits (the serving-path upserts) build on the
        driver with one pyarrow column read; above
        _BLOOM_DRIVER_BUILD_MAX_ROWS total rows (rewrites, OPTIMIZE) the
        per-value hashing moves to EXECUTORS — one applyInPandas group
        per file returns its finished bitmap, so build wall-clock scales
        with the cluster instead of pinning the driver (measured ~1.3
        µs/value single-threaded)."""
        if not self.bloom_cols:
            return
        # only string/integral keys: the driver build hashes raw Python
        # values while the executor build hashes Spark's string cast, and
        # float formatting differs between the two (repr(1e-07) vs
        # "1.0E-7") — a mismatch would turn false positives into false
        # NEGATIVES, i.e. silently lost rows on the pruned paths
        safe = (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        by_name = {f.name: f.dataType for f in self.current_schema().fields}
        cols = [c for c in self.bloom_cols if isinstance(by_name.get(c), safe)]
        if not cols:
            return
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.path, "_blooms"), exist_ok=True)
        counts: dict[str, int | None] = {}
        for rel in rel_files:
            try:
                counts[rel] = pq.read_metadata(os.path.join(self.path, rel)).num_rows
            except Exception:  # noqa: BLE001
                counts[rel] = None
        known = [c for c in counts.values() if c is not None]
        if sum(known) <= self._BLOOM_DRIVER_BUILD_MAX_ROWS or len(known) != len(counts):
            for rel in rel_files:
                try:
                    for col in cols:
                        t = pq.read_table(os.path.join(self.path, rel), columns=[col])
                        vals = t.column(0).to_pylist()
                        m_bits = self._bloom_m_bits(
                            counts[rel] or len(vals), self.bloom_bits_per_row
                        )
                        self._write_bloom_atomic(rel, col, _bloom_bitmap(col, vals, m_bits))
                except Exception:  # noqa: BLE001 — blooms are an optimization only
                    continue
            return
        self._build_blooms_distributed(rel_files, counts, cols)

    def _build_blooms_distributed(
        self, rel_files: list[str], counts: dict[str, int], cols: list[str]
    ) -> None:
        import pandas as pd

        bpr = self.bloom_bits_per_row
        # suffix → (rel, m_bits): executors see file:// URIs from
        # input_file_name; match on the path suffix
        m_map = {
            rel: self._bloom_m_bits(counts[rel], bpr) for rel in rel_files
        }
        paths = [os.path.join(self.path, rel) for rel in rel_files]
        n_subgroups = 16  # bound per-task pandas memory: a group is one
        # (file, hash-subgroup) slice, not a whole post-OPTIMIZE file;
        # partial bitmaps OR together on the driver (bloom bits are a
        # union — order-free, merge-safe)
        for col in cols:
            col_name = col

            def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
                uri = pdf["__f"].iloc[0]
                rel_match = next(
                    (r for r in m_map if uri.endswith(r)), None
                )
                if rel_match is None:
                    return pd.DataFrame({"__f": [], "__bits": []})
                m_bits = m_map[rel_match]
                return pd.DataFrame(
                    {
                        "__f": [rel_match],
                        "__bits": [_bloom_bitmap(col_name, pdf["__v"], m_bits)],
                    }
                )

            try:
                rows = (
                    self.spark.read.parquet(*paths)
                    .select(
                        F.input_file_name().alias("__f"),
                        F.col(col).cast("string").alias("__v"),
                    )
                    .withColumn(
                        "__sg", F.pmod(F.xxhash64("__v"), F.lit(n_subgroups))
                    )
                    .groupBy("__f", "__sg")
                    .applyInPandas(build, "__f string, __bits binary")
                    .collect()
                )
                import numpy as np

                merged: dict[str, "np.ndarray"] = {}
                for r in rows:
                    part = np.frombuffer(bytes(r["__bits"]), dtype=np.uint8)
                    if r["__f"] in merged:
                        merged[r["__f"]] = np.bitwise_or(merged[r["__f"]], part)
                    else:
                        merged[r["__f"]] = part
                for rel, bits in merged.items():
                    self._write_bloom_atomic(rel, col, bits.tobytes())
            except Exception:  # noqa: BLE001 — blooms are an optimization only
                continue

    def _bloom_bytes(self, rel: str, col: str) -> bytes | None:
        key = f"{rel}|{col}"
        if key not in self._bloom_cache:
            try:
                with open(self._bloom_path(rel, col), "rb") as f:
                    raw = f.read()
                # lookups derive m_bits from the file LENGTH, so the length
                # must match the size the writer derived from the data
                # file's row count — a sidecar truncated ANYWHERE (not just
                # below the 128-byte floor) would hash to the wrong
                # positions and return false NEGATIVES (silently skipped
                # files on the pruned mutation paths). Validate against the
                # expected m_bits from the immutable parquet footer; any
                # mismatch (torn legacy write, partial copy/restore, or a
                # handle opened with a different bits_per_row) treats the
                # bloom as absent, which is safe: lookups answer True
                # (r6 advisor).
                self._bloom_cache[key] = (
                    raw if len(raw) * 8 == self._expected_bloom_bits(rel) else None
                )
            except OSError:
                self._bloom_cache[key] = None
        return self._bloom_cache[key]

    def _expected_bloom_bits(self, rel: str) -> int | None:
        """m_bits a well-formed sidecar for `rel` must have, from the data
        file's row count (footer-only read, cached); None if unreadable."""
        if not hasattr(self, "_bloom_rows_cache"):
            self._bloom_rows_cache: dict[str, int | None] = {}
        if rel not in self._bloom_rows_cache:
            try:
                import pyarrow.parquet as pq

                n = pq.read_metadata(os.path.join(self.path, rel)).num_rows
                self._bloom_rows_cache[rel] = self._bloom_m_bits(
                    n, self.bloom_bits_per_row
                )
            except Exception:  # noqa: BLE001 — blooms are an optimization only
                self._bloom_rows_cache[rel] = None
        return self._bloom_rows_cache[rel]

    def _bloom_may_contain_any(self, rel: str, col: str, values: list) -> bool:
        """False ONLY when the file provably holds none of `values`
        (no false negatives); True when the bloom is missing (safe)."""
        bits = self._bloom_bytes(rel, col)
        if not bits:
            return True
        m_bits = len(bits) * 8
        for v in values:
            if all(
                bits[h >> 3] & (1 << (h & 7))
                for h in _bloom_positions(col, v, m_bits)
            ):
                return True
        return False

    def _bloom_filter_files(self, files: list[str], col: str, values: list) -> list[str]:
        """Drop files whose bloom proves no value can be present. Skipped
        for large value sets (the driver-side test is O(files × values));
        the range join already bounded those."""
        if not values or len(values) > 20_000 or col not in self.bloom_cols:
            return files
        return [f for f in files if self._bloom_may_contain_any(f, col, values)]

    def prune_files_by_keys(
        self, col: str, values: list, version: int | None = None
    ) -> tuple[list[str], int]:
        """Point-lookup pruning: range stats first (when recorded), then
        the per-file bloom — the index a uuid-keyed serving path needs,
        since uniform keys make every file's [min,max] span everything."""
        self.ensure()
        v = self.current_version() if version is None else version
        m = self._load_manifest(v)
        stats = m.get("stats", {})
        vals = [x for x in values if x is not None]
        keep = []
        for f in m["files"]:
            mm = stats.get(f, {}).get(col)
            if mm is not None and vals:
                if not any(mm[0] <= x <= mm[1] for x in vals):
                    continue
            keep.append(f)
        return self._bloom_filter_files(keep, col, vals), len(m["files"])

    def read_pruned_keys(
        self, col: str, values: list, version: int | None = None
    ) -> DataFrame:
        """read() over only the files whose stats/bloom admit one of
        `values` — the point-lookup read path (GET/DELETE by id). The
        caller still applies the row filter; pruning is file-granular."""
        keep, _ = self.prune_files_by_keys(col, values, version)
        v = self.current_version() if version is None else version
        sch = self._schema_at(v)
        if not keep:
            return local_df(self.spark, [], sch)
        return (
            self.spark.read.schema(sch)
            .parquet(*[os.path.join(self.path, f) for f in keep])
        )

    def _collect_stats(self, rel_files: list[str]) -> dict:
        """Per-file column min/max from the parquet footers (int/float/str
        leaves only) — the manifest-level data-skipping index, gathered at
        commit time when the footers are hot. One footer read per NEW file;
        appends reuse the prior manifest's entries untouched. Also builds
        the per-file bloom sidecars here — every commit path that creates
        new files flows through this hook, and the files are hot."""
        self._build_blooms(rel_files)
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in rel_files:
            try:
                md = pq.read_metadata(os.path.join(self.path, rel))
            except Exception:  # noqa: BLE001 — stats are an optimization only
                continue
            # "::rows" is a reserved per-file entry (":" cannot appear in a
            # parquet leaf path): exact footer row count, summed by
            # row_count() for an O(manifest) COUNT(*) with zero file reads
            cols: dict[str, list] = {"::rows": md.num_rows}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes) or not isinstance(mn, (int, float, str)):
                        continue
                    name = col.path_in_schema
                    if name in cols:
                        cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                    else:
                        cols[name] = [mn, mx]
            if cols:
                out[rel] = cols
        return out

    # ---------------------------------------------------------- public API

    def exists(self) -> bool:
        return bool(self._versions())

    def ensure(self) -> None:
        if not self.exists():
            self._try_commit(1, [], "create")

    def read(self, version: int | None = None) -> DataFrame:
        self.ensure()
        v = self.current_version() if version is None else version
        sch = self._schema_at(v)
        files = self._load_manifest(v)["files"]
        if not files:
            return local_df(self.spark, [], sch)
        # files written before a later add_columns lack the new fields;
        # reading them under the version's schema yields nulls there
        return (
            self.spark.read.schema(sch)
            .parquet(*[os.path.join(self.path, f) for f in files])
        )

    def prune_files(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> tuple[list[str], int]:
        """Manifest-level data skipping: the files whose [min, max] for
        `col` can intersect [lo, hi] (None = unbounded), plus the total
        file count. Files without recorded stats are kept (safe). This is
        the Delta/Iceberg skipping index — at 100 TB every skipped file is
        a network fetch that never happens, decided from the MANIFEST with
        zero footer reads at query time."""
        self.ensure()
        v = self.current_version() if version is None else version
        m = self._load_manifest(v)
        stats = m.get("stats", {})
        keep = []
        for f in m["files"]:
            mm = stats.get(f, {}).get(col)
            if mm is None:
                keep.append(f)
                continue
            mn, mx = mm
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                continue
            keep.append(f)
        return keep, len(m["files"])

    def read_pruned(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """read() over only the files `prune_files` keeps. The caller still
        applies the row-level filter — pruning is file-granular."""
        keep, _ = self.prune_files(col, lo, hi, version)
        v = self.current_version() if version is None else version
        sch = self._schema_at(v)
        if not keep:
            return local_df(self.spark, [], sch)
        return (
            self.spark.read.schema(sch)
            .parquet(*[os.path.join(self.path, f) for f in keep])
        )

    def row_count(self, version: int | None = None) -> int | None:
        """Exact COUNT(*) from the manifest alone — every commit records
        each new file's footer row count under the reserved "::rows"
        stats entry, so the total is one manifest read, zero data/footer
        I/O at query time (the Delta `stats.numRecords` fast path).
        Returns None when any file predates the entry (caller falls back
        to read().count())."""
        self.ensure()
        v = self.current_version() if version is None else version
        m = self._load_manifest(v)
        stats = m.get("stats", {})
        total = 0
        for f in m["files"]:
            n = stats.get(f, {}).get("::rows")
            if n is None:
                return None
            total += int(n)
        return total

    def count_rows(self, version: int | None = None) -> int:
        """row_count() with the scan fallback — always exact."""
        n = self.row_count(version)
        return n if n is not None else self.read(version).count()

    def auto_compact(self, max_files: int = 64, n_files: int | None = None) -> bool:
        """Compact when the manifest lists more than `max_files` data
        files — the small-files policy a streaming ingest needs (every
        micro-batch commit adds files; scan cost grows with file count
        even when the data doesn't). Just optimize() under a threshold,
        so it is snapshot-isolated and time-travel-preserving like any
        commit. Returns True iff a compaction committed."""
        self.ensure()
        m = self._load_manifest(self.current_version())
        if len(m["files"]) <= max_files:
            return False
        self.optimize(n_files=n_files or max(1, max_files // 4))
        return True

    def txn_committed(self, txn_app: str, txn_id: int) -> bool:
        """Has (txn_app, txn_id) already committed? The Delta idempotent-
        writer device: a replayed streaming micro-batch carries the same
        ids and must become a no-op, not a duplicate append. Streaming
        batch ids are monotonic per app, so the newest manifest's carried
        txns map answers in O(1) — and keeps answering after a vacuum
        drops the manifest that originally recorded the txn."""
        if self.exists():
            head = self._load_manifest(self.current_version())
            txns = head.get("txns")
            if txns is not None and txn_app in txns:
                return int(txns[txn_app]) >= int(txn_id)
        # legacy tables (pre-txns-map manifests): scan per-manifest records
        for v in reversed(self._versions()):
            if self._load_manifest(v).get("txn") == [txn_app, int(txn_id)]:
                return True
        return False

    def append(
        self,
        df: DataFrame,
        txn_app: str | None = None,
        txn_id: int | None = None,
    ) -> None:
        self.ensure()
        _require_txn_pair(txn_app, txn_id)
        if txn_app is not None and self.txn_committed(txn_app, txn_id):
            return  # replayed batch: already committed, exactly-once holds
        sch = self.current_schema()
        new_files = self._write_commit_files(df, sch)
        new_stats = self._collect_stats(new_files)
        txn = (txn_app, txn_id) if txn_app is not None else None
        while True:  # zero-copy append: retry on a racing commit
            base = self.current_version()
            prev = self._load_manifest(base)
            if txn is not None:
                # re-check against the head we are about to commit onto: a
                # racing writer carrying the SAME txn may have won a retry
                # round, and committing again would double-append
                head_txns = prev.get("txns") or {}
                if txn_app in head_txns and int(head_txns[txn_app]) >= int(txn_id):
                    return
            stats = {**prev.get("stats", {}), **new_stats}
            if self._try_commit(
                base + 1, prev["files"] + new_files, "append", stats, txn,
                self._schema_at(base), prev.get("txns"),
            ):
                return

    def _rewrite(
        self, df: DataFrame, base: int, op: str, txn: tuple[str, int] | None = None
    ) -> None:
        sch = self._schema_at(base) if self.exists() else self.schema
        txns = self._load_manifest(base).get("txns") if self.exists() else None
        new_files = self._write_commit_files(df, sch)
        if not self._try_commit(
            base + 1, new_files, op, self._collect_stats(new_files), txn, sch, txns
        ):
            raise ConcurrentWriteError(
                f"{op}: version {base + 1} was committed by another writer "
                f"after this operation read version {base}"
            )

    def overwrite(self, df: DataFrame) -> None:
        self.ensure()
        # materialize through the commit dir first — the plan may read this
        # table's current files, and they are never touched anyway
        self._rewrite(df, self.current_version(), "overwrite")

    def merge_upsert(
        self,
        updates: DataFrame,
        key_cols: list[str],
        key_cap: int | None = None,
        txn_app: str | None = None,
        txn_id: int | None = None,
    ) -> None:
        """Last-writer-wins upsert. When every key column's min/max is
        recorded in the manifest, this is a FILE-PRUNED merge — the
        Delta MERGE cost model on plain files: files whose key range
        cannot contain an updated key stay in the manifest untouched
        (zero-copy); only the overlapping files are anti-joined and
        rewritten, plus the update rows themselves. Mutations thereby
        cost O(matched files), not O(table) — the property DEVIATIONS #7
        asks of a transactional backend. Files without stats
        for any key column fall back to the full rewrite.

        Touched-file resolution is EXACT at every update cardinality:
        - ≤ `key_cap` distinct keys (default `self.merge_key_cap`): collect
          the key set and bisect it against each file's [min, max] —
          zero extra Spark jobs beyond the collect, ideal for the serving-
          path upsert of a handful of rows;
        - > `key_cap`: a distributed range join — broadcast the per-file
          [min, max] ranges (manifest-sized, already driver-resident) and
          join the distinct update keys against them, collecting only the
          MATCHED FILE NAMES. No truncated sample, no coarse envelope:
          a file is rewritten iff some update key can actually live in it.
        NULL update keys match no file range and no existing row (SQL
        join semantics); those rows simply append as inserts on all paths.

        COMPOSITE keys prune too: a file is touched iff some update row's
        key tuple fits inside the file's per-column [min, max] box — the
        same broadcast range join, with the conjunction over key columns.

        With (txn_app, txn_id) set, the merge is IDEMPOTENT like append:
        an already-committed txn id is a recorded no-op, which makes a
        replayed streaming CDC micro-batch safe (exactly-once MERGE)."""
        self.ensure()
        _require_txn_pair(txn_app, txn_id)
        if txn_app is not None and self.txn_committed(txn_app, txn_id):
            return
        txn = (txn_app, txn_id) if txn_app is not None else None
        if updates.limit(1).count() == 0:
            return  # empty update set: nothing to do on ANY path
        base = self.current_version()
        sch = self._schema_at(base)
        m = self._load_manifest(base)
        if txn is not None:
            # re-check against the base we actually loaded: a racing
            # writer carrying the SAME txn may have committed between the
            # entry check and this read, and committing on top of it
            # would duplicate the batch (same device as append's loop)
            head_txns = m.get("txns") or {}
            if txn_app in head_txns and int(head_txns[txn_app]) >= int(txn_id):
                return
        stats = m.get("stats", {})
        have_stats = all(
            stats.get(f, {}).get(k) is not None for f in m["files"] for k in key_cols
        )
        if not have_stats:
            current = self.read(base)
            survivors = current.join(
                F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
            )
            merged = survivors.unionByName(
                updates.select(*[f.name for f in sch.fields])
            )
            self._rewrite(merged, base, "merge_upsert", txn)
            return
        import bisect

        if key_cap is None:
            key_cap = self.merge_key_cap
        key = key_cols[0]
        nn = F.lit(True)
        for k in key_cols:
            nn = nn & F.col(k).isNotNull()
        keys_df = updates.select(*key_cols).where(nn).distinct()
        if not m["files"]:
            # empty table (first CDC batch): nothing to overlap — the
            # range-join branch would otherwise build a zero-row ranges
            # frame and die on schema inference
            key_rows: list | None = []
        elif len(key_cols) == 1:
            key_rows = keys_df.limit(key_cap + 1).collect()
        else:
            key_rows = None  # composite: always the distributed range join
        if key_rows is not None and len(key_rows) <= key_cap:
            ks = sorted(r[0] for r in key_rows)

            def overlaps(mn, mx):
                i = bisect.bisect_left(ks, mn)
                return i < len(ks) and ks[i] <= mx

            touched = [
                f for f in m["files"] if overlaps(stats[f][key][0], stats[f][key][1])
            ]
            # uuid-grade keys: ranges span everything, the bloom decides
            touched = self._bloom_filter_files(touched, key, ks)
        else:
            ranges = self.spark.createDataFrame(
                [
                    tuple(
                        [f]
                        + [v for k in key_cols for v in (stats[f][k][0], stats[f][k][1])]
                    )
                    for f in m["files"]
                ],
                ["__file"]
                + [c for i in range(len(key_cols)) for c in (f"__mn{i}", f"__mx{i}")],
            )
            cond = F.lit(True)
            for i, k in enumerate(key_cols):
                cond = (
                    cond
                    & (F.col(k) >= F.col(f"__mn{i}"))
                    & (F.col(k) <= F.col(f"__mx{i}"))
                )
            touched_set = {
                r["__file"]
                for r in keys_df.join(F.broadcast(ranges), cond)
                .select("__file")
                .distinct()
                .collect()
            }
            touched = [f for f in m["files"] if f in touched_set]
        untouched = [f for f in m["files"] if f not in set(touched)]
        parts = [updates.select(*[f.name for f in sch.fields])]
        if touched:
            overlap = (
                self.spark.read.schema(sch)
                .parquet(*[os.path.join(self.path, f) for f in touched])
            )
            parts.append(
                overlap.join(
                    F.broadcast(updates.select(*key_cols).distinct()),
                    key_cols,
                    "left_anti",
                )
            )
        rewritten = parts[0]
        for p in parts[1:]:
            rewritten = rewritten.unionByName(p)
        new_files = self._write_commit_files(rewritten, sch)
        new_stats = {
            **{f: stats[f] for f in untouched},
            **self._collect_stats(new_files),
        }
        if not self._try_commit(
            base + 1,
            untouched + new_files,
            "merge_upsert_pruned",
            new_stats,
            txn,
            sch,
            m.get("txns"),
        ):
            raise ConcurrentWriteError(
                f"merge_upsert: version {base + 1} was committed by another "
                f"writer after this operation read version {base}"
            )

    def delete_where(self, condition) -> None:
        self.ensure()
        base = self.current_version()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        self._rewrite(self.read(base).filter(~cond | cond.isNull()), base, "delete")

    def update_where(self, condition, assignments: dict) -> None:
        self.ensure()
        base = self.current_version()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        df = self.read(base)
        for col, val in assignments.items():
            v = F.expr(val) if isinstance(val, str) else val
            df = df.withColumn(col, F.when(cond, v).otherwise(F.col(col)))
        self._rewrite(df, base, "update")

    # ------------------------------------------------------- admin surface

    def history(self) -> list[dict]:
        """One row per version: op, commit time, file count, and (when
        every file carries the '::rows' stats entry) the exact row count
        — the DESCRIBE HISTORY view, all from manifests, zero data I/O."""
        out = []
        for v in self._versions():
            m = self._load_manifest(v)
            row = {k: m[k] for k in ("version", "op", "committed_at")}
            row["n_files"] = len(m["files"])
            stats = m.get("stats", {})
            counts = [stats.get(f, {}).get("::rows") for f in m["files"]]
            row["n_rows"] = (
                sum(int(c) for c in counts) if all(c is not None for c in counts) else None
            )
            out.append(row)
        return out

    def rollback(self, version: int) -> None:
        """Restore `version`'s contents as a NEW commit (history preserved)."""
        m = self._load_manifest(version)
        while True:
            base = self.current_version()
            # carry the HEAD's txn map, not the restored version's: a
            # rollback reverts contents, not the idempotence ledger
            head_txns = self._load_manifest(base).get("txns")
            if self._try_commit(
                base + 1,
                m["files"],
                f"rollback_to_v{version}",
                m.get("stats", {}),
                None,
                self._schema_at(version),
                head_txns,
            ):
                return

    def vacuum(self, keep_last: int = 1, retain_seconds: float = 0.0) -> int:
        """Delete data files unreachable from the newest `keep_last`
        manifests, and drop the older manifests. Returns files deleted.
        Destroys time travel beyond the window — run after it lapses.

        CONCURRENCY: an in-flight writer's data files look exactly like
        crash orphans until its manifest links, so vacuum must either not
        run concurrently with writers, or be given `retain_seconds` larger
        than the longest in-flight commit (Delta's retention period):
        unreferenced files younger than the window are spared, and the
        racing writer's manifest stays valid. Txn idempotence records
        survive regardless — every manifest carries the full per-app txn
        map forward, so dropping old manifests erases no history the
        exactly-once check needs."""
        vs = self._versions()
        keep_vs = vs[-keep_last:] if keep_last else vs
        live: set[str] = set()
        for v in keep_vs:
            live.update(self._load_manifest(v)["files"])
        deleted = 0
        now = time.time()
        import hashlib as _hl

        for p in glob.glob(os.path.join(self.path, "files", "*", "*.parquet")):
            rel = os.path.relpath(p, self.path)
            if rel not in live:
                try:
                    if retain_seconds > 0 and now - os.path.getmtime(p) < retain_seconds:
                        continue  # possibly an in-flight commit: spare it
                except OSError:
                    continue
                os.unlink(p)
                deleted += 1
                # the data file's bloom sidecars die with it
                for bp in glob.glob(
                    os.path.join(
                        self.path, "_blooms", f"{_hl.md5(rel.encode()).hexdigest()}.*"
                    )
                ):
                    with contextlib_suppress(OSError):
                        os.unlink(bp)
        for d in glob.glob(os.path.join(self.path, "files", "*")):
            if not os.listdir(d):
                shutil.rmtree(d, ignore_errors=True)
        for v in vs[:-keep_last] if keep_last else []:
            os.unlink(self._manifest_path(v))
        return deleted

    def optimize(
        self,
        n_files: int | None = None,
        zorder_by: tuple[str, str] | None = None,
        sort_by: str | None = None,
        zorder_bits: int = 16,
    ) -> None:
        """OPTIMIZE as a commit: rewrite the CURRENT version's rows into a
        better layout — fewer files (compaction), single-column clustering
        (`sort_by`), or two-dimensional Z-order clustering (`zorder_by`,
        operators/layout.py Morton code) — without changing contents.
        Because it is just another manifest commit, readers keep snapshot
        isolation throughout, time travel still reaches the pre-optimize
        layout, and the per-file min/max stats recorded at commit give the
        clustered files their data-skipping payoff immediately
        (`prune_files`). Raises ConcurrentWriteError if another commit
        lands mid-rewrite."""
        self.ensure()
        base = self.current_version()
        df = self.read(base)
        if zorder_by is not None:
            from penr_oz_agent_memory_rust_spark.operators.layout import zorder_value

            c1, c2 = zorder_by
            df = df.withColumn(
                "__z", zorder_value(F.col(c1), F.col(c2), zorder_bits)
            )
            df = (
                df.repartitionByRange(n_files or 32, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            op = f"optimize_zorder_{c1}_{c2}"
        elif sort_by is not None:
            df = df.repartitionByRange(n_files or 32, sort_by).sortWithinPartitions(
                sort_by
            )
            op = f"optimize_sort_{sort_by}"
        else:
            df = df.coalesce(n_files or 1)
            op = "optimize_compact"
        self._rewrite(df, base, op)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed between two versions: the table's rows tagged
        `_change_type` ('insert' / 'delete') — what a downstream pipeline
        consumes incrementally instead of re-reading the table.

        Fast path: when every `from` file survives into `to` (pure appends,
        the streaming-ingest steady state), the feed is just a scan of the
        ADDED files — zero-copy, O(new data). Rewrite commits (delete /
        update / upsert / optimize) fall back to a row-level exceptAll diff
        in both directions, O(both snapshots); updates appear as a
        delete+insert pair, and optimize (same rows, new layout) yields an
        empty feed."""
        self.ensure()
        v1 = self.current_version() if to_version is None else to_version
        m0, m1 = self._load_manifest(from_version), self._load_manifest(v1)
        f0, f1 = set(m0["files"]), set(m1["files"])
        # the feed is expressed under the DESTINATION version's schema —
        # columns added between the two versions surface (null for rows
        # written before the add_columns commit), exactly like Delta CDF
        sch1 = self._schema_at(v1)
        ins_type = F.lit("insert").alias("_change_type")
        if f0 <= f1:
            added = sorted(f1 - f0)
            if not added:
                return local_df(self.spark, [], sch1).withColumn(
                    "_change_type", ins_type
                )
            return (
                self.spark.read.schema(sch1)
                .parquet(*[os.path.join(self.path, f) for f in added])
                .withColumn("_change_type", ins_type)
            )
        old, new = self.read(from_version), self.read(v1)
        # align the older snapshot to the destination schema (add_columns
        # only widens, so null-padding the missing columns suffices) or
        # exceptAll throws on the column-count mismatch
        missing = [f for f in sch1.fields if f.name not in set(old.columns)]
        for fld in missing:
            old = old.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        old = old.select(*[f.name for f in sch1.fields])
        new = new.select(*[f.name for f in sch1.fields])
        # Spark refuses set operations on MAP columns; diff maps through a
        # canonical sorted-entries encoding (maps are equal iff their
        # sorted entry arrays are), then decode back
        map_cols = [
            f.name for f in sch1.fields if isinstance(f.dataType, T.MapType)
        ]

        def _enc(df: DataFrame) -> DataFrame:
            for c in map_cols:
                df = df.withColumn(c, F.array_sort(F.map_entries(F.col(c))))
            return df

        def _dec(df: DataFrame) -> DataFrame:
            for c in map_cols:
                df = df.withColumn(c, F.map_from_entries(F.col(c)))
            return df

        old, new = _enc(old), _enc(new)
        inserts = _dec(new.exceptAll(old)).withColumn("_change_type", ins_type)
        deletes = _dec(old.exceptAll(new)).withColumn(
            "_change_type", F.lit("delete").alias("_change_type")
        )
        return inserts.unionByName(deletes)

    def add_columns(self, *fields: T.StructField) -> None:
        """Schema evolution as a METADATA-ONLY commit: widen the table with
        new NULLABLE fields without touching a single data file — existing
        files read as null in the new columns (parquet missing-column
        semantics under an explicit read schema), and subsequent appends
        write them. Time travel still reads old versions under their own
        narrower schema; a handle constructed with the original StructType
        picks the widened schema up from the manifest (current_schema)."""
        sch = self.current_schema()
        existing = {f.name for f in sch.fields}
        for f in fields:
            if f.name in existing:
                raise ValueError(f"column {f.name!r} already exists")
            if not f.nullable:
                raise ValueError(
                    f"new column {f.name!r} must be nullable — existing files "
                    "have no values for it"
                )
        widened = T.StructType(list(sch.fields) + list(fields))
        names = ", ".join(f.name for f in fields)
        while True:
            base = self.current_version()
            m = self._load_manifest(base)
            if self._try_commit(
                base + 1,
                m["files"],
                f"add_columns({names})",
                m.get("stats", {}),
                None,
                widened,
                m.get("txns"),
            ):
                return

    def delete_keys(self, keys: list, key_col: str) -> None:
        """Key-addressed delete with the same file pruning as merge_upsert:
        files whose key range cannot contain any of `keys` stay in the
        manifest zero-copy; only overlapping files are rewritten without
        the matching rows — the serving-path DELETE /memory/{id} becomes
        O(matched files) instead of an O(table) rewrite. Falls back to a
        full delete_where when any file lacks stats for `key_col`."""
        self.ensure()
        # NULL keys address no row (a null key can't equal anything), and
        # None is unorderable against file min/max — strip them up front so
        # the pruned and fallback paths agree
        keys = [k for k in keys if k is not None]
        if not keys:
            return
        base = self.current_version()
        sch = self._schema_at(base)
        m = self._load_manifest(base)
        stats = m.get("stats", {})
        if not all(stats.get(f, {}).get(key_col) is not None for f in m["files"]):
            self.delete_where(F.col(key_col).isin(list(keys)))
            return
        ks = sorted(keys)
        import bisect

        def overlaps(mn, mx):
            i = bisect.bisect_left(ks, mn)
            return i < len(ks) and ks[i] <= mx

        touched = [
            f for f in m["files"] if overlaps(stats[f][key_col][0], stats[f][key_col][1])
        ]
        touched = self._bloom_filter_files(touched, key_col, ks)
        if not touched:
            return  # no file can contain any of the keys
        untouched = [f for f in m["files"] if f not in set(touched)]
        survivors = (
            self.spark.read.schema(sch)
            .parquet(*[os.path.join(self.path, f) for f in touched])
            .filter(~F.col(key_col).isin(list(keys)))
        )
        new_files = self._write_commit_files(survivors, sch)
        new_stats = {
            **{f: stats[f] for f in untouched},
            **self._collect_stats(new_files),
        }
        if not self._try_commit(
            base + 1, untouched + new_files, "delete_keys_pruned", new_stats, None,
            sch, m.get("txns"),
        ):
            raise ConcurrentWriteError(
                f"delete_keys: version {base + 1} was committed by another "
                f"writer after this operation read version {base}"
            )
