"""Table catalog — the quad-store seam (SURVEY.md D5, O5–O7).

Twine talks to an external SPARQL 1.1 store via libsparqlclient
(``libtwine/sparql.c`` `[U]`, writes serialized through ``writerd``);
the north_star replaces that with partitioned **Iceberg** tables.  The
sandbox has no Iceberg runtime jars (verified), so this module is the
seam: an identical logical layout on plain parquet —

* every table lives under ``<warehouse>/<name>/``;
* doc-keyed tables carry a ``bucket`` column
  ``pmod(xxhash64(doc_id), n_buckets)`` and are directory-partitioned by
  it — the exact emulation of an Iceberg ``bucket(N, doc_id)`` partition
  spec;
* per-bucket overwrite uses dynamic partition-overwrite mode, giving the
  same idempotent graph-replace semantics as Twine's ``sparql-put``
  (replace-named-graph) / Iceberg ``overwritePartitions``.

On a real cluster, swap ``ParquetCatalog`` for an Iceberg catalog and
the pipeline code is unchanged (same (name, bucket) API).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    """Bucket id = ``pmod(xxhash64(CAST(key AS STRING)), n_buckets)``.

    The key is hashed through its canonical STRING form on purpose: the
    raw ``documents`` table carries an int64 ``doc_id`` while every
    downstream stage carries the string-cast ``doc_id`` (span synthesis
    casts it), and ``xxhash64(42L) != xxhash64('42')``.  Per-bucket
    resume overwrites whatever output partitions the pending input
    buckets produce — input and output rows for the same document MUST
    land in the same bucket id or a resume's dynamic partition
    overwrite replaces partitions holding completed buckets' rows
    (data loss; see tests/test_checkpoint.py kill-tests per stage).
    """
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int"),
    )


@dataclass
class ParquetCatalog:
    root: str
    n_buckets: int = DEFAULT_BUCKETS

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def write_bucketed(
        self, df: DataFrame, name: str, partition_cols: list[str] | None = None
    ) -> None:
        """Overwrite only the partitions present in ``df`` (dynamic
        partition overwrite) — the sparql-put / MERGE analogue.
        ``partition_cols`` defaults to ["bucket"]; streaming appends add
        a batch key so batches never clobber each other."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*(partition_cols or ["bucket"]))
            .parquet(self.path(name))
        )

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(self.path(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self.path(name))


class SnapshotCatalog(ParquetCatalog):
    """Iceberg-SNAPSHOT emulation on plain parquet (round 6 — the
    isolation half of the catalog seam; ``ParquetCatalog`` above covers
    layout/partitioning only and overwrites data files in place, so an
    in-flight reader can observe a torn table mid-replace).

    Mechanics, mirroring the table-format design one-to-one:

    * every commit writes its data files into an IMMUTABLE directory
      ``<table>/_data/v<N>/`` — existing files are never modified or
      deleted by later commits;
    * a JSON manifest ``<table>/_manifests/v<N>.json`` maps each
      partition directory to the commit that last replaced it; the
      manifest is published with write-temp + ``os.rename`` — atomic on
      POSIX, so a reader lists either the old manifest set or the new
      one, never a half-written file;
    * ``read_at(version)`` resolves a manifest to its exact file set —
      a pinned SNAPSHOT: concurrent ``commit_replace`` calls cannot
      perturb it (they only add files and publish new manifests), which
      is snapshot isolation; reading an OLD version is time travel;
    * commits serialize through the store writer lock
      (rdfio._StoreWriteLock — the writerd seam), making the
      read-manifest → write-data → publish-manifest sequence atomic
      against other writers.

    On a real cluster this class is replaced by an Iceberg catalog
    (snapshots + manifest lists are the native mechanism); the API —
    ``commit_replace`` / ``read_at`` / ``versions`` — matches what the
    pipeline needs from either."""

    def _mdir(self, name: str) -> str:
        return os.path.join(self.path(name), "_manifests")

    def _ddir(self, name: str) -> str:
        return os.path.join(self.path(name), "_data")

    def versions(self, name: str) -> list[int]:
        mdir = self._mdir(name)
        if not os.path.isdir(mdir):
            return []
        out = []
        for f in os.listdir(mdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _load_manifest(self, name: str, version: int) -> dict:
        import json

        with open(os.path.join(self._mdir(name), f"v{version}.json")) as f:
            return json.load(f)

    def commit_replace(
        self, df: DataFrame, name: str, partition_col: str = "bucket",
        lock_timeout: float = 60.0,
    ) -> int:
        """Replace exactly the partitions present in ``df`` (the
        graph-replace / Iceberg ``overwritePartitions`` analogue) as a
        new snapshot; untouched partitions keep pointing at their prior
        commits' files.  Returns the published version."""
        import json

        from .rdfio import _StoreWriteLock

        table = self.path(name)
        with _StoreWriteLock(table, timeout=lock_timeout):
            vs = self.versions(name)
            prev = self._load_manifest(name, vs[-1]) if vs else {
                "version": 0, "partition_col": partition_col, "parts": {},
            }
            if prev["partition_col"] != partition_col:
                raise ValueError(
                    f"partition_col mismatch: table has "
                    f"{prev['partition_col']!r}, got {partition_col!r}"
                )
            n = prev["version"] + 1
            vtag = f"v{n}"
            data = os.path.join(self._ddir(name), vtag)
            df.write.mode("error").partitionBy(partition_col).parquet(data)
            parts = dict(prev["parts"])
            for d in sorted(os.listdir(data)):
                if d.startswith(f"{partition_col}="):
                    parts[d] = vtag
            manifest = {
                "version": n, "partition_col": partition_col, "parts": parts,
            }
            os.makedirs(self._mdir(name), exist_ok=True)
            tmp = os.path.join(self._mdir(name), f".v{n}.json.tmp")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.rename(tmp, os.path.join(self._mdir(name), f"v{n}.json"))
            return n

    def read_at(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        """The table at manifest ``version`` (default: latest) — a
        pinned file set grouped per commit directory so Spark keeps the
        partition column via basePath; versions union by name.  The
        manifest resolution is metadata-scale (one dir per partition);
        the data read is exactly the snapshot's files."""
        vs = self.versions(name)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot for {name!r}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"unknown version {v} for {name!r} (have {vs})")
        m = self._load_manifest(name, v)
        by_commit: dict[str, list[str]] = {}
        for pdir, vtag in sorted(m["parts"].items()):
            by_commit.setdefault(vtag, []).append(pdir)
        out = None
        for vtag, pdirs in sorted(by_commit.items()):
            base = os.path.join(self._ddir(name), vtag)
            paths = [os.path.join(base, d) for d in pdirs]
            part = spark.read.option("basePath", base).parquet(*paths)
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise ValueError(f"manifest v{v} of {name!r} lists no partitions")
        return out

    # ---- cross-table transactions -------------------------------------

    def _txn_dir(self) -> str:
        return os.path.join(self.root, "_txn")

    def txn_versions(self) -> list[int]:
        tdir = self._txn_dir()
        if not os.path.isdir(tdir):
            return []
        out = []
        for f in os.listdir(tdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def commit_txn(
        self,
        replacements: dict[str, DataFrame],
        partition_col: str = "bucket",
        lock_timeout: float = 60.0,
    ) -> int:
        """Cross-table ATOMIC commit: replace partitions in several
        tables such that a ``read_txn`` reader sees ALL tables' new
        versions or NONE — the multi-table transaction Iceberg exposes
        as a catalog-level commit, and the property the twine
        generate stage wants when entities + attrs + props must stay
        mutually consistent.

        Mechanics: per-table ``commit_replace`` snapshots first (each
        immutable and invisible to txn readers until referenced), then
        ONE catalog-level txn manifest mapping table → version is
        published with write-temp + atomic rename.  A writer dying
        between the table commits and the txn publish leaves only
        orphan table versions (never a torn transaction) — the same
        all-or-nothing failure mode as Iceberg's metadata swap.
        Writers serialize on a catalog-root lock; table versions
        committed OUTSIDE a transaction never appear to txn readers."""
        import json

        from .rdfio import _StoreWriteLock

        os.makedirs(self.root, exist_ok=True)
        with _StoreWriteLock(self.root, timeout=lock_timeout):
            tvs = self.txn_versions()
            prev = {}
            if tvs:
                with open(
                    os.path.join(self._txn_dir(), f"v{tvs[-1]}.json")
                ) as f:
                    prev = json.load(f)["tables"]
            tables = dict(prev)
            for name, df in sorted(replacements.items()):
                tables[name] = self.commit_replace(
                    df, name, partition_col=partition_col,
                    lock_timeout=lock_timeout,
                )
            n = (tvs[-1] if tvs else 0) + 1
            os.makedirs(self._txn_dir(), exist_ok=True)
            tmp = os.path.join(self._txn_dir(), f".v{n}.json.tmp")
            with open(tmp, "w") as f:
                json.dump({"txn": n, "tables": tables}, f)
            os.rename(tmp, os.path.join(self._txn_dir(), f"v{n}.json"))
            return n

    def read_txn(
        self, spark: SparkSession, version: int | None = None
    ) -> dict[str, DataFrame]:
        """All tables of transaction ``version`` (default: latest) as a
        mutually-consistent snapshot: every frame is pinned to the
        exact per-table version the txn manifest recorded, so a
        concurrent ``commit_txn`` (or a stray out-of-txn
        ``commit_replace``) cannot tear the view."""
        import json

        tvs = self.txn_versions()
        if not tvs:
            raise FileNotFoundError("no committed transaction")
        v = tvs[-1] if version is None else version
        if v not in tvs:
            raise ValueError(f"unknown txn {v} (have {tvs})")
        with open(os.path.join(self._txn_dir(), f"v{v}.json")) as f:
            tables = json.load(f)["tables"]
        return {
            name: self.read_at(spark, name, tv)
            for name, tv in sorted(tables.items())
        }


def snapshot_diff(
    spark: SparkSession,
    cat: "SnapshotCatalog",
    name: str,
    v_old: int,
    v_new: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Round-6c: SNAPSHOT DIFF — the change set between two committed
    versions of a snapshot table, the time-travel application (what
    did this graph-replace actually change?): rows present only in
    v_new tagged '+', only in v_old tagged '-', bag semantics via
    exceptAll both ways (a row appearing twice in new and once in old
    diffs as one '+').  Partition-level pruning comes free: both
    reads resolve through their manifests, and at cluster scale the
    manifest comparison could skip partitions whose commit tag is
    identical in both versions — the local implementation documents
    that seam and diffs the data (exceptAll = one hash aggregation
    per side)."""
    old = cat.read_at(spark, name, v_old)
    new = cat.read_at(spark, name, v_new)
    if key_cols:
        old = old.select(*key_cols)
        new = new.select(*key_cols)
    added = new.exceptAll(old).withColumn("change", F.lit("+"))
    removed = old.exceptAll(new).withColumn("change", F.lit("-"))
    return added.unionByName(removed)


def expire_snapshots(
    cat: "SnapshotCatalog", name: str, keep_last: int = 2,
    lock_timeout: float = 60.0,
) -> dict:
    """Round-6c: SNAPSHOT EXPIRY — the storage-maintenance half of the
    snapshot seam (Iceberg ``expireSnapshots`` analogue): drop all but
    the newest ``keep_last`` manifests, then delete every commit data
    directory no surviving manifest references.  Readers pinned to a
    SURVIVING version are unaffected (their file set is untouched);
    time travel older than the horizon is intentionally gone.  Runs
    under the store writer lock so no concurrent commit can publish a
    manifest referencing a directory mid-delete.  Returns
    {"kept_versions", "removed_versions", "removed_dirs"}."""
    import shutil

    from .rdfio import _StoreWriteLock

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    table = cat.path(name)
    with _StoreWriteLock(table, timeout=lock_timeout):
        vs = cat.versions(name)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot for {name!r}")
        # versions pinned by ANY surviving cross-table transaction
        # manifest stay live regardless of the horizon: expiring them
        # would tear read_txn on an older transaction.  (Expire old
        # txn manifests first — expire_txns — to release their pins.
        # Safe without the catalog-root lock: a concurrent commit_txn
        # can only pin versions carried forward from the latest txn
        # manifest, which this read preserves, or brand-new ones.)
        import json as _json

        pinned: set[int] = set()
        tdir = getattr(cat, "_txn_dir", lambda: None)()
        if tdir and os.path.isdir(tdir):
            for tv in cat.txn_versions():
                with open(os.path.join(tdir, f"v{tv}.json")) as f:
                    tables = _json.load(f)["tables"]
                if name in tables:
                    pinned.add(tables[name])
        keep = set(vs[-keep_last:]) | (pinned & set(vs))
        kept = [v for v in vs if v in keep]
        removed = [v for v in vs if v not in keep]
        live_tags = set()
        for v in kept:
            live_tags.update(cat._load_manifest(name, v)["parts"].values())
            live_tags.add(f"v{v}")  # a commit dir may hold only replaced parts
        for v in removed:
            os.remove(os.path.join(cat._mdir(name), f"v{v}.json"))
        removed_dirs = []
        ddir = cat._ddir(name)
        if os.path.isdir(ddir):
            for d in sorted(os.listdir(ddir)):
                if d.startswith("v") and d not in live_tags:
                    shutil.rmtree(os.path.join(ddir, d))
                    removed_dirs.append(d)
        return {
            "kept_versions": kept,
            "removed_versions": removed,
            "removed_dirs": removed_dirs,
        }


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Register ``df`` as a metastore-bucketed, bucket-sorted table —
    the layout that makes repeated big-big equi-joins on ``key``
    SHUFFLE-FREE: two tables bucketed the same way join bucket-to-
    bucket with no Exchange on either side (and no Sort when both are
    sortBy the key), which at 100 TB turns the dominant join cost into
    a local merge.  This is the Spark-native analogue of the
    co-located proxy/membership joins the generate stage repeats —
    pay one bucketed write, then every downstream join on the key is
    exchange-free (verified by plan gate in tests/test_r6e_ops.py).

    Uses saveAsTable because bucket metadata lives in the session
    catalog — plain ``.parquet(path)`` cannot record it."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def expire_txns(
    cat: "SnapshotCatalog", keep_last: int = 2, lock_timeout: float = 60.0
) -> dict:
    """Expire old cross-table transaction manifests (metadata-only:
    one JSON file per txn) — releasing their per-table version pins so
    a subsequent :func:`expire_snapshots` can reclaim the data those
    transactions referenced.  Runs under the catalog-root lock shared
    with :meth:`SnapshotCatalog.commit_txn`."""
    from .rdfio import _StoreWriteLock

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    with _StoreWriteLock(cat.root, timeout=lock_timeout):
        tvs = cat.txn_versions()
        if not tvs:
            return {"kept_txns": [], "removed_txns": []}
        kept, removed = tvs[-keep_last:], tvs[:-keep_last]
        for v in removed:
            os.remove(os.path.join(cat._txn_dir(), f"v{v}.json"))
        return {"kept_txns": kept, "removed_txns": removed}
