"""Snapshot table layer: Iceberg-style commit/resume semantics on parquet.

The reference's persistence is "one JSON file per (annotator, model, sample,
doc); file existence = cache" (reference: docs/architecture.md:158-176,258;
pipeline/image_dataset.py:43-47). At 10^12 docs that is untenable — the
engine's equivalent is a committed-snapshot table:

- every ``commit`` writes a new parquet directory ``data/<snapshot_id>/``
  plus a compare-and-claimed version entry (JSON, see below) recording
  snapshot id, parent, row count, and the per-partition lineage rows;
- ``read_committed`` unions all data dirs reachable from the latest
  manifest — uncommitted/aborted directories are invisible (crash safety);
- resume = left anti-join of the input table against committed keys, which
  replaces the per-file ``result_path.exists()`` check with one distributed
  join (SURVEY §4.2.3).

All filesystem access goes through the Hadoop FileSystem API, so the table
root may be ``file:``, ``hdfs:``, or any configured object-store scheme.

The commit point is a COMPARE-AND-CLAIM on a dense version chain
(``versions/{N:012d}.json``, created with ``overwrite=False``): exactly one
committer can claim each version number, so two racing committers
linearize — the loser's create throws, and it either retries at N+1
(plain ``commit``: appends never conflict logically) or aborts and deletes
its orphaned data files (``commit_cas`` with a stale ``expected_parent`` —
the Iceberg optimistic-concurrency contract). This survives stores without
atomic rename; the one primitive required is an atomic create-if-absent,
which is per-scheme: ``java.io.File.createNewFile`` on ``file:`` (Hadoop's
LocalFileSystem ``create(overwrite=False)`` is a non-atomic exists-probe),
server-side create-exclusive on HDFS, and a conditional PUT on S3A
(If-None-Match via ``fs.s3a.create.conditional.enabled``, Hadoop 3.4.1+ —
required for this layer's guarantees on S3). A committer killed between
claiming a version file and writing its body is reclaimed after
``stale_claim_ms`` instead of wedging the chain. A root that still holds
pre-CAS ``manifests/*.json`` (the old rename commit) is refused with a
``ValueError`` rather than read as an empty table.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class _HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(root).getFileSystem(sc._jsc.hadoopConfiguration())

    def mkdirs(self, path: str) -> None:
        # Hadoop FS returns booleans instead of raising — a silently failed
        # mkdirs/rename would lose the commit while commit() still returns.
        if not self.fs.mkdirs(self._Path(path)):
            raise IOError(f"mkdirs failed: {path}")

    def list_json(self, dirpath: str) -> list[str]:
        """Full paths of *.json children, sorted by file name."""
        p = self._Path(dirpath)
        if not self.fs.exists(p):
            return []
        entries = [
            (str(s.getPath().getName()), str(s.getPath()))
            for s in self.fs.listStatus(p)
        ]
        return [full for name, full in sorted(entries) if name.endswith(".json")]

    def read_json(self, path: str) -> dict:
        stream = self.fs.open(self._Path(path))
        try:
            text = self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def list_dirs(self, dirpath: str) -> list[str]:
        """Child directory names (not paths) of ``dirpath``, sorted."""
        p = self._Path(dirpath)
        if not self.fs.exists(p):
            return []
        return sorted(
            str(s.getPath().getName())
            for s in self.fs.listStatus(p)
            if s.isDirectory()
        )

    def delete(self, path: str) -> None:
        p = self._Path(path)
        if self.fs.exists(p) and not self.fs.delete(p, True):
            raise IOError(f"delete failed: {path}")

    def max_mtime(self, dirpath: str) -> int:
        """Latest modification time (epoch ms) across ``dirpath`` and every
        file under it (recursive ``listFiles`` — one listing call per page,
        object-store friendly). An actively-written snapshot dir keeps
        advancing this as part files land."""
        p = self._Path(dirpath)
        mt = self.fs.getFileStatus(p).getModificationTime()
        it = self.fs.listFiles(p, True)
        while it.hasNext():
            mt = max(mt, it.next().getModificationTime())
        return mt

    def create_exclusive(self, path: str, obj: dict) -> bool:
        """Compare-and-claim publish. The claim primitive is per-scheme:

        - ``file:`` — ``java.io.File.createNewFile`` (O_EXCL). Hadoop's
          LocalFileSystem implements ``create(overwrite=False)`` as an
          ``exists()`` probe followed by an open/truncate, which is a
          check-then-act race, NOT a claim: two racers both pass the probe
          and the second truncates the first's body. The JDK call is the
          real atomic on a local store.
        - everything else — ``create(overwrite=False)``: atomic server-side
          on HDFS; on S3A it requires the conditional-write support
          (``fs.s3a.create.conditional.enabled``, Hadoop 3.4.1+, mapping to
          an If-None-Match PUT) — without it S3A degrades to the same
          probe-then-put race, so that flag is part of this layer's S3
          deployment contract.

        Returns False when the path is already claimed (the caller LOST the
        race — Hadoop surfaces this as an exception, not a boolean, so the
        loss is re-checked against existence before swallowing anything).
        After the body lands the claim is re-read: a stale-claim janitor
        (``_reclaim_stale_claim``) racing a pathologically slow writer could
        have deleted-and-replaced the file mid-write, and returning success
        with the manifest gone would be silent commit loss."""
        jpath = self._Path(path)
        scheme = jpath.toUri().getScheme()
        if scheme in (None, "file"):
            local = self._jvm.java.io.File(jpath.toUri().getPath())
            if not local.createNewFile():
                return False
            out = self.fs.create(jpath, True)  # we own the claim: truncate it
        else:
            try:
                out = self.fs.create(jpath, False)
            except Exception:
                if self.fs.exists(jpath):
                    return False
                raise
        try:
            out.write(bytearray(json.dumps(obj), "utf-8"))
            out.close()
        except Exception:
            # a claimed-but-bodyless version file would wedge every future
            # CAS (readers can never parse the tip) — un-claim before
            # surfacing the write failure
            try:
                out.close()
            except Exception:
                pass
            self.fs.delete(jpath, False)
            raise
        written = self.read_json_or_none(path)
        # compare with the JSON round-trip of obj, not obj: tuples come back
        # as lists and int keys as strings on a body that did land intact
        if written != json.loads(json.dumps(obj)):
            raise IOError(
                f"claim at {path} was reclaimed mid-write: the body on "
                "store is not the manifest this committer wrote"
            )
        return True

    def write_json(self, path: str, obj: dict) -> None:
        """Unconditional overwrite (no claim semantics) — maintenance only."""
        out = self.fs.create(self._Path(path), True)
        try:
            out.write(bytearray(json.dumps(obj), "utf-8"))
        finally:
            out.close()

    def read_json_or_none(self, path: str) -> dict | None:
        """``read_json`` tolerating an in-flight create (a claimed-but-not-
        yet-closed version file on stores where files appear at create):
        unreadable/unparseable → None, the reader skips it this scan."""
        try:
            return self.read_json(path)
        except Exception:
            return None


class SnapshotTable:
    def __init__(
        self, spark: SparkSession, root: str, stale_claim_ms: int = 60_000
    ) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.stale_claim_ms = stale_claim_ms
        self._fs = _HadoopFS(spark, self.root)
        if self._fs.list_json(f"{self.root}/manifests"):
            raise ValueError(
                f"{self.root}/manifests holds pre-CAS rename-committed "
                "manifests, which this table layer no longer reads"
            )
        self._fs.mkdirs(f"{self.root}/data")
        self._fs.mkdirs(f"{self.root}/versions")

    # -- manifest chain -------------------------------------------------------
    # The CAS version chain (versions/{N:012d}.json) orders by version number.

    def snapshots(self) -> list[dict]:
        versioned = [self._fs.read_json_or_none(p)
                     for p in self._fs.list_json(f"{self.root}/versions")]
        # expired tombstones (expire_replaced) hold their version NUMBER so
        # a later claim can never reuse it, but carry no readable snapshot
        return [m for m in versioned if m is not None and not m.get("expired")]

    def latest(self) -> dict | None:
        """Tip of the chain — the LAST READABLE entry, walking version files
        tail-first so a quiet chain costs ONE json read (the commit retry
        loop calls this per attempt; reading every manifest per call would
        make commit cost O(chain length) — the metadata trap a
        10^12-doc table's million-commit history cannot afford). An
        in-flight claimed-but-unwritten tail is skipped, same semantics as
        ``snapshots()``; CAS callers needing opaque-tip detection use
        ``_chain_tip`` instead."""
        paths = self._fs.list_json(f"{self.root}/versions")
        for p in reversed(paths):
            m = self._fs.read_json_or_none(p)
            if m is not None and not m.get("expired"):
                return m
        return None

    def _next_version(self) -> int:
        paths = self._fs.list_json(f"{self.root}/versions")
        if not paths:
            return 1
        tail = paths[-1].rsplit("/", 1)[-1]
        return int(tail.split(".")[0]) + 1

    def _chain_tip(self) -> tuple[dict | None, int]:
        """One consistent observation of the chain for a CAS: the parsed
        manifest at the LISTING tail plus the next claimable version. On
        stores where ``create`` materializes the file before the body lands
        (local FS, HDFS — unlike S3, where a conditional PUT is atomic with
        its content), the tail may be claimed but not yet readable; that
        racer is waited out briefly, then either RECLAIMED (a bodyless
        claim older than ``stale_claim_ms`` is a crashed committer — left
        alone it would wedge every future commit behind a permanently
        opaque tip) or surfaced as an OPAQUE tip (manifest None with
        version > 0) so the caller treats the chain as advanced instead of
        misreading the tip as its grandparent — the hole that would let two
        CAS committers both append to the same parent."""
        while True:
            paths = self._fs.list_json(f"{self.root}/versions")
            if not paths:
                return None, 1
            tail = paths[-1]
            n = int(tail.rsplit("/", 1)[-1].split(".")[0])
            for _ in range(20):
                m = self._fs.read_json_or_none(tail)
                if m is not None:
                    return m, n + 1
                time.sleep(0.05)
            if self._reclaim_stale_claim(tail):
                continue  # crashed committer's claim deleted: re-observe
            return None, n + 1  # young in-flight claim: opaque

    def _reclaim_stale_claim(self, path: str) -> bool:
        """Delete a claimed-but-bodyless version file whose writer is
        provably dead: the body write lands within milliseconds of the
        claim, so an unparseable claim older than ``stale_claim_ms`` is a
        committer killed between claim and body (the in-process cleanup in
        ``create_exclusive`` never ran), not a slow writer. A writer that
        somehow stalls past the threshold and then finishes does NOT lose
        its commit silently — its own post-write re-read in
        ``create_exclusive`` sees the replaced body and raises. Returns
        True when the chain should be re-observed (claim deleted, or it
        vanished under us because another janitor won the same race)."""
        jpath = self._fs._Path(path)
        try:
            st = self._fs.fs.getFileStatus(jpath)
        except Exception:
            return True  # gone already: re-observe
        if int(time.time() * 1000) - st.getModificationTime() <= self.stale_claim_ms:
            return False
        if self._fs.read_json_or_none(path) is not None:
            return False  # body landed while we aged it: not stale
        try:
            self._fs.delete(path)
        except Exception:
            pass  # lost the delete race to another janitor — same outcome
        return True

    # -- write path -----------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        lineage: DataFrame | None = None,
        keys: DataFrame | None = None,
        extra: dict | None = None,
    ) -> str:
        """Append ``df`` as a new snapshot; returns the snapshot id.

        Write-then-claim: data lands under a temp-invisible id; the version
        claim is the commit point (a crash before it leaves an orphan dir
        that no read will ever see).

        ``keys``: the processed input keys. Pass it when an input can
        legitimately produce ZERO output rows (empty-span documents) —
        deriving done-ness from output rows alone would re-process such
        inputs on every resume.
        """
        snap_id, manifest = self._write_snapshot(df, lineage, keys, extra)
        for _ in range(100):
            # parent and version come from ONE chain observation — reading
            # them independently (latest() skips an in-flight tail that
            # _next_version counts) could claim version N+1 with a parent of
            # N-1, recording a fork that silently omits N from the lineage
            tip, version = self._chain_tip()
            if tip is None and version > 1:
                # young opaque claim at the tip: wait for its body to land
                # (or for its stale reclamation) instead of appending past it
                continue
            manifest["parent"] = tip["snapshot_id"] if tip else None
            manifest["version"] = version
            if self._fs.create_exclusive(
                f"{self.root}/versions/{version:012d}.json", manifest
            ):
                return snap_id
        raise IOError(
            f"commit of {snap_id} lost 100 consecutive version claims — "
            "pathological committer contention or a stuck versions/ listing"
        )

    def commit_cas(
        self,
        df: DataFrame,
        expected_parent: str | None,
        keys: DataFrame | None = None,
        extra: dict | None = None,
    ) -> str | None:
        """Conditional commit (Iceberg optimistic-concurrency): append ``df``
        only if the table's latest snapshot is still ``expected_parent``
        (None = expect an empty table). Two committers retrying the same
        logical batch race here: exactly one claims the next version; the
        loser observes the moved chain, deletes its orphaned data/keys
        dirs, and returns None — its caller re-reads the table and decides
        whether its work is already represented (the resume contract)
        instead of double-appending.
        """
        # The claim is BOUND to the version observed while validating the
        # parent: winning create-exclusive at tip+1 proves the chain was at
        # the validated tip when the claim landed — a true CAS. (Claiming
        # "whatever is next" at claim time instead would let a racer whose
        # version file is created but not yet written hide the real tip:
        # we'd validate expected_parent against the grandparent, then
        # successfully claim one PAST the in-flight claim — two appends to
        # the same parent, the exact race this method exists to refuse.)
        tip, version = self._chain_tip()
        if tip is None and version > 1:
            return None  # opaque in-flight claim at the tip: chain moving
        if (tip["snapshot_id"] if tip else None) != expected_parent:
            return None  # stale before any write — nothing to clean
        snap_id, manifest = self._write_snapshot(df, None, keys, extra)
        manifest["parent"] = expected_parent
        manifest["version"] = version
        if self._fs.create_exclusive(
            f"{self.root}/versions/{version:012d}.json", manifest
        ):
            return snap_id
        # lost the claim at exactly tip+1 → someone advanced the chain past
        # expected_parent: abort and clean up the never-visible dirs
        self._fs.delete(manifest["data_dir"])
        if manifest.get("keys_dir"):
            self._fs.delete(manifest["keys_dir"])
        return None

    def _write_snapshot(
        self, df: DataFrame, lineage: DataFrame | None,
        keys: DataFrame | None, extra: dict | None,
    ) -> tuple[str, dict]:
        """Stage data/keys dirs under a fresh snapshot id (invisible until a
        version claim publishes the manifest) and build the manifest."""
        snap_id = f"{int(time.time() * 1000):014d}_{uuid.uuid4().hex[:8]}"
        data_dir = f"{self.root}/data/{snap_id}"
        df.write.mode("errorifexists").parquet(data_dir)
        n_rows = self.spark.read.parquet(data_dir).count()
        keys_dir = None
        if keys is not None:
            keys_dir = f"{self.root}/keys/{snap_id}"
            keys.distinct().write.mode("errorifexists").parquet(keys_dir)
        manifest = {
            "snapshot_id": snap_id,
            "parent": None,
            "data_dir": data_dir,
            "keys_dir": keys_dir,
            "n_rows": n_rows,
            "lineage": (
                [r.asDict() for r in lineage.collect()] if lineage is not None else []
            ),
            **(extra or {}),
        }
        return snap_id, manifest

    # -- read path -------------------------------------------------------------

    def _live_snaps(self, snaps: list[dict]) -> list[dict]:
        """Drop snapshots replaced by a LATER compaction within ``snaps``
        (a compaction manifest lists the ids it rewrote in ``replaces``)."""
        replaced: set[str] = set()
        for s in snaps:
            replaced.update(s.get("replaces") or [])
        return [s for s in snaps if s["snapshot_id"] not in replaced]

    def read_committed(self, as_of: str | None = None) -> DataFrame | None:
        """Union of committed snapshot data (None when table is empty).

        ``as_of``: time travel — read the table as it was at snapshot
        ``as_of`` (inclusive): only data dirs committed up to that manifest
        are visible, exactly the Iceberg ``VERSION AS OF`` contract.
        Snapshot ids are ms-timestamp-prefixed, so manifest name order IS
        commit order. Raises on an unknown snapshot id rather than
        silently returning the full table. Snapshots rewritten by a later
        ``compact()`` are skipped (their data dirs stay on disk for time
        travel until ``expire_replaced()``).
        """
        snaps = self.snapshots()
        if not snaps:
            return None
        if as_of is not None:
            ids = [s["snapshot_id"] for s in snaps]
            if as_of not in ids:
                raise ValueError(
                    f"unknown snapshot {as_of!r}; committed: {ids}"
                )
            snaps = snaps[: ids.index(as_of) + 1]
        dirs = [s["data_dir"] for s in self._live_snaps(snaps)]
        return self.spark.read.parquet(*dirs)

    def committed_keys(self, *cols: str) -> DataFrame | None:
        """Processed-key set: explicit key snapshots where present, plus
        distinct keys of data-only snapshots (mixed histories supported).
        Compaction-replaced snapshots are skipped — ``compact()`` carries
        the unioned key set forward, so resume semantics survive it."""
        snaps = self._live_snaps(self.snapshots())
        if not snaps:
            return None
        key_dirs = [s["keys_dir"] for s in snaps if s.get("keys_dir")]
        data_dirs = [s["data_dir"] for s in snaps if not s.get("keys_dir")]
        parts = []
        if key_dirs:
            parts.append(self.spark.read.parquet(*key_dirs).select(*cols))
        if data_dirs:
            parts.append(self.spark.read.parquet(*data_dirs).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    # -- maintenance -----------------------------------------------------------

    def compact(self, key_cols: tuple[str, ...] = ()) -> str | None:
        """Rewrite all live committed data as ONE snapshot (Iceberg-style
        rewrite): the manifest chain and small-snapshot data dirs otherwise
        grow one entry per incremental commit — at 10^12-doc scale the read
        path would union thousands of directories. The compaction manifest
        records the ids it ``replaces``; replaced data stays on disk (time
        travel to old snapshots keeps working) until ``expire_replaced()``.

        ``key_cols``: REQUIRED when any live snapshot carries an explicit
        key set (inputs with zero output rows) — the unioned keys are
        carried into the compacted snapshot, so resume semantics survive.
        Returns the new snapshot id (None on an empty table).
        """
        snaps = self.snapshots()
        live = self._live_snaps(snaps)
        if not live:
            return None
        if any(s.get("keys_dir") for s in live) and not key_cols:
            raise ValueError(
                "compact() needs key_cols: live snapshots carry explicit key "
                "sets (zero-output inputs) that must survive compaction"
            )
        data = self.spark.read.parquet(*[s["data_dir"] for s in live])
        keys = self.committed_keys(*key_cols) if key_cols else None
        # CAS, not plain append: two concurrent compactions would otherwise
        # BOTH land (appends never conflict logically), neither in the
        # other's replaces list, and read_committed would union two full
        # copies of the table. Bound to the tip observed when `live` was
        # computed, the loser aborts cleanly (its staged dirs deleted) and
        # returns None — the caller re-reads and re-compacts if still worth it.
        tip = snaps[-1]["snapshot_id"]
        return self.commit_cas(
            data, expected_parent=tip, keys=keys,
            extra={"replaces": [s["snapshot_id"] for s in live]},
        )

    def expire_replaced(self) -> list[str]:
        """Physically delete compaction-replaced snapshots (data, keys,
        manifest body) — the retention step that reclaims storage at the
        cost of time travel to those ids. A replaced CAS entry's version
        file is TOMBSTONED, not deleted: deleting it would free the version
        number for reuse, and a slow committer that computed that number
        before the compaction could then win a create-exclusive on a
        chain that had long moved past its expected_parent — a false CAS
        success that double-appends. Returns the expired snapshot ids."""
        snaps = self.snapshots()
        replaced: set[str] = set()
        for s in snaps:
            replaced.update(s.get("replaces") or [])
        expired = []
        for s in snaps:
            sid = s["snapshot_id"]
            if sid not in replaced:
                continue
            self._fs.delete(s["data_dir"])
            if s.get("keys_dir"):
                self._fs.delete(s["keys_dir"])
            self._fs.write_json(
                f"{self.root}/versions/{s['version']:012d}.json",
                {"snapshot_id": sid, "version": s["version"], "expired": True},
            )
            expired.append(sid)
        return expired

    def expire_orphans(self, grace_ms: int = 3_600_000) -> list[str]:
        """Delete staged-but-never-published snapshot dirs — a committer
        that crashed (or lost a CAS race) between staging its data and
        claiming a version leaves dirs no manifest references; reads never
        see them, but they hold storage. A dir goes only when BOTH its
        snapshot-id timestamp (commit-start ms) AND its newest content
        mtime are older than ``grace_ms``: the id prefix alone would delete
        an in-flight commit whose parquet write simply outlasts the grace
        window (a 10^12-doc snapshot write measures in hours), while an
        active write keeps advancing file mtimes and so keeps protecting
        itself regardless of when it started. Returns the deleted snapshot
        ids."""
        referenced = {s["snapshot_id"] for s in self.snapshots()}
        cutoff = int(time.time() * 1000) - grace_ms
        expired = []
        for sub in ("data", "keys"):
            for name in self._fs.list_dirs(f"{self.root}/{sub}"):
                try:
                    born = int(name.split("_", 1)[0])
                except ValueError:
                    continue  # not a snapshot dir this layer staged
                if name in referenced or born > cutoff:
                    continue
                try:
                    if self._fs.max_mtime(f"{self.root}/{sub}/{name}") > cutoff:
                        continue  # write still landing part files: in-flight
                except Exception:
                    continue  # vanished under us (racing janitor/committer)
                self._fs.delete(f"{self.root}/{sub}/{name}")
                if sub == "data":
                    expired.append(name)
        return expired

    def resume_filter(self, inputs: DataFrame, *key_cols: str) -> DataFrame:
        """S4/J3: inputs minus already-committed keys (left anti-join)."""
        done = self.committed_keys(*key_cols)
        if done is None:
            return inputs
        return inputs.join(done, list(key_cols), "left_anti")
