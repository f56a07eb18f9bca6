"""Manifest-based snapshot versioning: Iceberg-style time travel,
rollback and commit-conflict detection on a plain parquet lake.

The reference gets snapshots, time travel and atomic commits from
Iceberg merge-on-read v2 tables (``/root/reference/spark/schemas/
bronze_schema.py:246-254``) with commit retries on conflict
(``bronze_streaming_job.py:364-374``). That table format is
environment-blocked in this sandbox (README.md probe), so this module
implements the *semantics* directly over immutable parquet data files
plus JSON manifests — the same design Iceberg's metadata layer uses:

- **Immutable data files.** Every commit writes NEW files under
  ``data/commit-v{N}/``; no commit ever mutates or deletes an existing
  file. Readers of old snapshots are never invalidated.
- **Manifest per version.** ``manifests/v{N}.json`` lists exactly the
  data files visible at that version (append = parent files + new,
  overwrite = new only), so a snapshot read is "load the listed files"
  — O(1) metadata, no directory listing of the whole table.
- **Atomic, conflict-checked commits.** The full manifest is written
  to a per-writer tmp file and ``os.link``ed into place — an atomic
  create-with-content, so a mid-write crash can never leave a torn
  committed manifest, and of two racing writers exactly one claims the
  version (the loser gets ``SnapshotConflictError`` and retries on
  fresh state, exactly like the reference's Iceberg retry loop). Each
  writer stages data into its own pid-suffixed commit dir so the
  conflict loser never clobbers the winner's files.
- **Metadata-only rollback.** Rolling back re-points a NEW version at
  an old version's file list; nothing is rewritten (Iceberg's
  ``rollback_to_snapshot``).

At 100 TB the manifests stay KB-sized (file paths, not rows) and every
read remains a pruned parquet scan over the listed files; expiring old
snapshots = deleting unreferenced ``commit-v*`` dirs, the same GC
``expire_snapshots`` performs.
"""

from __future__ import annotations

import json
import os
import re
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .merge import materialize

MANIFEST_DIR = "manifests"
DATA_DIR = "data"
_MANIFEST_RE = re.compile(r"^v(\d{6})\.json$")


class SnapshotConflictError(RuntimeError):
    """Another writer committed the version this commit targeted."""


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, MANIFEST_DIR, f"v{version:06d}.json")


def versions(path: str) -> list[int]:
    mdir = os.path.join(path, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(path: str) -> int | None:
    vs = versions(path)
    return vs[-1] if vs else None


def read_manifest(path: str, version: int) -> dict[str, Any]:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def _commit_manifest(path: str, version: int, manifest: dict[str, Any]) -> None:
    mdir = os.path.join(path, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    target = _manifest_path(path, version)
    # Atomic, torn-free claim: the full JSON is written (and fsynced) to
    # a per-writer tmp file first, then LINKED into place — os.link
    # fails with FileExistsError if the version is already claimed, so
    # of two racing writers exactly one commits and the loser gets
    # SnapshotConflictError on fresh state (a check-then-os.replace
    # would let both "succeed", and writing through an O_EXCL fd would
    # leave a torn manifest on a mid-write crash). Data files are safe
    # under the loser: every writer stages into its own pid+thread
    # suffixed commit dir (see _commit_dir — pid alone is NOT unique:
    # two driver threads racing commits share a pid, the Iceberg
    # commit.retry scenario of ``bronze_schema.py:252-253``).
    tmp = f"{target}.tmp.{_writer_tag()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise SnapshotConflictError(
            f"version {version} already committed at {path}"
        ) from None
    finally:
        os.remove(tmp)


def _writer_tag() -> str:
    """Unique tag per concurrent writer: pid for cross-process races,
    thread id for same-process driver threads racing commits."""
    import threading

    return f"p{os.getpid()}-t{threading.get_ident()}"


def _commit_dir(path: str, label: str) -> str:
    """Per-attempt data directory: the pid+thread suffix keeps
    concurrent writers (who may race for the same version number) from
    clobbering each other's staged files before the manifest claim
    decides the winner."""
    return os.path.join(path, DATA_DIR, f"{label}-{_writer_tag()}")


def _data_files(commit_dir: str) -> list[str]:
    return sorted(
        os.path.join(commit_dir, f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )


def _write_counted(df: DataFrame, commit_dir: str) -> int:
    """Write ``df`` as the parquet files of ``commit_dir``; return its
    row count, observed on the write itself (no read-back job)."""
    written = Observation()
    df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(
        commit_dir
    )
    return written.get["rows"]


def snapshot_write(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    mode: str = "append",
    operation: str | None = None,
) -> int:
    """Commit ``df`` as a new snapshot; returns the new version.

    ``mode='append'`` keeps the parent's files visible; ``'overwrite'``
    replaces the visible set (old files remain on disk for old-version
    readers — snapshot isolation, not deletion). ``operation`` labels
    the manifest (default: the mode) — streaming sinks stamp their
    micro-batch id here so replays can detect already-committed batches
    (``streaming/ingest.py:start_snapshot_sink``).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    parent = current_version(path)
    version = (parent or 0) + 1
    commit_dir = _commit_dir(path, f"commit-v{version:06d}")
    n_rows = _write_counted(df, commit_dir)
    new_files = _data_files(commit_dir)
    files = list(new_files)
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation or mode,
        "files": files,
        "file_seqs": {f: version for f in new_files},
        "n_rows": n_rows,
    }
    if mode == "append" and parent is not None:
        parent_manifest = read_manifest(path, parent)
        manifest["files"] = parent_manifest["files"] + new_files
        manifest["file_seqs"] = {
            **parent_manifest.get("file_seqs", {}),
            **manifest["file_seqs"],
        }
        manifest["n_rows"] = parent_manifest["n_rows"] + n_rows
        # MoR: an append must carry the parent's delete files forward —
        # dropping them would resurrect deleted rows (sequence numbers
        # keep them from touching the NEW files)
        if parent_manifest.get("deletes"):
            manifest["deletes"] = parent_manifest["deletes"]
            manifest["delete_keys"] = parent_manifest["delete_keys"]
            manifest["delete_seqs"] = parent_manifest.get("delete_seqs", {})
        if parent_manifest.get("pos_deletes"):
            manifest["pos_deletes"] = parent_manifest["pos_deletes"]
            manifest["pos_delete_seqs"] = parent_manifest.get("pos_delete_seqs", {})
    _commit_manifest(path, version, manifest)
    return version


def committed_operations(path: str) -> set[str]:
    """Operation labels of every committed snapshot — the replay-dedup
    lookup for streaming commits (KB-scale metadata read)."""
    return {read_manifest(path, v)["operation"] for v in versions(path)}


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the table as of ``version`` (default: latest).
    Merge-on-read: any equality-delete files committed by
    :func:`snapshot_delete` apply as a left-anti join on the delete
    keys at scan time — the deleted-key side is tiny relative to the
    data, so Spark broadcasts it and the merge costs one scan."""
    if version is None:
        version = current_version(path)
    if version is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = read_manifest(path, version)
    if not m["files"]:
        # a legitimately empty snapshot (overwrite with a no-row frame):
        # reconstruct an empty frame from the nearest ancestor WITH
        # files so the schema survives; a table whose entire history is
        # empty has no schema to offer
        v = m.get("parent")
        while v is not None:
            pm = read_manifest(path, v)
            if pm["files"]:
                return spark.read.parquet(*pm["files"]).limit(0)
            v = pm.get("parent")
        raise FileNotFoundError(
            f"snapshot v{version} at {path} is empty and no ancestor has a schema"
        )
    if not m.get("deletes") and not m.get("pos_deletes"):
        return spark.read.parquet(*m["files"])
    # sequence-aware merge (Iceberg v2 semantics, both delete encodings):
    # an EQUALITY delete kills a matching key only in data files STRICTLY
    # OLDER than the delete's commit (dseq > seq — a key re-inserted
    # after its delete survives); a POSITION delete kills the exact
    # (file, row-position) it names in files at-or-before its commit
    # (dseq >= seq — the file it targets necessarily predates it, and a
    # file appended later can never collide because its path is new).
    return _visible_with_pos(spark, m).drop("__fp", "__pos")


def _read_with_seq(
    spark: SparkSession,
    paths: list[str],
    seqs: dict[str, int],
    col: str,
    with_pos: bool = False,
) -> DataFrame:
    """Read parquet files annotated with their commit sequence number
    (0 for files from manifests predating sequence tracking).
    ``with_pos`` additionally exposes the scan-provided ``_metadata``
    file path / row position as ``__fp`` / ``__pos`` — the coordinates
    position-delete files address (computed by the parquet reader
    itself, so they are stable across re-reads of immutable files)."""
    groups: dict[int, list[str]] = {}
    for p in paths:
        groups.setdefault(int(seqs.get(p, 0)), []).append(p)
    parts = []
    for s, ps in sorted(groups.items()):
        df = spark.read.parquet(*ps)
        if with_pos:
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        parts.append(df.withColumn(col, F.lit(s).cast("long")))
    return reduce(DataFrame.unionByName, parts)


def rollback(path: str, to_version: int) -> int:
    """Metadata-only rollback: commit a new version whose visible file
    set is exactly ``to_version``'s. History is preserved (audit trail),
    nothing is rewritten."""
    target = read_manifest(path, to_version)
    parent = current_version(path)
    version = (parent or 0) + 1
    manifest = {
        "version": version,
        "parent": parent,
        "operation": f"rollback-to-v{to_version}",
        "files": target["files"],
        "n_rows": target["n_rows"],
    }
    manifest["file_seqs"] = target.get("file_seqs", {})
    if target.get("deletes"):
        manifest["deletes"] = target["deletes"]
        manifest["delete_keys"] = target["delete_keys"]
        manifest["delete_seqs"] = target.get("delete_seqs", {})
    if target.get("pos_deletes"):
        manifest["pos_deletes"] = target["pos_deletes"]
        manifest["pos_delete_seqs"] = target.get("pos_delete_seqs", {})
    _commit_manifest(path, version, manifest)
    return version


def snapshot_history(path: str) -> list[dict[str, Any]]:
    """One dict per version: version, parent, operation, file/row counts."""
    out = []
    for v in versions(path):
        m = read_manifest(path, v)
        out.append(
            {
                "version": v,
                "parent": m["parent"],
                "operation": m["operation"],
                "n_files": len(m["files"]),
                "n_rows": m["n_rows"],
            }
        )
    return out


def snapshot_delete(
    spark: SparkSession,
    path: str,
    delete_keys: DataFrame,
    key_cols: list[str],
) -> int:
    """MERGE-ON-READ equality delete (the reference's Iceberg v2 write
    mode, ``bronze_schema.py:246-254``): instead of rewriting data
    files, commit a tiny DELETE file holding just the keys; readers
    apply it as a left-anti join at scan time. Deletes against a 100 TB
    table cost O(|deleted keys|) write — the whole point of MoR — at
    the price of a read-time anti join that accumulates until
    :func:`materialize_deletes` folds them back into data files
    (Iceberg's rewrite_data_files)."""
    parent = current_version(path)
    if parent is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    pm = read_manifest(path, parent)
    if pm.get("delete_keys") and pm["delete_keys"] != key_cols:
        raise ValueError(
            f"existing delete files use keys {pm['delete_keys']}, got {key_cols}"
        )
    version = parent + 1
    ddir = _commit_dir(path, f"deletes-v{version:06d}")
    delete_keys.select(*key_cols).write.mode("overwrite").parquet(ddir)
    new_deletes = _data_files(ddir)
    _commit_manifest(
        path,
        version,
        {
            "version": version,
            "parent": parent,
            "operation": "delete",
            "files": pm["files"],
            "file_seqs": pm.get("file_seqs", {}),
            "deletes": pm.get("deletes", []) + new_deletes,
            "delete_keys": key_cols,
            "delete_seqs": {
                **pm.get("delete_seqs", {}),
                **{f: version for f in new_deletes},
            },
            **(
                {
                    "pos_deletes": pm["pos_deletes"],
                    "pos_delete_seqs": pm.get("pos_delete_seqs", {}),
                }
                if pm.get("pos_deletes")
                else {}
            ),
            "n_rows": pm["n_rows"],  # logical rows pre-merge; reads subtract
        },
    )
    return version


def snapshot_delete_positions(
    spark: SparkSession,
    path: str,
    predicate,
) -> int:
    """MERGE-ON-READ **position** delete — Iceberg v2's second delete
    encoding (spec: position delete files; reference table property
    ``write.delete.mode=merge-on-read``, ``bronze_schema.py:246-254``).
    Where :func:`snapshot_delete` names deleted KEYS, this names deleted
    COORDINATES: the rows of the current snapshot matching ``predicate``
    (a pyspark Column) are resolved to ``(file_path, pos)`` via the
    parquet scan's ``_metadata`` column and committed as a tiny delete
    file; no data file is rewritten. Readers drop exactly those
    positions from files at-or-before this commit's sequence number —
    rows appended LATER live in new files and can never be hit, which
    is the sequence-scoping guarantee the registered
    ``snapshot_mor_position_deletes`` query proves against an oracle.

    Engine cost mirrors Iceberg's: the write is one pruned scan of the
    visible data (predicate pushed to parquet) emitting only matched
    coordinates; the read-time merge is an anti join against a
    delete-file side that is tiny relative to the table, so Spark
    broadcasts it.
    """
    parent = current_version(path)
    if parent is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    pm = read_manifest(path, parent)
    if not pm["files"]:
        # DELETE WHERE on a legitimately empty snapshot (e.g. after a
        # delete-all overwrite) is a no-op: commit a version that
        # carries the parent's (empty) state forward instead of letting
        # _read_with_seq reduce() over zero parts raise an opaque
        # TypeError (ADVICE r7)
        version = parent + 1
        carried = {
            k: pm[k]
            for k in (
                "file_seqs", "deletes", "delete_keys", "delete_seqs",
                "pos_deletes", "pos_delete_seqs",
            )
            if pm.get(k)
        }
        _commit_manifest(
            path,
            version,
            {
                "version": version,
                "parent": parent,
                "operation": "delete-positions",
                "files": [],
                **carried,
                "n_rows": pm["n_rows"],
            },
        )
        return version
    # resolve predicate -> positions over the CURRENT visible rows:
    # already-deleted rows are not visible, so their coordinates are
    # never re-deleted (idempotent DELETE WHERE, as Iceberg plans it)
    visible = _visible_with_pos(spark, pm)
    positions = (
        visible.filter(predicate)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
        .distinct()
    )
    version = parent + 1
    ddir = _commit_dir(path, f"pos-deletes-v{version:06d}")
    positions.write.mode("overwrite").parquet(ddir)
    new_deletes = _data_files(ddir)
    _commit_manifest(
        path,
        version,
        {
            "version": version,
            "parent": parent,
            "operation": "delete-positions",
            "files": pm["files"],
            "file_seqs": pm.get("file_seqs", {}),
            **(
                {
                    "deletes": pm["deletes"],
                    "delete_keys": pm["delete_keys"],
                    "delete_seqs": pm.get("delete_seqs", {}),
                }
                if pm.get("deletes")
                else {}
            ),
            "pos_deletes": pm.get("pos_deletes", []) + new_deletes,
            "pos_delete_seqs": {
                **pm.get("pos_delete_seqs", {}),
                **{f: version for f in new_deletes},
            },
            "n_rows": pm["n_rows"],  # logical rows pre-merge; reads subtract
        },
    )
    return version


def _visible_with_pos(spark: SparkSession, m: dict[str, Any]) -> DataFrame:
    """The manifest's visible rows with ``__fp``/``__pos`` coordinates
    retained — the resolution scan position deletes are planned from
    (both existing delete encodings applied, sequence-scoped)."""
    data = _read_with_seq(
        spark, m["files"], m.get("file_seqs", {}), "__seq", with_pos=True
    )
    if m.get("deletes"):
        dk = (
            _read_with_seq(spark, m["deletes"], m.get("delete_seqs", {}), "__dseq")
            .select(*m["delete_keys"], "__dseq")
            .distinct()
        )
        cond = reduce(
            lambda a, b: a & b,
            [data[k] == dk[k] for k in m["delete_keys"]]
            + [dk["__dseq"] > data["__seq"]],
        )
        data = data.join(dk, cond, "left_anti")
    if m.get("pos_deletes"):
        pd = (
            _read_with_seq(
                spark, m["pos_deletes"], m.get("pos_delete_seqs", {}), "__pdseq"
            )
            .select("file_path", "pos", "__pdseq")
            .distinct()
        )
        cond = (
            (data["__fp"] == pd["file_path"])
            & (data["__pos"] == pd["pos"])
            & (pd["__pdseq"] >= data["__seq"])
        )
        data = data.join(pd, cond, "left_anti")
    return data.drop("__seq")


def materialize_deletes(spark: SparkSession, path: str) -> int:
    """Fold accumulated delete files into rewritten data files
    (merge-on-read -> copy-on-write compaction): reads the current
    snapshot (deletes applied), commits it as a clean overwrite with no
    delete files. Old versions still time-travel correctly — their
    manifests keep referencing the original data+delete files."""
    parent = current_version(path)
    if parent is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    merged, stats = materialize(read_snapshot(spark, path, parent))
    version = parent + 1
    commit_dir = _commit_dir(path, f"commit-v{version:06d}")
    merged.write.mode("overwrite").parquet(commit_dir)
    files = _data_files(commit_dir)
    _commit_manifest(
        path,
        version,
        {
            "version": version,
            "parent": parent,
            "operation": "rewrite-materialize-deletes",
            "files": files,
            "file_seqs": {f: version for f in files},
            "n_rows": stats["rows"],
        },
    )
    return version


REFS_DIR = "refs"
_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _ref_path(path: str, name: str) -> str:
    if not _REF_NAME_RE.match(name):
        raise ValueError(f"invalid ref name {name!r}")
    return os.path.join(path, MANIFEST_DIR, REFS_DIR, f"{name}.json")


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Create an IMMUTABLE named ref to a snapshot version (Iceberg's
    ``create_tag``): ``read_snapshot(spark, path, resolve_ref(path,
    'q3-audit'))`` then reads the audited state forever, and
    :func:`expire_snapshots` treats tagged versions as retained — a tag
    is a GC root, which is the property that makes tags useful (pinning
    a training-data snapshot for reproducibility while history churns).
    Claimed with the same link-into-place protocol as version commits,
    so racing taggers resolve to exactly one winner."""
    if version is None:
        version = current_version(path)
    if version is None or version not in versions(path):
        raise FileNotFoundError(f"no snapshot version {version} at {path}")
    target = _ref_path(path, name)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = f"{target}.tmp.{_writer_tag()}"
    with open(tmp, "w") as f:
        json.dump({"name": name, "type": "tag", "version": version}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise SnapshotConflictError(f"ref {name!r} already exists at {path}") from None
    finally:
        os.remove(tmp)
    return version


def resolve_ref(path: str, name: str) -> int:
    """Ref name -> pinned version (raises FileNotFoundError if absent)."""
    with open(_ref_path(path, name)) as f:
        return int(json.load(f)["version"])


def list_refs(path: str) -> dict[str, int]:
    rdir = os.path.join(path, MANIFEST_DIR, REFS_DIR)
    if not os.path.isdir(rdir):
        return {}
    out: dict[str, int] = {}
    for fname in sorted(os.listdir(rdir)):
        if fname.endswith(".json") and ".tmp." not in fname:
            with open(os.path.join(rdir, fname)) as f:
                ref = json.load(f)
            out[ref["name"]] = int(ref["version"])
    return out


def delete_tag(path: str, name: str) -> int:
    """Drop a tag; its version becomes GC-eligible again on the next
    :func:`expire_snapshots` (Iceberg's ``remove`` ref + expire)."""
    version = resolve_ref(path, name)
    os.remove(_ref_path(path, name))
    return version


STAGING_DIR = "staging"


def snapshot_stage(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    staging_id: str,
    mode: str = "append",
) -> str:
    """Write-Audit-Publish step 1: write ``df``'s data files and a
    STAGED manifest under ``manifests/staging/`` — invisible to
    ``current_version`` / ``read_snapshot`` until published. The staged
    manifest records only the NEW files and the intended mode; the
    parent is resolved at PUBLISH time, so audits can run for as long
    as they like while other writers commit (Iceberg's WAP branch
    semantics)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    sdir = os.path.join(path, MANIFEST_DIR, STAGING_DIR)
    os.makedirs(sdir, exist_ok=True)
    target = os.path.join(sdir, f"{staging_id}.json")
    # exclusive-create the claim BEFORE writing data: two stagers racing
    # on the same id resolve here, before either can clobber the other's
    # staged directory
    try:
        os.close(os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        raise SnapshotConflictError(
            f"staging id {staging_id!r} already exists"
        ) from None
    try:
        commit_dir = os.path.join(path, DATA_DIR, f"staged-{staging_id}")
        n_rows = _write_counted(df, commit_dir)
        new_files = _data_files(commit_dir)
        # sole owner of the claim file now — fill it in place
        with open(target, "w") as f:
            json.dump(
                {
                    "staging_id": staging_id,
                    "mode": mode,
                    "files": new_files,
                    "n_rows": n_rows,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.flush()
            os.fsync(f.fileno())
    except Exception:
        if os.path.exists(target):
            os.remove(target)
        raise
    return staging_id


def _staged_path(path: str, staging_id: str) -> str:
    return os.path.join(path, MANIFEST_DIR, STAGING_DIR, f"{staging_id}.json")


def read_staged(spark: SparkSession, path: str, staging_id: str) -> DataFrame:
    """The audit target: exactly the rows the staged commit would add."""
    with open(_staged_path(path, staging_id)) as f:
        staged = json.load(f)
    return spark.read.parquet(*staged["files"])


def snapshot_publish(path: str, staging_id: str) -> int:
    """WAP step 3a: promote the staged manifest to the next version,
    composing with whatever parent exists NOW (not at stage time)."""
    with open(_staged_path(path, staging_id)) as f:
        staged = json.load(f)
    parent = current_version(path)
    version = (parent or 0) + 1
    manifest = {
        "version": version,
        "parent": parent,
        "operation": f"publish-{staging_id}",
        "files": list(staged["files"]),
        "file_seqs": {f: version for f in staged["files"]},
        "n_rows": staged["n_rows"],
    }
    if staged["mode"] == "append" and parent is not None:
        pm = read_manifest(path, parent)
        manifest["files"] = pm["files"] + manifest["files"]
        manifest["file_seqs"] = {
            **pm.get("file_seqs", {}),
            **manifest["file_seqs"],
        }
        manifest["n_rows"] += pm["n_rows"]
        if pm.get("deletes"):
            manifest["deletes"] = pm["deletes"]
            manifest["delete_keys"] = pm["delete_keys"]
            manifest["delete_seqs"] = pm.get("delete_seqs", {})
        if pm.get("pos_deletes"):
            manifest["pos_deletes"] = pm["pos_deletes"]
            manifest["pos_delete_seqs"] = pm.get("pos_delete_seqs", {})
    _commit_manifest(path, version, manifest)
    os.remove(_staged_path(path, staging_id))
    return version


def snapshot_abort(path: str, staging_id: str) -> list[str]:
    """WAP step 3b: drop the staged manifest and its (never-visible)
    data files; returns what was deleted."""
    with open(_staged_path(path, staging_id)) as f:
        staged = json.load(f)
    os.remove(_staged_path(path, staging_id))
    removed = []
    for f in staged["files"]:
        if os.path.exists(f):
            os.remove(f)
            removed.append(f)
    commit_dir = os.path.join(path, DATA_DIR, f"staged-{staging_id}")
    if os.path.isdir(commit_dir):
        # sweep Spark's commit-marker / .crc leftovers so the dir actually
        # disappears (parquet files are already gone)
        for leftover in os.listdir(commit_dir):
            os.remove(os.path.join(commit_dir, leftover))
        os.rmdir(commit_dir)
    return removed


def write_audit_publish(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    staging_id: str,
    suite,
    run_id: str,
    mode: str = "append",
):
    """The full WAP gate: stage, audit the staged rows with a DQSuite
    (``dq/checks.py`` — the reference's between-layer gate,
    ``dq_utils.py:125-152``, applied at the snapshot boundary), publish
    on pass / abort on fail. Returns ``(published_version | None,
    DQGateResult)``. Readers NEVER observe unaudited data: the staged
    snapshot is invisible until the gate passes."""
    snapshot_stage(spark, path, df, staging_id, mode=mode)
    gate = suite.run(read_staged(spark, path, staging_id), run_id)
    if gate.passed:
        return snapshot_publish(path, staging_id), gate
    snapshot_abort(path, staging_id)
    return None, gate


def expire_snapshots(path: str, keep_last: int) -> dict[str, list[str]]:
    """Garbage-collect history: drop all but the newest ``keep_last``
    manifests — except versions pinned by a tag (:func:`create_tag`),
    which are retained as GC roots — then delete every file the expired
    manifests reference that no surviving manifest still needs
    (Iceberg's ``expire_snapshots`` + ref retention). TRUE orphans — files written by a crashed
    writer whose manifest never committed — are by definition in no
    manifest and are collected by :func:`remove_orphan_files`, not
    here. Returns what was removed. The current version is never
    expired; deletion order is manifests first, data second, so a crash
    mid-GC leaves only unreferenced-but-present files (safe: re-run
    finishes the job), never a manifest pointing at deleted data."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = versions(path)
    # tagged versions are GC ROOTS (Iceberg ref retention): a tag pins
    # its snapshot — manifest and files — for as long as the tag lives
    tagged = set(list_refs(path).values())
    # an EMPTY snapshot (overwrite with a no-row frame, or a no-op
    # delete commit) has no files of its own: read_snapshot
    # reconstructs its schema by walking PARENT manifests, so the whole
    # parent chain up to the nearest ancestor WITH files must survive
    # too, or reading the retained version fails after GC. That applies
    # to EVERY snapshot that will remain readable — both tagged GC
    # roots (ADVICE r7) and the keep_last survivors themselves,
    # including the current version (ADVICE r8: an untagged empty
    # current version must not lose its schema ancestors).
    roots = set(tagged)
    for v in tagged | set(vs[-keep_last:]):
        m = read_manifest(path, v)
        while not m["files"] and m.get("parent") is not None:
            roots.add(m["parent"])
            m = read_manifest(path, m["parent"])
    expired = [v for v in vs[:-keep_last] if v not in roots]
    if not expired:
        return {"manifests": [], "data_files": []}
    survivors = [v for v in vs if v not in expired]
    live_files: set[str] = set()
    for v in survivors:
        m = read_manifest(path, v)
        live_files.update(m["files"])
        live_files.update(m.get("deletes") or [])
        live_files.update(m.get("pos_deletes") or [])
    dead_files: set[str] = set()
    for v in expired:
        m = read_manifest(path, v)
        dead_files.update(
            f
            for f in m["files"] + (m.get("deletes") or []) + (m.get("pos_deletes") or [])
            if f not in live_files
        )
    removed_manifests = []
    for v in expired:
        os.remove(_manifest_path(path, v))
        removed_manifests.append(f"v{v:06d}")
    for f in sorted(dead_files):
        if os.path.exists(f):
            os.remove(f)
    # prune now-empty commit dirs
    ddir = os.path.join(path, DATA_DIR)
    if os.path.isdir(ddir):
        for d in os.listdir(ddir):
            full = os.path.join(ddir, d)
            if os.path.isdir(full) and not any(
                f.endswith(".parquet") for f in os.listdir(full)
            ):
                for leftover in os.listdir(full):
                    os.remove(os.path.join(full, leftover))
                os.rmdir(full)
    return {"manifests": removed_manifests, "data_files": sorted(dead_files)}


def snapshot_file_diff(path: str, v_from: int, v_to: int) -> dict[str, list[str]]:
    """File-level diff between two snapshots (what Iceberg's
    ``snapshot.summary`` reports): files added and removed from the
    visible set. Pure metadata — no data files are read."""
    a = set(read_manifest(path, v_from)["files"])
    b = set(read_manifest(path, v_to)["files"])
    return {"added": sorted(b - a), "removed": sorted(a - b)}


def remove_orphan_files(path: str) -> list[str]:
    """Delete data files referenced by NO manifest — committed, expired
    or staged (Iceberg's ``remove_orphan_files``): the leftovers of a
    writer that crashed between its data write and its manifest claim,
    or of a conflict loser whose pid-suffixed commit dir never won.

    CAUTION (same as Iceberg's): running this concurrently with an
    in-flight writer can collect files whose manifest claim is about to
    land; run it from the same single-writer maintenance context that
    owns compaction. Empty directories are pruned afterwards."""
    live: set[str] = set()
    for v in versions(path):
        m = read_manifest(path, v)
        live.update(m["files"])
        live.update(m.get("deletes") or [])
        live.update(m.get("pos_deletes") or [])
    sdir = os.path.join(path, MANIFEST_DIR, STAGING_DIR)
    if os.path.isdir(sdir):
        for name in os.listdir(sdir):
            if name.endswith(".json"):
                try:
                    with open(os.path.join(sdir, name)) as f:
                        live.update(json.load(f).get("files", []))
                except (json.JSONDecodeError, OSError):
                    continue  # torn staged claim: its files are orphans
    removed: list[str] = []
    ddir = os.path.join(path, DATA_DIR)
    if not os.path.isdir(ddir):
        return removed
    for d in sorted(os.listdir(ddir)):
        full = os.path.join(ddir, d)
        if not os.path.isdir(full):
            continue
        for name in os.listdir(full):
            fp = os.path.join(full, name)
            if name.endswith(".parquet") and fp not in live:
                os.remove(fp)
                removed.append(fp)
        if not any(f.endswith(".parquet") for f in os.listdir(full)):
            for leftover in os.listdir(full):
                os.remove(os.path.join(full, leftover))
            os.rmdir(full)
    return removed
