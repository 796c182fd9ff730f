"""Index store: segment directories + JSON manifest with per-partition lineage.

The reference tracks import state in a one-document ES index
(`fias_version`: version id + row counts, /root/reference/app/infrastructure/
persistence/version/elastic/repository/versionRepository.go:18-119) — presence
of the doc decides full vs delta import. Our manifest generalizes that into
per-partition lineage (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"):

index_root/
  manifest.json                  — committed segments, tombstone files, stats
  seg_<id>/
    meta.json                    — N, sum_dl, doc_id range, analyzer config,
                                   per-partition lineage (rows, bytes, secs)
    doc_meta/part=K/*.parquet    — doc_id, repo, path, commit, lang, sha256,
                                   doclen, doc_part
    postings/part=K/*.parquet    — compressed blocks (codec.py format)
    term_stats/*.parquet         — term, df (per-segment)
  tombstones/*.parquet           — doc_id, dl (deleted/overwritten docs)
  stats_delta/*.parquet          — term, ddf (df corrections from deletes)

Commits are atomic-by-rename: writers stage under ``_staging/<uuid>`` and the
manifest is replaced last (POSIX rename), so a killed build never corrupts a
readable index; resume skips partitions whose lineage rows are committed.

On a real deployment this store maps 1:1 onto Iceberg tables (manifest ->
Iceberg snapshot metadata, segments -> partitioned data files, tombstones ->
positional deletes); the sandbox has no Iceberg runtime jar, so the layout is
implemented directly over parquet + JSON with the same commit semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field
from pathlib import Path

from gofias_spark.config import AnalyzerConfig, BM25Params, IndexConfig
from gofias_spark.index.iofs import resolve_io

MANIFEST = "manifest.json"
# row schemas of the delta tables (written by index/merge.py)
TOMBSTONE_SCHEMA = "doc_id long, dl long"
STATS_DELTA_SCHEMA = "term string, ddf long"


def manifest_state(manifest: dict) -> tuple:
    """What a reader's snapshot of the index is made of: the committed
    segments and tombstone files, in commit order."""
    return (
        tuple(manifest.get("segments", [])),
        tuple(manifest.get("tombstones", {}).get("files", [])),
    )


def data_files(table_dir: str | os.PathLike) -> list[Path]:
    """A table directory's parquet data files, in name order: files under
    ``key=value`` partition directories included, hidden (``.``/``_``)
    entries skipped — the files Spark and pyarrow datasets read."""
    def visible(p: Path) -> bool:
        return not p.name.startswith((".", "_"))

    root = Path(table_dir)
    if not root.is_dir():
        return []
    out = []
    for p in sorted(root.iterdir()):
        if not visible(p):
            continue
        if p.is_dir():
            out += [f for f in sorted(p.iterdir()) if f.is_file() and visible(f)]
        elif p.is_file():
            out.append(p)
    return out


def arrow_table_dataset(table_dir: str | os.PathLike):
    """A segment table directory as a pyarrow dataset: its ``doc_part=K``
    partition directories give a long ``doc_part`` column, as in
    ``read_parquet``."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    return ds.dataset(
        str(table_dir), format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("doc_part", pa.int64())]), flavor="hive"
        ),
    )


def read_parquet(spark, table_dir: str | os.PathLike):
    """``spark.read.parquet(table_dir)`` without Spark's schema-inference
    job. Without ``mergeSchema`` Spark reads the footer of one data file,
    but in a job of its own (~0.2 s each, and an engine opens several
    tables per segment); here the first data file's footer is read on the
    driver with pyarrow instead. A ``doc_part=K`` partition directory adds
    a long ``doc_part`` column, as every computed doc_part is long. A
    table with no data file goes through Spark's own inference (and its
    error for an empty path)."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    files = data_files(table_dir)
    if not files:
        return spark.read.parquet(str(table_dir))
    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in from_arrow_schema(pq.read_schema(files[0])).fields
    ]
    if files[0].parent.name.startswith("doc_part=") and "doc_part" not in {
        f.name for f in fields
    }:
        fields.append(T.StructField("doc_part", T.LongType(), True))
    return spark.read.schema(T.StructType(fields)).parquet(str(table_dir))


@dataclass
class PartitionLineage:
    part: int
    rows: int
    n_docs: int
    sum_dl: int
    build_secs: float
    status: str = "committed"
    min_doc_id: int = 0
    max_doc_id: int = -1


@dataclass
class SegmentMeta:
    seg_id: int
    n_docs: int
    sum_dl: int
    min_doc_id: int
    max_doc_id: int
    analyzer: dict
    partitions: list[dict] = field(default_factory=list)


class IndexStore:
    def __init__(self, root: str | os.PathLike, io=None):
        """``io``: commit-primitive protocol (iofs.StoreIO shape). Defaults
        to rename-based ``LocalIO``; pass ``ObjectStoreIO`` (or an fsspec
        adapter with the same three methods) for stores without atomic
        rename — promotion then publishes by idempotent copy and trusts
        lineage membership instead of destination existence."""
        self.root = Path(root)
        self.io = io if io is not None else resolve_io(root)

    # -- paths ------------------------------------------------------------
    def seg_dir(self, seg_id: int) -> Path:
        return self.root / f"seg_{seg_id}"

    def staging_dir(self) -> Path:
        d = self.root / "_staging" / uuid.uuid4().hex
        d.mkdir(parents=True, exist_ok=True)
        return d

    # -- manifest ---------------------------------------------------------
    def read_manifest(self) -> dict:
        p = self.root / MANIFEST
        if not p.exists():
            return {
                # v2: per-doc_part term_stats dirs (kernel side-writes) and
                # lineage.jsonl append log; v1 aggregated term_stats still
                # opens via the engine's allowMissingColumns union
                "format_version": 2,
                "segments": [],
                "next_doc_id": 0,
                "next_seg_id": 0,
                "tombstones": {"n_docs": 0, "sum_dl": 0, "files": []},
                "config": {
                    "analyzer": asdict(AnalyzerConfig()),
                    "bm25": asdict(BM25Params()),
                    "n_buckets": IndexConfig().n_buckets,
                    "block_size": IndexConfig().block_size,
                },
                "history": [],
            }
        return json.loads(p.read_text())

    def write_manifest(self, manifest: dict) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        manifest = dict(manifest)
        manifest.setdefault("history", []).append(
            {"ts": time.time(), "segments": len(manifest.get("segments", []))}
        )
        # published LAST in every commit sequence; single-file publish is
        # atomic under both protocols (rename / single-object PUT)
        self.io.put_text(
            self.root / MANIFEST, json.dumps(manifest, indent=2, sort_keys=True)
        )

    def exists(self) -> bool:
        return (self.root / MANIFEST).exists()

    # -- segment lifecycle --------------------------------------------------
    def read_seg_meta(self, seg_id: int) -> SegmentMeta:
        d = json.loads((self.seg_dir(seg_id) / "meta.json").read_text())
        meta = SegmentMeta(**d)
        log = self._read_lineage_log(seg_id)
        if log:
            merged = {p["part"]: p for p in meta.partitions}
            for row in log:
                merged[row["part"]] = row
            meta.partitions = [merged[k] for k in sorted(merged)]
        return meta

    def write_seg_meta(self, meta: SegmentMeta) -> None:
        d = self.seg_dir(meta.seg_id)
        d.mkdir(parents=True, exist_ok=True)
        self.io.put_text(d / "meta.json", json.dumps(asdict(meta), indent=2))

    # -- per-partition lineage log -----------------------------------------
    # Committing a partition must be O(1), not O(committed so far): rewriting
    # meta.json per partition is quadratic in partition count and measured
    # 2.5s of serial driver time at 512 partitions (15% of the whole 2M-doc
    # build at local[32]). Instead each commit appends ONE line to
    # lineage.jsonl; meta.json is folded once at the end of the build
    # (compact_lineage). Readers merge meta.json + log, so a build killed
    # between appends still resumes exactly from the last appended partition.
    def append_lineage(self, seg_id: int, lineage: dict) -> None:
        d = self.seg_dir(seg_id)
        d.mkdir(parents=True, exist_ok=True)
        self.io.append_text(d / "lineage.jsonl", json.dumps(lineage) + "\n")

    def _read_lineage_log(self, seg_id: int) -> list[dict]:
        p = self.seg_dir(seg_id) / "lineage.jsonl"
        if not p.exists():
            return []
        rows = []
        for line in p.read_text().splitlines():
            line = line.strip()
            if line:
                try:
                    rows.append(json.loads(line))
                except json.JSONDecodeError:
                    pass  # torn final line from a kill mid-append
        return rows

    def read_seg_meta_merged(self, seg_id: int, default: SegmentMeta) -> SegmentMeta:
        """Segment meta merged with the lineage log; falls back to ``default``
        (plus any log rows) when meta.json does not exist yet — the state
        after a build killed before its final compact."""
        if (self.seg_dir(seg_id) / "meta.json").exists():
            return self.read_seg_meta(seg_id)
        merged = {p["part"]: p for p in default.partitions}
        for row in self._read_lineage_log(seg_id):
            merged[row["part"]] = row
        default.partitions = [merged[k] for k in sorted(merged)]
        return default

    def compact_lineage(self, meta: SegmentMeta) -> None:
        """Fold the append log into meta.json and drop the log. Crash-safe:
        meta.json is written first; a crash before the unlink only leaves
        redundant log rows (merged idempotently by part id on read)."""
        self.write_seg_meta(meta)
        log = self.seg_dir(meta.seg_id) / "lineage.jsonl"
        if log.exists():
            log.unlink()

    def committed_parts(self, seg_id: int) -> set[int]:
        """Partition ids with committed lineage in segment meta or the
        lineage log — the resume skip-list."""
        done: set[int] = set()
        meta_path = self.seg_dir(seg_id) / "meta.json"
        if meta_path.exists():
            meta = json.loads(meta_path.read_text())
            done |= {
                p["part"]
                for p in meta.get("partitions", [])
                if p.get("status") == "committed"
            }
        done |= {
            r["part"]
            for r in self._read_lineage_log(seg_id)
            if r.get("status") == "committed"
        }
        return done

    def promote_partition_dirs(
        self, staging: Path, seg_id: int, table: str
    ) -> list[int]:
        """Publish ``part=K`` dirs from a staged write into the segment dir,
        one partition at a time (each publish is an independent commit).

        An existing destination is trusted only under atomic rename (it can
        only be a COMPLETE previous publish) or when the partition has a
        committed lineage row; otherwise — a copy-based store crashed
        mid-publish — it is overwritten (idempotent re-PUT)."""
        dest_root = self.seg_dir(seg_id) / table
        dest_root.mkdir(parents=True, exist_ok=True)
        trusted = (
            None if self.io.atomic_rename else self.committed_parts(seg_id)
        )
        moved = []
        src_root = staging / table
        for part_dir in sorted(src_root.glob("doc_part=*")):
            part = int(part_dir.name.split("=", 1)[1])
            dest = dest_root / part_dir.name
            if dest.exists() and (trusted is None or part in trusted):
                shutil.rmtree(part_dir)
            else:
                self.io.move_dir(part_dir, dest)
            moved.append(part)
        return moved

    def promote_dir(self, src: Path, dest: Path, committed: bool) -> bool:
        """Publish one staged dir; ``committed`` = the partition already has
        a committed lineage row. Returns True when a publish happened."""
        if dest.exists() and (self.io.atomic_rename or committed):
            return False
        self.io.move_dir(src, dest)
        return True

    # -- snapshots -----------------------------------------------------------
    # ES snapshot / Iceberg-snapshot analogue, file-level and self-contained:
    # a snapshot owns hardlinks (same-FS: O(#index files) metadata ops, zero
    # data copied — index files are immutable once committed) to every file
    # the current manifest references, plus the pinned manifest itself. On a
    # raw object store the link degrades to a server-side copy (S3
    # CopyObject-style via ObjectStoreIO), still no client data path. Being
    # self-contained, snapshots survive compact()'s physical cleanup with no
    # refcounting protocol, and deleting one is a plain prefix delete.
    # snapshot.json is published LAST — a crash mid-snapshot leaves an
    # unlisted, re-creatable prefix, never a corrupt snapshot.

    _SNAP_NAME_OK = staticmethod(
        lambda s: s and all(c.isalnum() or c in "._-" for c in s)
    )

    def _snap_dir(self, name: str) -> Path:
        return self.root / "snapshots" / name

    def _manifest_files(self, manifest: dict) -> list[Path]:
        """Root-relative paths of every data file the manifest references:
        committed segment dirs, tombstone parquet dirs, stats_delta."""
        files: list[Path] = []
        for s in manifest.get("segments", []):
            seg = self.seg_dir(s)
            files += [
                p.relative_to(self.root)
                for p in sorted(seg.rglob("*")) if p.is_file()
            ]
        for f in manifest.get("tombstones", {}).get("files", []):
            t = self.root / f
            if t.is_dir():
                files += [
                    p.relative_to(self.root)
                    for p in sorted(t.rglob("*")) if p.is_file()
                ]
            elif t.is_file():
                files.append(Path(f))
        sd = self.root / "stats_delta"
        if sd.exists():
            files += [
                p.relative_to(self.root)
                for p in sorted(sd.rglob("*")) if p.is_file()
            ]
        return files

    @staticmethod
    def _link_or_copy(src: Path, dest: Path) -> None:
        """Hardlink parquet data (immutable); COPY control/log files —
        lineage.jsonl of an interrupted build is append-mutable, and a
        hardlink would let a later resume mutate the snapshot's copy."""
        dest.parent.mkdir(parents=True, exist_ok=True)
        if src.suffix in (".json", ".jsonl"):
            shutil.copy2(src, dest)
            return
        try:
            os.link(src, dest)
        except OSError:  # cross-device / FS without hardlinks
            shutil.copy2(src, dest)

    def snapshot(self, name: str) -> dict:
        """Point-in-time snapshot of the committed index state under
        ``snapshots/<name>/``. Returns the snapshot descriptor."""
        if not self._SNAP_NAME_OK(name):
            raise ValueError(f"bad snapshot name {name!r} (alnum . _ -)")
        if not self.exists():
            raise ValueError(f"no index at {self.root}")
        snap = self._snap_dir(name)
        if (snap / "snapshot.json").exists():
            raise ValueError(f"snapshot {name!r} already exists")
        if snap.exists():  # crashed prior attempt: re-create from scratch
            shutil.rmtree(snap)
        manifest = self.read_manifest()
        files = self._manifest_files(manifest)
        n_bytes = 0
        for rel in files:
            src = self.root / rel
            self._link_or_copy(src, snap / "files" / rel)
            n_bytes += src.stat().st_size
        info = {
            "name": name,
            "ts": time.time(),
            "n_files": len(files),
            "bytes": n_bytes,
            "manifest": manifest,
        }
        self.io.put_text(
            snap / "snapshot.json", json.dumps(info, indent=2, sort_keys=True)
        )
        return info

    def list_snapshots(self) -> list[dict]:
        d = self.root / "snapshots"
        if not d.exists():
            return []
        out = []
        for p in sorted(d.glob("*/snapshot.json")):
            out.append(json.loads(p.read_text()))
        return out

    def read_snapshot(self, name: str) -> dict:
        p = self._snap_dir(name) / "snapshot.json"
        if not p.exists():
            raise ValueError(f"no snapshot {name!r}")
        return json.loads(p.read_text())

    def delete_snapshot(self, name: str) -> None:
        if not (self._snap_dir(name) / "snapshot.json").exists():
            raise ValueError(f"no snapshot {name!r}")
        shutil.rmtree(self._snap_dir(name))

    def restore_snapshot(self, name: str, dest_root: str | os.PathLike) -> dict:
        """Materialize a snapshot as a NEW independent index at
        ``dest_root`` (refused if an index already exists there): files are
        hardlinked back (immutability makes sharing safe — deltas/compacts
        on either index only ADD or UNLINK files, never rewrite), then the
        pinned manifest is published last, so a crash mid-restore leaves a
        manifest-less (= nonexistent) index."""
        info = self.read_snapshot(name)
        dest = Path(dest_root)
        if (dest / MANIFEST).exists():
            raise ValueError(f"index already exists at {dest}")
        src_root = self._snap_dir(name) / "files"
        for p in sorted(src_root.rglob("*")):
            if p.is_file():
                self._link_or_copy(p, dest / p.relative_to(src_root))
        IndexStore(dest, io=self.io).write_manifest(dict(info["manifest"]))
        return info

    def cleanup_staging(self) -> None:
        d = self.root / "_staging"
        if d.exists():
            shutil.rmtree(d, ignore_errors=True)

    def destroy(self) -> None:
        if self.root.exists():
            shutil.rmtree(self.root)
