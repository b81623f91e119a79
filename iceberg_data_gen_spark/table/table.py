"""Merge-on-read table: snapshots of data / position-delete / equality-delete
Parquet files, with delete application as anti-joins at scan time.

Reference parity (citations into /root/reference):
- data-file append committed as one snapshot: ``src/main.rs:125-158`` (O7/O8)
- position-delete files ``(file_path, pos)``: ``src/main.rs:186-210`` (O11)
- equality-delete files = schema projected to equality field ids:
  ``src/main.rs:242-270``, ``src/fix_schema_generator.rs:134-172`` (O12/O13)
- ``.files``-style metadata read-back: ``src/main.rs:159`` (O9)
- row-count summary: ``src/main.rs:334-345`` (O14)

Scale design
------------
* Data and delete files are written by Spark executors; the driver only
  touches file-level metadata (paths + one footer read per file for row
  count, column bounds and null counts), like an Iceberg catalog commit.
* Deletes are scoped at planning time, as Iceberg's scan planning does:
  a position-delete file applies to the data files inside its
  ``file_path`` bounds; an equality-delete file applies to data files
  with a strictly older sequence number whose key bounds can overlap its
  own, or whose key nulls can meet its nulls (keys match null-safely).
  A ``scan(where=...)`` also leaves out equality deletes whose key
  bounds miss the range.  Data files no delete applies to are a plain
  parquet scan with no join.  Delete files committed without bounds
  apply to every data file.
* A position-delete file that names one data file and holds few runs of
  consecutive positions records them at commit (one driver read of its
  ``pos`` column, like a deletion vector); the scan applies them as a
  ``_metadata.row_index`` filter, with no join.
* The rest of the MoR scan is declarative: data ⟕ anti-join(other
  position deletes on ``(_metadata.file_path, _metadata.row_index)``) ⟕
  anti-join(equality deletes on key columns, restricted by sequence
  number).  Delete sides are usually ≪ data and get broadcast by
  Catalyst/AQE automatically, so the read path adds no extra shuffle of
  the data side.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

POS_DELETE_COLS = ("file_path", "pos")  # fixed by the Iceberg spec (main.rs:188)


@dataclass
class Field:
    field_id: int
    name: str
    type: str  # Spark DDL type string, e.g. "string", "int", "boolean"
    required: bool = True


@dataclass
class TableSchema:
    """Iceberg-style schema: field ids + identifier-field ids.

    The reference's fixed schema (fix_schema_generator.rs:34-43) is
    ``[(1, foo, string), (2, bar, int), (3, baz, boolean)]`` with
    identifier field id 2.
    """

    fields: list[Field]
    identifier_field_ids: list[int] = field(default_factory=list)
    schema_id: int = 1

    def to_spark(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.name, T._parse_datatype_string(f.type), not f.required)
                for f in self.fields
            ]
        )

    def names_for_ids(self, ids: list[int]) -> list[str]:
        by_id = {f.field_id: f.name for f in self.fields}
        return [by_id[i] for i in ids]

    def to_json(self) -> dict:
        return {
            "schema_id": self.schema_id,
            "identifier_field_ids": self.identifier_field_ids,
            "fields": [
                {"id": f.field_id, "name": f.name, "type": f.type, "required": f.required}
                for f in self.fields
            ],
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            fields=[
                Field(f["id"], f["name"], f["type"], f["required"]) for f in d["fields"]
            ],
            identifier_field_ids=list(d["identifier_field_ids"]),
            schema_id=d.get("schema_id", 1),
        )


# a ``file:`` / ``file://`` scheme prefix, as Spark reports local paths
_FILE_SCHEME = "^file:(//)?"


def _file_id(p: str) -> str:
    """A file's identity as metadata entries and position deletes hold
    it: absolute and normalized, with no ``file:`` scheme and no
    percent-encoding (``_file_id_col`` gives the same form of
    ``_metadata.file_path``)."""
    return os.path.abspath(re.sub(_FILE_SCHEME, "", p))


def _file_id_col(uri):
    """``_file_id`` of the URI Spark reports in ``_metadata.file_path``:
    it percent-encodes what a URI path may not hold (a space reads back
    as ``%20``, ``%`` as ``%25``) and leaves ``+`` literal, which
    ``url_decode`` would turn into a space, so ``+`` is escaped first."""
    return F.url_decode(
        F.replace(F.regexp_replace(uri, _FILE_SCHEME, ""), F.lit("+"), F.lit("%2B"))
    )


def _file_entry(path: str, kind: str) -> dict:
    """Manifest entry for a committed file: record count, per-column
    ``[min, max]`` bounds (``stats``) and ``null_counts``, all from ONE
    footer read.  On data files the bounds drive ``scan(where=...)``
    pruning; on delete files they scope each delete to the data files it
    can match (``_pos_delete_may_apply`` / ``_eq_delete_may_apply``).
    A position-delete file that names one data file may also carry its
    positions as runs (``pos_runs``, see ``_pos_runs``)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    null_counts: dict[str, int] = {}
    entry = {
        "path": path,
        "kind": kind,
        "record_count": md.num_rows,
        "stats": _stats_of(md, null_counts),
        "null_counts": null_counts,
    }
    if kind == "pos-delete":
        runs = _pos_runs(entry)
        if runs is not None:
            entry["pos_runs"] = runs
    return entry


# a position-delete file is kept as runs when it has at most this many
# rows (its ``pos`` column is read once, at commit) and this many runs;
# a scan whose files hold more runs than that in all joins them instead
_POS_RUNS_MAX_ROWS = 1 << 22
_POS_RUNS_MAX = 64


def _pos_runs(entry: dict) -> dict | None:
    """``{"data_file": path, "runs": [[lo, hi], ...]}`` for a
    position-delete file that names ONE data file (its ``file_path``
    bounds are equal and no path is null): its positions as sorted,
    inclusive runs of consecutive row indexes.  The scan applies them as
    a ``row_index`` filter, with no anti-join (the metadata analogue of
    Iceberg's deletion vectors).  None when the file names several data
    files, has too many rows or runs, or a null position: the scan then
    anti-joins it."""
    import numpy as np
    import pyarrow.parquet as pq

    bounds = entry["stats"].get("file_path")
    if (
        bounds is None
        or bounds[0] != bounds[1]
        or entry["null_counts"].get("file_path", 1) > 0
        or entry["record_count"] > _POS_RUNS_MAX_ROWS
    ):
        return None
    col = pq.read_table(entry["path"], columns=["pos"]).column("pos")
    if col.null_count:
        return None
    pos = np.unique(col.to_numpy())
    breaks = np.flatnonzero(np.diff(pos) != 1)
    if len(breaks) >= _POS_RUNS_MAX:
        return None
    lo = pos[np.concatenate(([0], breaks + 1))]
    hi = pos[np.concatenate((breaks, [len(pos) - 1]))]
    runs = [[int(a), int(b)] for a, b in zip(lo, hi)]
    return {"data_file": bounds[0], "runs": runs}


def _hive_pval(v) -> str | None:
    """A partition probe value rendered the way Spark's Hive-style
    directories render it (the form ``_write_partitioned_entries`` lifts
    into file metadata): booleans are lowercase ``true``/``false`` —
    ``str(True)`` is ``'True'`` and would prune away every matching file
    (review r7, silent empty scans on boolean identity partitions).

    Returns ``None`` when the rendering is AMBIGUOUS (review r10 — the
    same defect class as the boolean fix, for the remaining types):

    * ``None`` / empty string — Spark writes both as
      ``__HIVE_DEFAULT_PARTITION__``, so the stored value cannot
      distinguish them;
    * floats — the directory name carries Java's ``Double.toString``
      (``1.0E-7``) whose scientific-notation thresholds differ from
      Python's ``str`` (``1e-07``).

    ``None`` means "cannot value-match: do NOT prune on this key, keep
    the file and let the row-level residual decide" — the caller treats
    it exactly like an ineligible spec.  Non-empty strings round-trip
    exactly (the writer's %-escaping is reversed by ``unquote`` at
    lift time), and ints render identically in both runtimes."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None or v == "" or isinstance(v, float):
        return None
    return str(v)


def _stats_of(md, null_counts: dict[str, int] | None = None) -> dict[str, list]:
    """Per-column [min, max] file bounds from the parquet footer; when
    ``null_counts`` is given, the same walk fills it with per-column
    null counts.

    A column whose stats are missing or unusable in ANY row group is
    dropped from the result entirely (review r10): keeping the bounds of
    only the stats-bearing groups under-covers the file — a row in the
    stats-less group can lie outside the recorded range, and
    ``_stats_overlap`` would then prune a file that contains matching
    rows.  No entry ⇒ "unknown" ⇒ the scan keeps the file.  Null counts
    follow the same rule (unknown ⇒ may hold nulls)."""
    stats: dict[str, list] = {}
    invalid: set[str] = set()
    no_count: set[str] = set()
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if null_counts is not None:
                if st is None or not st.has_null_count:
                    no_count.add(name)
                else:
                    null_counts[name] = null_counts.get(name, 0) + st.null_count
            if st is None or not st.has_min_max:
                invalid.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                invalid.add(name)
                continue
            if not isinstance(mn, (int, float, str, bool)):
                invalid.add(name)
                continue
            if name in stats:
                stats[name] = [min(stats[name][0], mn), max(stats[name][1], mx)]
            else:
                stats[name] = [mn, mx]
    for name in invalid:
        stats.pop(name, None)
    for name in no_count:
        null_counts.pop(name, None)
    return stats


def _stats_overlap(stats: dict | None, where: dict[str, tuple]) -> bool:
    """May a file with these stats contain rows matching ``where``
    (col → inclusive (lo, hi) range)?  Missing stats ⇒ must keep."""
    if not stats:
        return True
    for col, (lo, hi) in where.items():
        if col not in stats:
            continue
        mn, mx = stats[col]
        if (hi is not None and mn > hi) or (lo is not None and mx < lo):
            return False
    return True


def _eq_delete_in_where(eq_file: dict, key_cols: list[str], where: dict | None) -> bool:
    """May equality-delete file ``eq_file`` remove a row that the scan's
    ``where`` keeps?  A surviving row holds a non-null value inside the
    range on every ``where`` column, so a delete whose bounds on such a
    key column lie outside that range can match no surviving row (a null
    delete key matches only null data keys, which the range drops)."""
    stats = eq_file.get("stats") or {}
    return _stats_overlap(
        {c: b for c, b in stats.items() if c in key_cols}, where or {}
    )


def _pos_delete_may_apply(data_id: str, pos_file: dict) -> bool:
    """May position-delete file ``pos_file`` name a row of the data file
    whose ``_file_id`` is ``data_id``?  The one data file its runs name,
    else its ``file_path`` bounds decide; a delete file committed without
    either may name any file."""
    runs = pos_file.get("pos_runs")
    if runs is not None:
        return runs["data_file"] == data_id
    bounds = (pos_file.get("stats") or {}).get("file_path")
    return bounds is None or bounds[0] <= data_id <= bounds[1]


def _may_hold_null(entry: dict, col: str) -> bool:
    return (entry.get("null_counts") or {}).get(col, 1) > 0


def _eq_delete_may_apply(data: dict, eq_file: dict, key_cols: list[str]) -> bool:
    """May equality-delete file ``eq_file`` remove a row of data file
    ``data``?  Only data with a strictly older sequence number qualifies,
    and a row must match on EVERY key column, so one column that cannot
    match rules the file out.  Keys match null-safely: a column whose
    nulls may meet on both sides can match whatever its bounds; otherwise
    disjoint non-null bounds rule it out.  Missing bounds or null counts
    (files committed without delete stats) never rule out; nor does a
    NaN bound (Spark's writer records NaN as a float column's max, and
    every comparison with NaN is false), so NaN keys stay in scope."""
    if data["sequence_number"] >= eq_file["sequence_number"]:
        return False
    for c in key_cols:
        if _may_hold_null(data, c) and _may_hold_null(eq_file, c):
            continue
        a = (data.get("stats") or {}).get(c)
        b = (eq_file.get("stats") or {}).get(c)
        if a is not None and b is not None and (a[1] < b[0] or b[1] < a[0]):
            return False
    return True


class CommitConflictError(RuntimeError):
    """Another writer committed since this handle last read the table
    metadata.  Mirrors Iceberg's ``CommitFailedException``: the commit
    loop is catch → ``refresh()`` → re-apply → retry."""


class MetadataIO:
    """Where table metadata lives.  ``MoRTable`` talks to its catalog
    only through this seam: ``load()`` returns the current metadata doc,
    ``save(meta)`` publishes a new one atomically (and is where a
    catalog-side compare-and-swap may reject with
    ``CommitConflictError``).  The default is a metadata.json next to
    the data files; a REST catalog substitutes an HTTP-backed store
    (``table/rest_catalog.py``) with the SAME commit semantics."""

    def load(self) -> dict:  # pragma: no cover - interface
        raise NotImplementedError

    def save(self, meta: dict) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def peek(self) -> dict:
        """Read the current metadata WITHOUT adopting it as this
        handle's base version — the fail-fast conflict pre-check in
        ``MoRTable._commit`` must not move a CAS-tracking store's basis
        while the handle still holds stale metadata (doing so would let
        a later ``save`` of the stale document pass the catalog's CAS
        and erase another writer's commit).  Stores without a tracked
        basis just read."""
        return self.load()


class LocalMetadataIO(MetadataIO):
    """File-based metadata store: ``<table>/metadata.json``, published
    with temp-file + ``os.replace`` so readers never observe a torn
    document (stands in for the catalog's atomic pointer swap).

    Version CAS (review r7): the document carries an internal
    ``_local_version`` counter; ``load`` records it as this handle's
    basis and ``save`` — under an exclusive file lock spanning the
    check-and-replace — refuses to publish over a version the handle
    never saw.  Without it, the head-snapshot-id guards upstream could
    not catch METADATA-ONLY races (two handles: A ``add_column``, B
    ``create_tag`` from the pre-A document — B's whole-document
    republish silently erased A's column).  Mirrors the REST store's
    whole-document version CAS, so both stores now give
    ``CommitConflictError`` + refresh()-and-retry semantics."""

    def __init__(self, table_path: Path) -> None:
        self.table_path = Path(table_path)
        self._based_on = 0

    def load(self) -> dict:
        doc = json.loads((self.table_path / "metadata.json").read_text())
        self._based_on = doc.get("_local_version", 0)
        return doc

    def peek(self) -> dict:
        # read WITHOUT adopting the version as this handle's basis (the
        # MetadataIO.peek contract — load() here moves the CAS basis)
        return json.loads((self.table_path / "metadata.json").read_text())

    def save(self, meta: dict) -> None:
        import fcntl

        lock = self.table_path / "metadata.lock"
        with open(lock, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            target = self.table_path / "metadata.json"
            if target.exists():
                disk = json.loads(target.read_text()).get("_local_version", 0)
                if disk != self._based_on:
                    raise CommitConflictError(
                        f"concurrent metadata publish: based on version "
                        f"{self._based_on}, store holds {disk} — refresh() "
                        f"and retry"
                    )
            meta["_local_version"] = self._based_on + 1
            tmp = self.table_path / f"metadata.json.tmp-{uuid.uuid4().hex[:8]}"
            tmp.write_text(json.dumps(meta, indent=1))
            os.replace(tmp, target)
            self._based_on = meta["_local_version"]


class MoRTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        io: MetadataIO | None = None,
        meta: dict | None = None,
    ) -> None:
        self.spark = spark
        self.path = Path(os.path.abspath(path))
        # ``meta`` is a caller-supplied result of ``io.load()`` it JUST
        # performed (e.g. RestCatalog.load_table's existence probe) —
        # reusing it avoids a second metadata fetch; the io's CAS basis
        # already reflects that load.  Enforced (review r8): meta WITHOUT
        # the io that loaded it would pair version-N metadata with a
        # fresh LocalMetadataIO whose CAS basis is 0, guaranteeing a
        # spurious CommitConflictError on the first commit.
        if meta is not None and io is None:
            raise ValueError(
                "meta= requires the io= that loaded it (a fresh io's CAS "
                "basis would not match the supplied metadata's version)"
            )
        self._io = io if io is not None else LocalMetadataIO(self.path)
        self._meta = meta if meta is not None else self._io.load()

    # -- creation / metadata ------------------------------------------------

    @staticmethod
    def create(spark: SparkSession, path: str, schema: TableSchema) -> "MoRTable":
        p = Path(path)
        # existence guard (review r8): create() on a populated path
        # either raised a misleading CommitConflictError ("concurrent
        # publish — retry") or, for legacy metadata without a local
        # version stamp, silently REPLACED the live table's snapshot
        # log.  LocalCatalog guards via table_exists, but create() is
        # public API used directly.
        if (p / "metadata.json").exists():
            raise ValueError(
                f"a table already exists at {p} — load it instead of "
                "re-creating (drop it first to start over)"
            )
        (p / "data").mkdir(parents=True, exist_ok=True)
        (p / "deletes").mkdir(parents=True, exist_ok=True)
        meta = {"schema": schema.to_json(), "snapshots": []}
        LocalMetadataIO(p).save(meta)
        return MoRTable(spark, path)

    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_json(self._meta["schema"])

    def snapshots(self) -> list[dict]:
        return list(self._meta["snapshots"])

    def current_snapshot_id(self) -> int | None:
        """MAIN head: the latest snapshot that is neither write-audit-
        publish STAGED (quarantined until published) nor committed to a
        BRANCH (visible only through its ref until fast-forwarded)."""
        live = [
            s
            for s in self._meta["snapshots"]
            if not s.get("staged") and not s.get("branch")
        ]
        return live[-1]["id"] if live else None

    def _commit(self, operation: str, files: list[dict], **extra) -> dict:
        """Append a snapshot with Iceberg-style OPTIMISTIC CONCURRENCY:
        before publishing, re-read the on-disk metadata and require that
        its head is still the head this handle built on — a concurrent
        writer's commit raises ``CommitConflictError`` instead of being
        silently clobbered (the caller refreshes and retries, which is
        exactly Iceberg's commit loop).  The metadata write itself is
        atomic (temp file + ``os.replace``), so readers never observe a
        torn metadata.json."""
        # every data file carries the spec it was written under (Iceberg
        # manifests always do) — the unpartitioned writer used to omit it,
        # so after evolving to a field-less spec, partitions_df misfiled
        # new files under spec 0 (review r7, found by the evolve fuzz).
        # Entries that already carry one (the partitioned writer's, or a
        # replayed older snapshot's via publish/rollback) are untouched.
        default_sid = self.default_spec["spec_id"]
        for f in files:
            if f.get("kind") == "data" and "spec_id" not in f:
                f["spec_id"] = default_sid
        snaps = self._meta["snapshots"]
        self._assert_based_on_current()
        # branch commits parent at their BRANCH head (passed via extra
        # "parent"); main commits parent at the MAIN head (latest
        # non-staged, non-branch snapshot) — NOT the linear head, which
        # after append(branch=b) would be a branch snapshot and would
        # pollute main's parent chain (time travel to the main head
        # would then walk branch-only commits)
        parent = extra.pop("parent", None)
        # ref advance (branch append) rides in the SAME save as the
        # snapshot: a two-save publish would let a racing commit between
        # the saves strand a half-applied document (snapshot committed,
        # ref never advanced) and let readers observe the intermediate
        # state; same reason WAP staging passes staged=True here instead
        # of flag-then-resave
        advance_ref = extra.pop("_advance_ref", None)
        mark_published = extra.pop("_mark_published", None)
        if parent is None:
            live = [
                s for s in snaps if not s.get("staged") and not s.get("branch")
            ]
            parent = live[-1]["id"] if live else None
        snap = {
            "id": (snaps[-1]["id"] + 1) if snaps else 1,
            "parent": parent,
            # NEVER len(snaps)+1: expire_snapshots shrinks the list, and a
            # reused sequence number lets a later equality delete collide
            # with a surviving data file's sequence — the strictly-older
            # rule would then wrongly exempt that file from the delete
            "sequence_number": (snaps[-1]["sequence_number"] + 1) if snaps else 1,
            "operation": operation,
            "files": files,
            **extra,
        }
        snaps.append(snap)
        prev_ref = None
        if advance_ref is not None:
            prev_ref = self._meta["refs"][advance_ref]["snapshot_id"]
            self._meta["refs"][advance_ref]["snapshot_id"] = snap["id"]
        if mark_published is not None:
            # stamp the STAGED snapshot with its publish id in the SAME
            # atomic save (ADVICE r8): the idempotence guard reads this
            # field, and unlike the published snapshot itself it cannot
            # be expired away while the staged one survives
            next(s for s in snaps if s["id"] == mark_published)[
                "published_as"
            ] = snap["id"]
        try:
            self._write_meta()
        except BaseException:
            # roll the in-memory document back (review r9): a save that
            # never landed (transport error, REST 5xx, CAS conflict)
            # must not leave a PHANTOM commit in the live handle — the
            # handle would report the snapshot as committed, and a
            # publish retry would trip its own idempotence guard on the
            # in-memory published_as stamp even though nothing landed.
            snaps.pop()
            if advance_ref is not None:
                self._meta["refs"][advance_ref]["snapshot_id"] = prev_ref
            if mark_published is not None:
                next(s for s in snaps if s["id"] == mark_published).pop(
                    "published_as", None
                )
            raise
        return snap

    def _write_meta(self) -> None:
        """Atomically publish ``self._meta`` through the metadata store
        (local file or REST catalog); a catalog-side compare-and-swap
        may raise ``CommitConflictError`` here."""
        self._io.save(self._meta)

    def refresh(self) -> "MoRTable":
        """Reload table metadata from the store (the retry step after a
        ``CommitConflictError``)."""
        self._meta = self._io.load()
        return self

    @contextmanager
    def _meta_rollback(self):
        """Restore ``self._meta`` if the wrapped mutate+save block raises
        — the phantom-state discipline ``_commit`` already applies,
        extended to the metadata-only mutators (review r10: a CAS
        conflict mid-``fast_forward`` left the de-branched snapshots
        main-visible in the live handle, ``expire_snapshots`` left the
        in-memory history shrunk while disk kept it, and so on for every
        mutator that edits the document in place before saving)."""
        import copy

        saved = copy.deepcopy(self._meta)
        try:
            yield
        except BaseException:
            self._meta = saved
            raise

    def _assert_based_on_current(self) -> None:
        """Fail-fast guard for METADATA-ONLY mutations (schema/spec
        evolution, refs, fast-forward, expiration): they republish the
        whole document via ``_write_meta`` without ``_commit``'s head
        check, so under the no-CAS ``LocalMetadataIO`` a handle holding
        stale metadata would silently erase another writer's commits.
        Same peek-based comparison ``_commit`` performs; the REST
        store's version CAS still backstops the save itself."""
        snaps = self._meta["snapshots"]
        head = snaps[-1]["id"] if snaps else None
        disk_snaps = self._io.peek()["snapshots"]
        disk_head = disk_snaps[-1]["id"] if disk_snaps else None
        if disk_head != head:
            raise CommitConflictError(
                f"concurrent commit detected: expected head {head}, "
                f"found {disk_head} — refresh() and retry"
            )

    # -- schema evolution ---------------------------------------------------

    def add_column(self, name: str, type_: str) -> TableSchema:
        """Iceberg-style additive schema evolution: register a new optional
        column in table metadata — NO data file is touched or rewritten.

        Reads resolve it by projection: the scan passes the current schema
        to the parquet reader, so files written before the evolution
        simply surface NULL for the new column while newer files carry
        values.  (Only optional columns can be added — a required column
        would make every existing row invalid, same rule as Iceberg.)
        """
        self._assert_based_on_current()
        schema = self.schema
        if any(f.name == name for f in schema.fields):
            raise ValueError(f"column exists: {name}")
        next_id = max(f.field_id for f in schema.fields) + 1
        schema.fields.append(Field(next_id, name, type_, required=False))
        # a changed schema is a NEW schema id (Iceberg rule): the REST
        # spec mapping emits add-schema/set-current-schema from it, and
        # a real service would otherwise see the old id reused with
        # different fields and later snapshots pinned to the stale one
        schema.schema_id += 1
        with self._meta_rollback():
            self._meta["schema"] = schema.to_json()
            self._write_meta()
        return schema

    # -- partition-spec evolution (Iceberg partition model) ------------------

    @property
    def partition_specs(self) -> list[dict]:
        return self._meta.get("partition_specs", [{"spec_id": 0, "fields": []}])

    @property
    def default_spec(self) -> dict:
        sid = self._meta.get("default_spec_id", 0)
        return next(s for s in self.partition_specs if s["spec_id"] == sid)

    def update_spec(self, fields: list[dict]) -> dict:
        """Iceberg-style PARTITION EVOLUTION: register a new partition spec
        and make it the default for future writes — NO existing data file
        is touched or rewritten.  Old files keep the spec they were
        written under; scans plan each file against its own spec, so one
        table can mix layouts forever (the Iceberg property that makes
        repartitioning a 100 TB table a metadata-only operation).

        Each field: ``{"source": col, "transform": t[, "n": int]}`` with
        ``t`` in identity | bucket (mod-n, needs n) | truncate (width-n,
        needs n).  The derived partition-field name follows Iceberg's
        convention: ``col`` / ``col_bucket`` / ``col_trunc``.
        """
        self._assert_based_on_current()
        known = {f.name for f in self.schema.fields}
        norm = []
        for f in fields:
            if f["source"] not in known:
                raise ValueError(f"unknown column: {f['source']}")
            t = f["transform"]
            if t not in ("identity", "bucket", "truncate"):
                raise ValueError(f"unknown transform: {t}")
            if t in ("bucket", "truncate") and not f.get("n"):
                raise ValueError(f"{t} needs n")
            if t == "bucket":
                # this engine's bucket is mod-n over a LONG cast; on a
                # non-integer column the cast yields NULL for every row,
                # every file lands in the null partition, and partition-
                # filtered scans silently return empty (review r7) —
                # fail loudly like the module's other validations
                ftype = next(
                    fl.type for fl in self.schema.fields if fl.name == f["source"]
                ).lower()
                if ftype not in ("int", "integer", "long", "bigint",
                                 "smallint", "short", "tinyint", "byte"):
                    raise ValueError(
                        f"bucket transform needs an integer column, "
                        f"{f['source']!r} is {ftype!r}"
                    )
            suffix = {"identity": "", "bucket": "_bucket", "truncate": "_trunc"}[t]
            norm.append(
                {
                    "source": f["source"],
                    "transform": t,
                    "n": f.get("n"),
                    "name": f["source"] + suffix,
                }
            )
        names = [f["name"] for f in norm]
        if len(set(names)) != len(names):
            # two definitions under one derived name: the writer's dir
            # layout keeps only the LAST value while pruning resolves the
            # name to ONE definition — silent wrong pruning (review r7)
            raise ValueError(f"duplicate partition field names: {names}")
        specs = self.partition_specs
        spec = {"spec_id": specs[-1]["spec_id"] + 1, "fields": norm}
        with self._meta_rollback():
            self._meta["partition_specs"] = specs + [spec]
            self._meta["default_spec_id"] = spec["spec_id"]
            self._write_meta()
        return spec

    def _transform_expr(self, field: dict):
        """Spark Column computing a partition-transform value for a row."""
        col = F.col(field["source"])
        t = field["transform"]
        if t == "identity":
            return col
        if t == "bucket":
            return F.pmod(col.cast("long"), F.lit(field["n"])).cast("int")
        ftype = next(
            f.type for f in self.schema.fields if f.name == field["source"]
        )
        if ftype == "string":
            return F.substring(col, 1, field["n"])
        return (F.floor(col.cast("long") / field["n"]) * field["n"]).cast("long")

    def _spec_field(self, name: str) -> dict:
        """The NEWEST spec's definition of partition field ``name`` — the
        definition the scan residual uses (review r8: collapsed from a
        two-return helper whose spec-id element no caller consumed)."""
        for spec in reversed(self.partition_specs):
            for f in spec["fields"]:
                if f["name"] == name:
                    return f
        raise ValueError(f"unknown partition field: {name}")

    # -- writes -------------------------------------------------------------

    def _write_files(self, df: DataFrame, dest: Path, stem: str, single_file: bool) -> list[str]:
        """Write ``df`` as parquet into ``dest``; return final file paths.

        ``single_file=True`` coalesces to one output file (the reference's
        exact-rows-per-file layout, SURVEY.md §7 H2 — test-scale fidelity);
        ``single_file=False`` keeps Spark's natural partitioned layout (the
        100 TB path: executors write in parallel, byte-based sizing).
        """
        tmp = self.path / f"_tmp-{uuid.uuid4().hex}"
        out = df.coalesce(1) if single_file else df
        out.write.mode("overwrite").parquet(str(tmp))
        finals: list[str] = []
        parts = sorted(tmp.glob("part-*.parquet"))
        for i, part in enumerate(parts):
            final = dest / f"{stem}-{uuid.uuid4().hex[:8]}-{i}.parquet"
            shutil.move(str(part), str(final))
            finals.append(str(final))
        shutil.rmtree(tmp)
        return finals

    def append(
        self,
        df: DataFrame,
        single_file: bool = False,
        branch: str | None = None,
        _snapshot_extra: dict | None = None,
    ) -> dict:
        """Append data files; ONE snapshot per call (main.rs:125-158).

        ``branch`` targets a named branch ref (Iceberg's ``branch_x``
        write): the commit parents at the BRANCH head, stays invisible to
        main reads, and advances the branch ref — main's history is
        untouched until ``fast_forward``.

        When the default partition spec has fields, the write is routed
        through the partition-aware path and each produced file records
        its constant partition tuple + spec id in the snapshot metadata
        (the Iceberg manifest model) so scans can prune at planning time.
        On that path ``single_file`` means ONE FILE PER PARTITION VALUE —
        which the writer already guarantees (rows hash-repartition on the
        whole partition tuple, so a value never splits across tasks;
        pinned by ``test_partitioned_append_writes_one_file_per_value``)
        — file-per-call and file-per-partition-value are otherwise
        contradictory layouts (review r8; ``append_batches`` raises for
        the same conflict).
        """
        extra = dict(_snapshot_extra or {})
        if branch is not None:
            ref = self._meta.get("refs", {}).get(branch)
            if ref is None or ref["type"] != "branch":
                raise ValueError(f"no such branch: {branch}")
            # snapshot + ref advance publish in ONE save (see _commit): no
            # intermediate document where the snapshot exists but the
            # branch ref still points at the old head
            extra.update(
                parent=ref["snapshot_id"], branch=branch, _advance_ref=branch
            )
        spec = self.default_spec
        if spec["fields"]:
            # branch kwargs flow through extra into the same _commit, so
            # partitioned branch writes parent/advance identically to the
            # unpartitioned path (review r7: this was a raise — the
            # lifecycle fuzz's evolve op hit the gap)
            return self._append_partitioned(df, spec, extra)
        files = []
        for path in self._write_files(df, self.path / "data", "data", single_file):
            files.append(
                _file_entry(path, "data")
            )
        return self._commit("append", files, **extra)

    def _append_partitioned(
        self, df: DataFrame, spec: dict, extra: dict | None = None
    ) -> dict:
        files = self._write_partitioned_entries(df, spec)
        return self._commit("append", files, **(extra or {}))

    def _write_partitioned_entries(
        self, df: DataFrame, spec: dict, order_by: list[str] | None = None
    ) -> list[dict]:
        """Partition-aware data-file write: derive the transform columns,
        let Spark hash-cluster the write with ``partitionBy`` (executors
        write all partitions in parallel — the 100 TB path), then lift
        each output file's constant partition tuple out of its Hive-style
        directory into file-level metadata.  Data files keep only SOURCE
        columns; partition values live in metadata, exactly like Iceberg
        manifests.

        Shared by append, merge, compact, and cluster_by (review r7:
        maintenance rewrites used to route through the unpartitioned
        writer, so one ``compact()`` silently stripped spec_id/partition
        from every file and partition-filtered scans paid the row-level
        residual forever after).  ``order_by`` sorts rows within each
        partition before writing (cluster_by's z-value) and the named
        columns are dropped from the data files."""
        from urllib.parse import unquote

        pcols = [f["name"] for f in spec["fields"]]
        tmp = self.path / f"_tmp-{uuid.uuid4().hex}"
        # derive transforms under INTERNAL names (review r7, found by the
        # evolve fuzz): an identity transform's field name EQUALS its
        # source column, so aliasing it verbatim produced a duplicate
        # column (AMBIGUOUS_REFERENCE at repartition) — and partitionBy
        # on the real name would strip the source column from the data
        # files, NULLing it on read.  The temp names also keep identity
        # source columns IN the parquet, as the scan requires.
        tmpcols = [f"__p_{i}" for i in range(len(spec["fields"]))]
        out = df.select(
            *df.columns,
            *[
                self._transform_expr(f).alias(c)
                for f, c in zip(spec["fields"], tmpcols)
            ],
        )
        # cluster rows by partition tuple so each value writes one file per
        # task instead of one per (input-partition × value); at 100 TB add a
        # salt column here to split hot partitions across writers
        out = out.repartition(*[F.col(c) for c in tmpcols])
        if order_by:
            # sort inside each writer task, then drop the ordering column
            # before the write — projection preserves the sort order
            out = out.sortWithinPartitions(*tmpcols, *order_by).drop(*order_by)
        out.write.mode("overwrite").partitionBy(*tmpcols).parquet(str(tmp))
        files: list[dict] = []
        for part in sorted(tmp.rglob("part-*.parquet")):
            pvals: dict[str, str] = {}
            for comp in part.relative_to(tmp).parts[:-1]:
                k, _, v = comp.partition("=")
                pvals[pcols[int(k[len("__p_"):])]] = unquote(v)
            final = self.path / "data" / f"data-{uuid.uuid4().hex[:8]}-{len(files)}.parquet"
            shutil.move(str(part), str(final))
            files.append(
                {
                    **_file_entry(str(final), "data"),
                    "spec_id": spec["spec_id"],
                    "partition": pvals,
                }
            )
        shutil.rmtree(tmp)
        return files

    def _write_batches_one_job(
        self, dfs: list[DataFrame], dest: Path, stem: str
    ) -> list[str]:
        """Write a list of batches so batch *i* becomes exactly one parquet
        file, submitting all write jobs CONCURRENTLY from driver threads.

        The reference writes its files strictly sequentially from one
        thread (main.rs:128-151); each of our batch writes is an
        independent Spark job, so overlapping them hides the per-job
        scheduling latency and lets executors work on several files at
        once while keeping the exact file-per-batch layout and row order.
        (A single union-of-single-partition-batches job would be cheaper
        still, but Spark 4 executes a union of SinglePartition children
        as one task/one output file, so it cannot preserve the layout.)
        """
        if not dfs:
            return []
        from concurrent.futures import ThreadPoolExecutor

        def one(i_df):
            i, df = i_df
            paths = self._write_files(df, dest, f"{stem}", True)
            assert len(paths) == 1, paths
            return i, paths[0]

        with ThreadPoolExecutor(max_workers=min(8, len(dfs))) as ex:
            results = list(ex.map(one, enumerate(dfs)))
        return [p for _, p in sorted(results)]

    def append_batches(self, dfs: list[DataFrame]) -> dict:
        """Reference-shaped append: each DataFrame becomes exactly one data
        file, all committed in ONE snapshot (the per-file loop of
        main.rs:128-151 + single fast_append commit at main.rs:157-158).

        Refuses a partitioned default spec: file-per-batch conflicts with
        file-per-partition-value, and silently committing spec-less files
        would permanently disable pruning for them (review r7 — the
        defect class the maintenance writers were fixed for).  Use
        ``append()`` on partitioned tables."""
        if self.default_spec["fields"]:
            raise ValueError(
                "append_batches writes unpartitioned file-per-batch "
                "layouts; use append() on a partitioned table"
            )
        files = [
            _file_entry(path, "data")
            for path in self._write_batches_one_job(dfs, self.path / "data", "data")
        ]
        return self._commit("append", files)

    def _normalize_pos_deletes(self, df: DataFrame) -> DataFrame:
        """Canonical, sorted (file_path, pos) rows.

        The reference sorts delete rows via a buffering writer
        (main.rs:194-199); we sort within partitions — cheap at any scale
        and preserves the sorted-file property readers expect.
        """
        assert set(df.columns) == set(POS_DELETE_COLS), df.columns
        return df.select(
            F.regexp_replace("file_path", _FILE_SCHEME, "").alias("file_path"),
            F.col("pos").cast("long").alias("pos"),
        ).sortWithinPartitions("file_path", "pos")

    def add_position_deletes(
        self, df: DataFrame | list[DataFrame], single_file: bool = True
    ) -> dict:
        """Commit position-delete file(s) as ONE snapshot (main.rs:174-213).

        A list writes each DataFrame as exactly one file (the reference's
        per-file loop); a single DataFrame uses ``single_file``.
        """
        dest = self.path / "deletes"
        if isinstance(df, list):
            paths = self._write_batches_one_job(
                [self._normalize_pos_deletes(b) for b in df], dest, "pos-delete"
            )
        else:
            paths = self._write_files(
                self._normalize_pos_deletes(df), dest, "pos-delete", single_file
            )
        files = [_file_entry(p, "pos-delete") for p in paths]
        return self._commit("delete-position", files)

    def add_equality_deletes(
        self,
        df: DataFrame | list[DataFrame],
        equality_ids: list[int] | None = None,
        single_file: bool = True,
    ) -> dict:
        """Commit equality-delete file(s) as ONE snapshot: rows of the table
        schema projected to the equality columns (main.rs:242-270,
        projection main.rs:251)."""
        # `is not None`, not `or` (review r8): an explicit empty list must
        # fail loudly below, not silently substitute the identifier fields
        # and delete under a key set the caller never chose
        ids = (
            equality_ids
            if equality_ids is not None
            else self.schema.identifier_field_ids
        )
        if not ids:
            raise ValueError("equality_ids must be a non-empty list of field ids")
        cols = self.schema.names_for_ids(ids)
        dest = self.path / "deletes"
        if isinstance(df, list):
            for b in df:
                assert set(b.columns) == set(cols), (b.columns, cols)
            paths = self._write_batches_one_job(
                [self._key_frame(b, cols) for b in df], dest, "eq-delete"
            )
        else:
            assert set(df.columns) == set(cols), (df.columns, cols)
            paths = self._write_files(
                self._key_frame(df, cols), dest, "eq-delete", single_file
            )
        files = [{**_file_entry(p, "eq-delete"), "equality_ids": ids} for p in paths]
        return self._commit("delete-equality", files, equality_ids=ids)

    def _key_frame(self, df: DataFrame, cols: list[str]) -> DataFrame:
        """``df`` projected to the key columns AS the table types: the
        scan reads equality-delete files with the table's key schema, and
        a parquet column written wider (say long for an int key) cannot
        be read back narrower."""
        types = self.schema.to_spark()
        return df.select(*[F.col(c).cast(types[c].dataType).alias(c) for c in cols])

    def merge(self, source: DataFrame, on_ids: list[int] | None = None) -> dict:
        """MERGE INTO (upsert): rows whose key matches a source row are
        replaced by it; unmatched source rows are inserted — committed as
        ONE ``overwrite`` snapshot holding an equality-delete file (the
        source keys) plus the source data files.

        This is the write shape Iceberg lowers ``MERGE ... WHEN MATCHED
        THEN UPDATE WHEN NOT MATCHED THEN INSERT`` to on a merge-on-read
        table: no existing data file is read or rewritten (the whole
        point of MoR at 100 TB), and correctness rests on the sequence-
        number rule the scan already enforces — an equality delete
        applies only to data files with a strictly OLDER sequence
        number, so the data files committed in this same snapshot are
        untouched by its own delete file.
        """
        ids = on_ids if on_ids is not None else self.schema.identifier_field_ids
        if not ids:
            raise ValueError("on_ids must be a non-empty list of field ids")
        key_cols = self.schema.names_for_ids(ids)
        cols = [f.name for f in self.schema.fields]
        del_paths = self._write_files(
            self._key_frame(source, key_cols).distinct(),
            self.path / "deletes",
            "eq-delete",
            True,
        )
        files = [
            {**_file_entry(p, "eq-delete"), "equality_ids": ids} for p in del_paths
        ]
        # on a partitioned table the merged-in data files must carry the
        # partition tuple + spec id like any append, or partition-filtered
        # scans lose pruning on them forever (review r7); delete files are
        # applied by anti-join and never partition-pruned, so they stay on
        # the plain writer
        spec = self.default_spec
        if spec["fields"]:
            files += self._write_partitioned_entries(source.select(*cols), spec)
        else:
            files += [
                _file_entry(p, "data")
                for p in self._write_files(
                    source.select(*cols), self.path / "data", "data", False
                )
            ]
        return self._commit("overwrite", files, equality_ids=ids)

    def delete_where(
        self,
        condition,
        where: dict[str, tuple] | None = None,
        partition_filter: dict[str, object] | None = None,
    ) -> dict:
        """``DELETE FROM t WHERE <condition>`` lowered to POSITION deletes
        — the merge-on-read row-level delete: the scan (with its
        MoR anti-joins, so already-deleted rows never re-delete) finds
        the live rows matching the predicate, and only their
        (file, position) pairs are written; NO data file is rewritten.

        At 100 TB pass the predicate's bounds as ``where=`` (footer
        min/max pruning) and/or ``partition_filter=`` — the same
        conventions ``scan`` takes — so a selective delete plans a scan
        over only the files that can match instead of every live file
        (review r10: the docstring promised this but no parameter
        existed to forward the bounds).  ``condition`` remains the
        exact row-level predicate applied WITHIN the pruned file set.

        CONTRACT (ADVICE r10): the bounds MUST be implied by
        ``condition`` — every row the predicate matches must lie inside
        them.  Rows in files the bounds prune away are NOT deleted, so
        bounds narrower than the predicate silently change which rows
        this call removes (the same contract ``scan(where=...)``
        documents for reads, where the failure mode is merely a smaller
        result).  When in doubt pass no bounds: correctness never
        requires them, they are purely a scan-cost optimization.
        """
        if not self._files_of_kind("data", None):
            return self._commit("delete-position", [])
        live = self._scan_resolved(
            None,
            where=where,
            partition_filter=partition_filter,
            keep_meta=True,
        ).where(condition)
        dels = live.select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        )
        return self.add_position_deletes(dels)

    # -- write-audit-publish (staged snapshots) ------------------------------

    def append_staged(self, df: DataFrame, single_file: bool = False) -> dict:
        """Write-Audit-Publish step 1: commit an append as a STAGED
        snapshot — files are durable and auditable via
        ``scan(snapshot_id=staged_id)``, but the snapshot is invisible
        to normal reads and does not advance the table head until
        ``publish_snapshot``.  This is Iceberg's WAP flow
        (``spark.wap.id`` + cherry-pick): bad data is caught while
        quarantined, with zero rewrite on publish.

        The staged flag rides in the SAME atomic commit as the snapshot
        (not flag-then-resave): a two-save publish would expose an
        unstaged snapshot on main between the saves — quarantine broken —
        and a racer committing in the gap would fail the second save,
        stranding the unflagged snapshot permanently."""
        return self.append(
            df, single_file=single_file, _snapshot_extra={"staged": True}
        )

    def publish_snapshot(self, snapshot_id: int) -> dict:
        """Write-Audit-Publish step 2: cherry-pick a staged append onto
        the current head — a metadata-only commit referencing the SAME
        files (nothing moves), exactly Iceberg's cherrypick_snapshot.
        The staged snapshot stays in history for audit lineage."""
        snap = next(
            (s for s in self._meta["snapshots"] if s["id"] == snapshot_id), None
        )
        if snap is None or not snap.get("staged"):
            raise ValueError(f"snapshot {snapshot_id} is not a staged snapshot")
        if snap["operation"] != "append":
            raise ValueError("only append snapshots can be staged/published")
        # idempotence guard (review r8 + ADVICE r8): a second publish of
        # the same staged id — e.g. a retry after a save timeout whose
        # first commit actually landed — would reference the SAME files
        # from a second main-visible snapshot, double-counting every row
        # on scan.  The publish is recorded on the STAGED snapshot
        # itself (``published_as``, stamped in the same atomic commit):
        # scanning for a surviving cherry_picked_from twin was not
        # enough, because expire_snapshots can remove the published
        # snapshot while the staged one survives — a late retry then
        # re-published files that may already be unlinked.  The
        # cherry-pick scan stays as a fallback for metadata written
        # before the stamp existed.
        already = snap.get("published_as") or next(
            (
                s["id"]
                for s in self._meta["snapshots"]
                if s.get("cherry_picked_from") == snapshot_id
            ),
            None,
        )
        if already is not None:
            raise ValueError(
                f"staged snapshot {snapshot_id} was already published as "
                f"snapshot {already}"
            )
        return self._commit(
            "append",
            list(snap["files"]),
            cherry_picked_from=snapshot_id,
            _mark_published=snapshot_id,
        )

    # -- metadata tables (Iceberg .files / .snapshots equivalents) ----------

    def partitions_df(self) -> DataFrame:
        """Iceberg ``.partitions`` metadata table: per (spec_id,
        partition tuple), live file count and record total — answered
        from commit metadata, no data file opened."""
        agg: dict[tuple, list[int]] = {}
        for f in self._files_of_kind("data", None):
            key = (
                f.get("spec_id", 0),
                json.dumps(f.get("partition") or {}, sort_keys=True),
            )
            cur = agg.setdefault(key, [0, 0])
            cur[0] += 1
            cur[1] += int(f["record_count"])
        rows = [
            (sid, part, n, rec) for (sid, part), (n, rec) in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows, "spec_id int, partition string, n_files int, record_count long"
        )

    def files(self, snapshot_id: int | None = None) -> DataFrame:
        """Iceberg ``.files`` metadata table.  ``file_ordinal`` is the
        entry's position within its snapshot's manifest — Iceberg
        manifests are ordered, and (sequence_number, file_ordinal) is
        the table-wide commit order of data files even when one commit
        lands many files (``append_batches``).

        ``sequence_number`` honors the FILE-LEVEL override a rollback
        snapshot's re-referenced entries carry (review r8: reporting the
        commit's own number made the metadata table contradict the scan
        — a seq-2 delete looked inapplicable to a rolled-back data file
        shown at seq 3 while the scan, via ``_files_of_kind``, correctly
        still applied it to the file's original seq 1)."""
        rows = []
        for snap in self._upto(snapshot_id):
            for i, f in enumerate(snap["files"]):
                rows.append(
                    (
                        f["path"],
                        f["kind"],
                        int(f["record_count"]),
                        snap["id"],
                        f.get("sequence_number", snap["sequence_number"]),
                        i,
                    )
                )
        schema = "file_path string, kind string, record_count long, snapshot_id int, sequence_number int, file_ordinal int"
        return self.spark.createDataFrame(rows, schema)

    def snapshots_df(self) -> DataFrame:
        rows = [
            (s["id"], s["parent"], s["sequence_number"], s["operation"], len(s["files"]))
            for s in self._meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id int, parent_id int, sequence_number int, operation string, n_files int"
        )

    def _upto(self, snapshot_id: int | None) -> list[dict]:
        """Snapshots visible as of ``snapshot_id``, starting at the most
        recent *baseline* (compaction/replace) snapshot: a replace commit
        supersedes every earlier file, so older snapshots contribute
        nothing to the live state — but they stay in metadata, which is
        what keeps time travel to pre-compaction snapshots working."""
        if snapshot_id is not None:
            # PARENT-CHAIN walk (not a linear id filter): a branch head's
            # ancestry skips main commits made after the fork point, and
            # vice versa — this is what makes scan(ref=branch) correct.
            by_id = {s["id"]: s for s in self._meta["snapshots"]}
            if snapshot_id not in by_id:
                snaps = []
            else:
                chain = []
                cur: int | None = snapshot_id
                while cur is not None and cur in by_id:
                    sn = by_id[cur]
                    chain.append(sn)
                    cur = sn.get("parent")
                snaps = list(reversed(chain))
        else:
            snaps = [s for s in self._meta["snapshots"] if not s.get("branch")]
        # WAP: staged snapshots are invisible except when directly
        # addressed (the audit read of that staged id)
        snaps = [
            s for s in snaps if not s.get("staged") or s["id"] == snapshot_id
        ]
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].get("baseline"):
                return snaps[i:]
        return snaps

    def _files_of_kind(self, kind: str | None, snapshot_id: int | None) -> list[dict]:
        """Visible files of ``kind`` (all kinds when None) with merged
        metadata: a file-level sequence number (rollback snapshots
        re-reference old files) wins over the commit's own, and an
        eq-delete file missing file-level ``equality_ids`` inherits the
        commit's — ONE merge point, so the scan's grouping and rollback
        need no second ``_upto`` walk (review r7)."""
        out = []
        for snap in self._upto(snapshot_id):
            for f in snap["files"]:
                if kind is not None and f["kind"] != kind:
                    continue
                merged = {
                    **f,
                    "sequence_number": f.get("sequence_number", snap["sequence_number"]),
                }
                if f["kind"] == "eq-delete" and not merged.get("equality_ids"):
                    merged["equality_ids"] = snap.get("equality_ids")
                out.append(merged)
        return out

    # -- refs (tags) + rollback ---------------------------------------------

    def _new_ref_slot(self, name: str) -> dict:
        """Shared ref-name validation for create_tag/create_branch
        (review r8: the two copies would silently diverge): 'main' is
        reserved — a user ref of that name collides with the spec
        mapping's implicit main entry (contradictory wire requirements,
        inconsistent TableMetadata — review r7) — and names are unique
        across both ref kinds.  Returns the live refs dict."""
        refs = self._meta.setdefault("refs", {})
        if name == "main":
            raise ValueError("'main' is reserved for the implicit main branch")
        if name in refs:
            raise ValueError(f"ref exists: {name}")
        return refs

    def create_tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Named immutable ref to a snapshot (Iceberg tag): a retention
        anchor and a stable name for time travel (``scan(ref=...)``).
        Metadata-only."""
        self._assert_based_on_current()
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            # distinguish "no main head to default to" from a bad id
            # (review r9: the old message read 'snapshot None does not
            # exist' when the real problem was an all-staged/branch table)
            raise ValueError(
                "table has no main-visible snapshot to tag; pass snapshot_id"
            )
        snap = next(
            (s for s in self._meta["snapshots"] if s["id"] == sid), None
        )
        if snap is None:
            raise ValueError(f"snapshot {sid} does not exist")
        # quarantine guard (review r10): a tag on a WAP-staged or
        # branch-only snapshot gives unaudited data a stable named ref
        # that scan(ref=...) serves and expire_snapshots anchors — the
        # same invariant rollback / create_branch / incremental_scan
        # already enforce; create_tag was the one entry point missing it
        if snap.get("staged") or snap.get("branch"):
            kind = "staged" if snap.get("staged") else f"branch {snap['branch']!r}"
            raise ValueError(
                f"snapshot {sid} is {kind}, not main lineage — "
                "publish or fast-forward it before tagging"
            )
        with self._meta_rollback():
            refs = self._new_ref_slot(name)
            refs[name] = {"type": "tag", "snapshot_id": sid}
            self._write_meta()
        return self._meta["refs"][name]

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """Named WRITABLE ref (Iceberg branch): forks at ``snapshot_id``
        (default: current main head).  ``append(..., branch=name)``
        advances it; ``scan(ref=name)`` reads its head via the parent
        chain; ``fast_forward`` lands it on main.  Metadata-only."""
        self._assert_based_on_current()
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise ValueError(
                "cannot create a branch on an empty table: no snapshot to "
                "fork from (commit to main first, or pass snapshot_id)"
            )
        snap = next(
            (s for s in self._meta["snapshots"] if s["id"] == sid), None
        )
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} does not exist")
        if snap.get("staged"):
            # a staged snapshot is quarantined: branch reads filter staged
            # ancestors out of the parent chain, so a branch forked here
            # would silently LOSE the staged rows (and fast_forward would
            # land the loss on main) — review r7.  Publish first.
            raise ValueError(
                "cannot branch from a WAP-staged snapshot: publish it first"
            )
        with self._meta_rollback():
            refs = self._new_ref_slot(name)
            refs[name] = {"type": "branch", "snapshot_id": sid}
            self._write_meta()
        return self._meta["refs"][name]

    def fast_forward(self, name: str) -> int:
        """Iceberg ``fast_forward('main', branch)``: land a branch on
        main.  Requires main's head to be an ANCESTOR of the branch head
        (no divergence — otherwise this would need a real merge); then
        the branch's commits simply become main-visible.  The ref stays,
        now pointing at the shared head.  Metadata-only: no file is
        read, copied, or rewritten."""
        self._assert_based_on_current()
        refs = self._meta.get("refs", {})
        ref = refs.get(name)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"no such branch: {name}")
        head = ref["snapshot_id"]
        by_id = {s["id"]: s for s in self._meta["snapshots"]}
        ancestors = set()
        cur: int | None = head
        while cur is not None:
            if cur not in by_id:
                raise ValueError(
                    f"branch {name!r} ancestry references snapshot {cur}, "
                    "which no longer exists (expired?) — cannot fast-forward"
                )
            ancestors.add(cur)
            cur = by_id[cur].get("parent")
        main_head = self.current_snapshot_id()
        if main_head is not None and main_head not in ancestors:
            raise ValueError(
                f"main head {main_head} is not an ancestor of branch head "
                f"{head}: divergent histories cannot fast-forward"
            )
        # un-mark EVERY branch-marked snapshot between the branch head
        # and the main head, whatever branch name it carries (review r8:
        # stopping at the first foreign name silently dropped the
        # commits of a branch this one was forked from — b2 forked from
        # b1's head fast-forwarded b2's files onto main but left b1's
        # hidden, losing rows from every main read).  The ancestor check
        # above already proved the chain sits linearly on top of main.
        chain = []
        cur = head
        while cur is not None and cur != main_head and by_id[cur].get("branch"):
            chain.append(cur)
            cur = by_id[cur].get("parent")
        if cur != main_head:
            # ADVICE r8: the walk must terminate EXACTLY at the main
            # head.  Stopping early means a snapshot between the branch
            # head and main lacks a branch marker (hand-edited metadata,
            # a staged snapshot inside the chain, a future unmarked
            # commit type) — silently publishing only the upper part of
            # the chain is the exact hidden-rows failure mode the r8
            # stacked-branch fix targets, so fail loudly BEFORE any
            # marker is touched (validate-then-mutate: the handle stays
            # usable after the raise).
            raise ValueError(
                f"fast_forward({name!r}): branch chain does not terminate "
                f"at main head {main_head} (walk stopped at {cur}) — "
                "metadata is inconsistent; refusing to publish partially"
            )
        with self._meta_rollback():
            for sid in chain:
                by_id[sid].pop("branch")
            self._write_meta()
        return head

    def drop_tag(self, name: str) -> None:
        self._assert_based_on_current()
        refs = self._meta.get("refs", {})
        if name not in refs:
            raise ValueError(f"no such ref: {name}")
        with self._meta_rollback():
            del refs[name]
            self._write_meta()

    def resolve_ref(self, name: str) -> int:
        refs = self._meta.get("refs", {})
        if name not in refs:
            raise ValueError(f"no such ref: {name}")
        return refs[name]["snapshot_id"]

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg ``rollback_to_snapshot``: make an OLD snapshot's state
        current again by committing a new baseline snapshot that
        re-references the target's visible files — no data is read,
        copied, or rewritten (file-list metadata only), history after
        the target stays in metadata, and time travel to the rolled-
        back-over snapshots still works.

        Each re-referenced file keeps its ORIGINAL sequence number so
        equality-delete ordering inside the restored state is preserved
        (a delete still applies only to data files strictly older than
        it)."""
        snap = next(
            (s for s in self._meta["snapshots"] if s["id"] == snapshot_id), None
        )
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} does not exist")
        # quarantine guard (review r8): a WAP-staged or branch-only
        # target would land unaudited/branch-only rows on main as a
        # baseline, bypassing publish_snapshot / fast_forward — the same
        # invariant create_branch and incremental_scan already enforce
        if snap.get("staged") or snap.get("branch"):
            kind = "staged" if snap.get("staged") else f"branch {snap['branch']!r}"
            raise ValueError(
                f"snapshot {snapshot_id} is {kind}, not main lineage — "
                "publish or fast-forward it instead of rolling back to it"
            )
        files = self._files_of_kind(None, snapshot_id)
        return self._commit(
            "rollback", files, baseline=True, rollback_to=snapshot_id
        )

    # -- maintenance --------------------------------------------------------

    def compact(self) -> dict:
        """Rewrite the current merge-on-read state as clean data files
        (Iceberg ``rewrite_data_files`` + delete-file cleanup in one):
        materialize the resolved scan — deletes applied — and commit it
        as a *baseline* snapshot that supersedes all earlier files.

        Reads after compaction touch only the rewritten files (no
        anti-joins); reads AS OF an earlier snapshot still see the old
        file graph, so history survives.  Executors write the rewritten
        files with Spark's natural partitioned layout (the byte-sized,
        parallel path — exact per-file row counts only matter for the
        generation phase, not maintenance)."""
        current = self.scan()
        spec = self.default_spec
        if spec["fields"]:
            # the rewrite must keep the partition layout, or one compact()
            # strips spec_id/partition from the whole table and every
            # partition_filter scan pays the row residual after (review r7)
            files = self._write_partitioned_entries(current, spec)
        else:
            files = [
                _file_entry(p, "data")
                for p in self._write_files(
                    current, self.path / "data", "compacted", False
                )
            ]
        return self._commit("replace", files, baseline=True)

    def cluster_by(
        self, cols: list[str], target_files: int = 4, bits: int = 16
    ) -> dict:
        """Z-order clustering rewrite (Iceberg ``rewrite_data_files`` with
        ``sort_order=zorder(cols)`` / Delta ``OPTIMIZE ... ZORDER BY``):
        rewrite the current table state with rows ordered along a Z-curve
        over ``cols``, so every output file covers a tight
        HYPER-RECTANGLE of the clustering space and multi-column range
        scans (``scan(where=...)``) prune files on EVERY clustered
        column at once — a linear sort gives tight min/max stats only on
        its leading column, leaving the others unprunable.

        Plan: one aggregate for per-column min/max (2·k scalars to the
        driver) → per-row z-value from bit-interleaved normalized ranks
        (built-in shift/mask expressions, JVM-side, no UDF) →
        ``repartitionByRange(target_files)`` on the z-value (range
        exchange = contiguous curve segments per output file) →
        ``sortWithinPartitions`` → parallel parquet write.  Committed as
        a baseline ``replace`` snapshot exactly like :meth:`compact`, so
        history and time travel survive.

        At 100 TB this is one full pass + one range shuffle — the same
        cost as any sort-based rewrite — and the payoff is manifest-level
        file skipping on every clustered dimension for all reads after.

        Integer columns are rank-normalized with pure integer arithmetic
        (``(col-min)·(2^bits-1) DIV span`` — exact, no float rounding at
        bucket edges); floating columns use double math (stats pruning
        is advisory — the scan residual keeps results exact either way).
        """
        by_name = {f.name: f for f in self.schema.fields}
        for c in cols:
            if c not in by_name:
                raise ValueError(f"unknown column: {c}")
            t = by_name[c].type.lower()
            # "integer"/"short"/"byte" are valid Spark DDL aliases this
            # file's own update_spec accepts — the two allowlists used to
            # disagree on which integer spellings are integers (review r10)
            if t not in ("int", "integer", "bigint", "long", "smallint",
                         "short", "tinyint", "byte", "double", "float"):
                raise ValueError(f"cluster_by supports numeric columns, got {c}: {t}")
        # the interleaved z-value must fit the 63 usable bits of a signed
        # long: at bits=16 a 4th column would write bit 63 (sign — rows
        # sort FIRST) and a 5th past 64 (Spark's shiftleft masks the
        # shift mod 64, colliding bits) — silently scrambled clustering
        # instead of an error (review r7).  Shrink per-column bits to fit;
        # 63//k bits of rank per column is ample file-level selectivity.
        if len(cols) * bits > 63:
            bits = 63 // len(cols)
            if bits == 0:
                raise ValueError("cluster_by supports at most 63 columns")
        df = self.scan()
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
        row = df.agg(*aggs).collect()[0]

        top = (1 << bits) - 1
        ranks = []
        for c in cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            use_double = by_name[c].type.lower() in ("double", "float")
            if mn is None or mx is None or mn == mx:
                ranks.append(F.lit(0).cast("long"))
                continue
            if not use_double and (int(mx) - int(mn)) > (2**63 - 1) // top:
                # review r8: (col-mn)*top overflows int64 when the span
                # exceeds 2^63/top (e.g. epoch-micros bigints spanning
                # years at bits=16) — ArithmeticException under Spark 4's
                # ANSI default, scrambled z-values with ANSI off.  The
                # double path loses only sub-ulp rank edges (advisory
                # stats; scan residual keeps results exact).
                use_double = True
            if use_double:
                scaled = (
                    (F.col(c).cast("double") - F.lit(float(mn)))
                    / F.lit(float(mx) - float(mn))
                ) * F.lit(float(top))
                ranks.append(
                    F.least(F.lit(top), F.greatest(F.lit(0), F.floor(scaled)))
                    .cast("long")
                )
            else:
                span = int(mx) - int(mn)
                ranks.append(
                    F.expr(
                        f"CAST(((CAST(`{c}` AS BIGINT) - {int(mn)}) * {top}) DIV {span} AS BIGINT)"
                    )
                )
        k = len(ranks)
        z = F.lit(0).cast("long")
        for b in range(bits):
            for ci, r in enumerate(ranks):
                bit = F.shiftright(r, b).bitwiseAND(F.lit(1)).cast("long")
                z = z.bitwiseOR(F.shiftleft(bit, b * k + (k - 1 - ci)))
        spec = self.default_spec
        if spec["fields"]:
            # partitioned table: keep the partition layout (spec_id +
            # partition tuple in metadata — review r7) and z-order rows
            # WITHIN each partition, the Iceberg/Delta semantics of
            # OPTIMIZE ZORDER on a partitioned table
            files = self._write_partitioned_entries(
                df.withColumn("__z", z), spec, order_by=["__z"]
            )
        else:
            zdf = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            paths = self._write_files(zdf, self.path / "data", "zorder", False)
            files = [_file_entry(p, "data") for p in paths]
        return self._commit("replace", files, baseline=True, zorder_by=cols)

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg ``expire_snapshots`` with physical file removal for the
        EXPIRED set: drop history older than the ``keep_last`` most recent
        snapshots and delete every file referenced only by expired
        snapshots.  NOT a full ``remove_orphan_files``: a file written by
        a commit that then lost its CAS race is referenced by no snapshot
        at all and is deliberately left alone — distinguishing it from a
        concurrent writer's not-yet-committed files requires the
        older-than grace window Iceberg's action takes, which this
        in-process engine does not track.

        The retained range is extended back to the governing *baseline*
        (replace) snapshot of the oldest kept snapshot, because resolving
        any kept snapshot's live state needs the snapshots from its
        baseline forward — expiring into that range would corrupt reads.
        Time travel to an expired snapshot id raises afterwards.

        Metadata-only bookkeeping plus driver-side file unlinks of the
        expired set — no table scan, no Spark job; at scale the unlink
        loop becomes the storage-API batch delete Iceberg's action runs.
        """
        self._assert_based_on_current()
        snaps = self._meta["snapshots"]
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return {"expired": 0, "removed_files": 0}
        start = len(snaps) - keep_last
        # extend to the governing baseline of the oldest kept snapshot
        while start > 0 and not snaps[start].get("baseline"):
            start -= 1
        # ANCESTRY closure of the kept suffix: scan(ref=...)/time travel
        # walk parent chains and would otherwise stop silently at a
        # missing parent, returning PARTIAL data (e.g. a branch head in
        # the suffix whose pre-fork parents fall before it).  The walk
        # stops at a kept BASELINE: a replace supersedes every older
        # file, so the chain below it is not needed for state resolution
        # (time travel to those ids raises cleanly once they're gone).
        by_id = {s["id"]: s for s in snaps}
        needed: set[int] = set()
        stack = [s["id"] for s in snaps[start:]]
        while stack:
            sid = stack.pop()
            if sid in needed or sid not in by_id:
                continue
            needed.add(sid)
            if by_id[sid].get("baseline"):
                continue
            parent = by_id[sid].get("parent")
            if parent is not None:
                stack.append(parent)
        # refs are retention anchors (Iceberg semantics): refuse to expire
        # a ref'd snapshot rather than silently breaking the ref.  A ref
        # head inside the closure is simply kept (with its ancestry).
        ref_heads = {
            name: r["snapshot_id"] for name, r in self._meta.get("refs", {}).items()
        }
        # a ref whose snapshot id is absent from the snapshot list is
        # corrupt metadata, not an expiration conflict — name it as such
        # instead of blaming the expiration request
        dangling = {n: sid for n, sid in ref_heads.items() if sid not in by_id}
        if dangling:
            raise ValueError(
                f"refs {sorted(dangling)} point at snapshot ids "
                f"{sorted(set(dangling.values()))} absent from table metadata; "
                "repair or drop these refs before expiring snapshots"
            )
        hit = set(ref_heads.values()) - needed
        if hit:
            names = sorted(n for n, sid in ref_heads.items() if sid in hit)
            raise ValueError(
                f"snapshots {sorted(hit)} are referenced by refs "
                f"(tags/branches {names}); drop those refs first"
            )
        kept = [s for s in snaps if s["id"] in needed]
        expired = [s for s in snaps if s["id"] not in needed]
        if not expired:
            return {"expired": 0, "removed_files": 0}
        # PUBLISH the shrunken metadata FIRST, unlink after: in the other
        # order a failed/conflicting save leaves committed metadata
        # pointing at files this handle already deleted — unrecoverable
        with self._meta_rollback():
            self._meta["snapshots"] = kept
            self._write_meta()
        keep_paths = {_file_id(f["path"]) for s in kept for f in s["files"]}
        # de-duplicate across expired snapshots (review r8): a rollback
        # baseline re-references earlier files, so one path can appear in
        # several expired snapshots — unlinking per entry over-counted
        # removed_files against the filesystem reality
        doomed = {
            _file_id(f["path"]): f["path"]
            for s in expired
            for f in s["files"]
            if _file_id(f["path"]) not in keep_paths
        }
        for raw in doomed.values():
            Path(raw).unlink(missing_ok=True)
        return {"expired": len(expired), "removed_files": len(doomed)}

    def incremental_scan(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Iceberg incremental APPEND scan: the rows of data files
        committed by ``append`` snapshots in ``(from, to]`` — the batch
        CDC-consumption primitive (process a table in snapshot-sized
        increments without re-reading history).

        Contract matches Iceberg's incremental read: only ``append``
        commits contribute (a compaction ``replace`` rewrites old rows —
        it is not new data), and later deletes are NOT applied — the
        consumer sees what was appended in the window.  Plan: a plain
        parquet scan of just the window's files; no anti-joins, no
        shuffle.
        """
        ids = {s["id"] for s in self._meta["snapshots"]}
        if from_snapshot_id != 0 and from_snapshot_id not in ids:
            raise ValueError(f"snapshot {from_snapshot_id} does not exist")
        to = to_snapshot_id if to_snapshot_id is not None else self.current_snapshot_id()
        if to is None:
            # no main-visible snapshot yet (empty table, or only staged/
            # branch commits): the CDC window is empty, not an error
            return self.spark.createDataFrame([], self.schema.to_spark())
        if to not in ids:
            raise ValueError(f"snapshot {to_snapshot_id} does not exist")
        to_snap = next(s for s in self._meta["snapshots"] if s["id"] == to)
        if to_snap.get("branch") or to_snap.get("staged"):
            # review r8: an explicit branch/WAP-staged window end passed
            # the existence check but the main-visibility filter below
            # then dropped that very snapshot's files — the CDC consumer
            # silently missed the rows it explicitly asked for.  Refuse
            # loudly instead: this is main's CDC stream; fast-forward /
            # publish first (matching the filter's contract).
            raise ValueError(
                f"snapshot {to} is not main-visible "
                "(branch-only or WAP-staged): fast-forward or publish it "
                "before using it as an incremental-scan window end"
            )
        files = [
            f
            for s in self._meta["snapshots"]
            if from_snapshot_id < s["id"] <= to
            and s["operation"] == "append"
            # mirror _upto(None): branch-only and WAP-staged commits are
            # not main-visible, so they must not leak into main's CDC
            # window until fast-forwarded / published
            and not s.get("branch")
            and not s.get("staged")
            for f in s["files"]
            if f["kind"] == "data"
        ]
        if not files:
            return self.spark.createDataFrame([], self.schema.to_spark())
        return self.spark.read.schema(self.schema.to_spark()).parquet(
            *[f["path"] for f in files]
        )

    # -- merge-on-read scan -------------------------------------------------

    def scan(
        self,
        snapshot_id: int | None = None,
        where: dict[str, tuple] | None = None,
        ref: str | None = None,
        partition_filter: dict[str, object] | None = None,
    ) -> DataFrame:
        """Read the table state as of ``snapshot_id`` (default: current).

        ``where`` (col → inclusive ``(lo, hi)`` range, either end None
        for unbounded) enables Iceberg-style FILE SKIPPING: data files
        whose footer min/max cannot overlap the range are dropped at
        PLANNING time — no footer read, no task, no I/O — and the
        residual predicate is still applied to the surviving rows, so
        results are exact regardless of how coarse the stats are.  This
        is the manifest-pruning layer that sits ABOVE parquet row-group
        pruning: at 100 TB it is the difference between listing a
        million files and scheduling tasks for the three that matter.

        ``partition_filter`` (partition-field name → value, e.g.
        ``{"bar_bucket": 3}``) prunes files by their metadata partition
        tuple.  PARTITION-EVOLUTION semantics: a file written under a
        spec that does not carry the field cannot be pruned and is kept;
        the residual transform predicate is applied to the surviving
        ROWS, so results stay exact across mixed-spec tables — old
        layout pays the filter, new layout pays nothing but the pruned
        file list.

        ``ref`` resolves a named tag to its snapshot id (mutually
        exclusive with ``snapshot_id``).

        Raises ``ValueError`` for a snapshot id that never existed or was
        expired — matching Iceberg's behavior instead of silently
        returning an empty table."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            snapshot_id = self.resolve_ref(ref)
        if snapshot_id is not None and snapshot_id not in {
            s["id"] for s in self._meta["snapshots"]
        }:
            raise ValueError(
                f"snapshot {snapshot_id} does not exist (never created, or expired)"
            )
        return self._scan_resolved(snapshot_id, where, partition_filter)

    def _scan_resolved(
        self,
        snapshot_id: int | None = None,
        where: dict[str, tuple] | None = None,
        partition_filter: dict[str, object] | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Read the table state as of ``snapshot_id`` (default: current).

        Plan shape: delete files are scoped to data files at PLANNING
        time (``_delete_scope``).  Data files no live delete can touch are
        a plain parquet scan, unioned in with no join.  The rest are read
        with the hidden ``_metadata`` (its percent-encoded path decoded
        by ``_file_id_col``) → filtered by the position runs recorded at
        commit (``_pos_runs``) → anti-joined against the other position
        deletes that can name them on (file, pos) → anti-joined against
        the equality deletes that can match them on the key columns with
        ``data.seq < delete.seq``; a ``where`` range on a key column also
        bounds the equality deletes read (a key outside it can only
        match rows the residual drops).  ``data.seq`` is a literal expression
        over ``_metadata.file_path`` (no file → seq join), and each
        delete sequence number's equality files are ONE parquet scan with
        the table's key schema (no schema-inferring footer job).  Delete
        sides are unhinted; the planner broadcasts them when small, so
        the data side is never shuffled by the read itself.  Delete
        files committed without footer stats apply to every data file,
        and such equality-delete files keep a schema-inferring read (they
        may hold a wider type than the key schema).
        """
        data_files = self._files_of_kind("data", snapshot_id)
        if where:
            data_files = [
                f for f in data_files if _stats_overlap(f.get("stats"), where)
            ]
        if partition_filter:
            # prune ONLY files written under the spec whose definition of
            # the field the residual predicate uses (the newest): after
            # partition evolution reuses a field NAME with different
            # parameters (bucket n=8 -> n=4), an old file's stored value
            # is in a different domain and comparing it against the new
            # transform's value would silently drop matching rows — such
            # files are kept and pay the row-level residual instead
            # a file is prune-ELIGIBLE on k when its own spec defines k
            # with the IDENTICAL (source, transform, n) as the newest
            # definition — not merely the same spec_id (review r7: evolve
            # toggles mint new ids with identical definitions, and
            # id-equality stranded every older file on the row residual
            # forever).  Different-parameter re-registrations stay
            # ineligible and pay the residual, as before.
            newest = {k: self._spec_field(k) for k in partition_filter}

            def _same_def(a: dict, b: dict) -> bool:
                return (a["source"], a["transform"], a.get("n")) == (
                    b["source"],
                    b["transform"],
                    b.get("n"),
                )

            eligible = {
                k: {
                    s["spec_id"]
                    for s in self.partition_specs
                    for fdef in s["fields"]
                    if fdef["name"] == k and _same_def(fdef, newest[k])
                }
                for k in partition_filter
            }
            data_files = [
                f
                for f in data_files
                if all(
                    k not in (f.get("partition") or {})
                    or f.get("spec_id") not in eligible[k]
                    # ambiguous rendering (None) ⇒ never prune on this
                    # key; the residual group below re-checks the rows
                    or _hive_pval(v) is None
                    or (f.get("partition") or {})[k] == _hive_pval(v)
                    for k, v in partition_filter.items()
                )
            ]
        if not data_files:
            return self.spark.createDataFrame([], self.schema.to_spark())
        plain, touched, pos_files, eq_files, pos_runs = self._delete_scope(
            data_files, snapshot_id, where
        )

        def _read(files: list[dict], meta: bool) -> DataFrame:
            # split the files by which partition keys still need the
            # ROW-level residual (review r9): a file that is
            # prune-eligible on k was kept because its STORED partition
            # value equals the filter value, and the Iceberg contract
            # (which the prune step above already trusts for exclusion)
            # makes every row of such a file match — re-filtering those
            # rows charged the transform (cast+pmod per key) to exactly
            # the files the new layout promised would pay nothing.  Only
            # ineligible-spec / field-less files keep the residual, per
            # key.  Groups are tiny (one per residual-key combination —
            # 1-2 in practice), so the union adds no shuffle.
            groups: dict[frozenset, list[dict]] = {}
            for f in files:
                need = frozenset(
                    k
                    for k, v in (partition_filter or {}).items()
                    if k not in (f.get("partition") or {})
                    or f.get("spec_id") not in eligible[k]
                    # ambiguous rendering: the value-match above was
                    # skipped, so the rows must be re-checked (r10)
                    or _hive_pval(v) is None
                )
                groups.setdefault(need, []).append(f)
            parts = []
            for need, fs in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
                part = self.spark.read.schema(self.schema.to_spark()).parquet(
                    *[f["path"] for f in fs]
                )
                if meta:
                    part = part.select(
                        *part.columns,
                        _file_id_col(F.col("_metadata.file_path")).alias("__file"),
                        F.col("_metadata.row_index").alias("__pos"),
                    )
                for k in sorted(need):
                    # eqNullSafe: identical to == for non-null probes,
                    # and lets partition_filter={'c': None} actually
                    # select the null partition instead of NULL-ing the
                    # predicate away (r10)
                    part = part.where(
                        self._transform_expr(self._spec_field(k)).eqNullSafe(
                            F.lit(partition_filter[k])
                        )
                    )
                parts.append(part)
            return reduce(DataFrame.unionByName, parts)

        parts = [_read(plain, keep_meta)] if plain else []
        if touched:
            mor = self._apply_deletes(
                _read(touched, True), touched, pos_files, eq_files, pos_runs, where
            )
            parts.append(mor if keep_meta else mor.drop("__file", "__pos"))
        df = reduce(DataFrame.unionByName, parts)
        if where:  # residual predicate: exactness never depends on stats
            for c, (lo, hi) in where.items():
                if lo is not None:
                    df = df.where(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(c) <= F.lit(hi))
        return df

    def _delete_scope(
        self,
        data_files: list[dict],
        snapshot_id: int | None,
        where: dict[str, tuple] | None = None,
    ) -> tuple[list[dict], list[dict], list[dict], list[dict], dict[str, list]]:
        """Iceberg scan planning for deletes: split ``data_files`` into
        the ones no live delete file can touch and the ones some can, and
        keep only the delete files that can touch at least one of the
        latter.  Equality-delete files whose key bounds miss the scan's
        ``where`` ranges are left out first (``_eq_delete_in_where``).
        Position-delete files carrying ``pos_runs`` are returned as runs
        per data file (``_file_id`` → runs) instead of as files to join,
        unless the scan would hold more than ``_POS_RUNS_MAX`` runs.
        Returns ``(plain, touched, pos_files, eq_files, pos_runs)``."""
        pos_all = self._files_of_kind("pos-delete", snapshot_id)
        eq_all = []
        eq_keys = []
        for f in self._files_of_kind("eq-delete", snapshot_id):
            keys = self.schema.names_for_ids(list(f["equality_ids"]))
            if _eq_delete_in_where(f, keys, where):
                eq_all.append(f)
                eq_keys.append(keys)
        plain, touched = [], []
        pos_used: set[int] = set()
        eq_used: set[int] = set()
        run_files: dict[str, list[int]] = {}
        for d in data_files:
            data_id = _file_id(d["path"])
            pos_hit = {
                i for i, f in enumerate(pos_all) if _pos_delete_may_apply(data_id, f)
            }
            eq_hit = {
                i
                for i, f in enumerate(eq_all)
                if _eq_delete_may_apply(d, f, eq_keys[i])
            }
            (touched if pos_hit or eq_hit else plain).append(d)
            for i in pos_hit:
                if "pos_runs" in pos_all[i]:
                    run_files.setdefault(data_id, []).append(i)
                else:
                    pos_used.add(i)
            eq_used |= eq_hit
        pos_runs = {
            data_id: [r for i in idx for r in pos_all[i]["pos_runs"]["runs"]]
            for data_id, idx in run_files.items()
        }
        if sum(map(len, pos_runs.values())) > _POS_RUNS_MAX:
            # too many filter terms for one scan: join those files too
            pos_used |= {i for idx in run_files.values() for i in idx}
            pos_runs = {}
        return (
            plain,
            touched,
            [pos_all[i] for i in sorted(pos_used)],
            [eq_all[i] for i in sorted(eq_used)],
            pos_runs,
        )

    def _apply_deletes(
        self,
        df: DataFrame,
        data_files: list[dict],
        pos_files: list[dict],
        eq_files: list[dict],
        pos_runs: dict[str, list],
        where: dict[str, tuple] | None,
    ) -> DataFrame:
        """Apply the given deletes to ``df`` (rows of ``data_files`` with
        ``__file`` and ``__pos``): position runs as a filter, the other
        position-delete files and the equality-delete files (their key
        columns restricted to the ``where`` ranges) as anti-joins."""
        if pos_runs:
            gone = []
            for data_id, runs in sorted(pos_runs.items()):
                hit = reduce(
                    lambda a, b: a | b,
                    [F.col("__pos").between(lo, hi) for lo, hi in sorted(runs)],
                )
                if len(data_files) > 1:  # else every row is that file's
                    hit = (F.col("__file") == data_id) & hit
                gone.append(hit)
            df = df.where(~reduce(lambda a, b: a | b, gone))
        if pos_files:
            pos = self.spark.read.schema("file_path string, pos long").parquet(
                *[f["path"] for f in pos_files]
            )
            # no broadcast hint: the delete SET is data-dependent (GBs
            # after a large MoR delete), and an explicit hint is honored
            # unconditionally (review r8).  The side is a plain parquet
            # scan with known byte size, so the planner broadcasts it
            # whenever it is actually small (the common case, asserted
            # in test_plans) and falls back to a shuffled anti-join —
            # the only plan that survives — when it is not.
            df = df.join(
                pos,
                (df["__file"] == pos["file_path"]) & (df["__pos"] == pos["pos"]),
                "left_anti",
            )
        if not eq_files:
            return df
        # data.seq as a literal: one value, or one isin branch per value
        # (file-level metadata — no per-scan file → seq join)
        by_seq: dict[int, list[str]] = {}
        for f in data_files:
            by_seq.setdefault(f["sequence_number"], []).append(_file_id(f["path"]))
        if len(by_seq) == 1:
            data_seq = F.lit(next(iter(by_seq)))
        else:
            data_seq = None
            for seq, paths in sorted(by_seq.items()):
                hit = F.col("__file").isin(paths)
                data_seq = F.when(hit, seq) if data_seq is None else data_seq.when(hit, seq)
        df = df.withColumn("__data_seq", data_seq)
        # group eq-delete files by their equality-id set (usually one),
        # then by sequence number: one key-schema scan per number
        # (_files_of_kind already merged sequence numbers and the
        # snapshot-level equality_ids fallback into each entry)
        by_ids: dict[tuple[int, ...], dict[int, list[dict]]] = {}
        for f in eq_files:
            by_ids.setdefault(tuple(f["equality_ids"]), {}).setdefault(
                f["sequence_number"], []
            ).append(f)
        types = self.schema.to_spark()
        for ids, files_by_seq in by_ids.items():
            key_cols = self.schema.names_for_ids(list(ids))
            key_schema = T.StructType([types[c] for c in key_cols])
            sides = []
            for seq, files in sorted(files_by_seq.items()):
                typed = [f["path"] for f in files if "null_counts" in f]
                # files committed without footer stats predate the cast
                # to the table types (_key_frame) and may hold a wider
                # parquet type than the key schema can read: they keep a
                # schema-inferring read, and the union widens the types
                reads = [self.spark.read.schema(key_schema).parquet(*typed)] if typed else []
                reads += [
                    self.spark.read.parquet(f["path"]).select(*key_cols)
                    for f in files
                    if "null_counts" not in f
                ]
                sides += [r.withColumn("__del_seq", F.lit(seq)) for r in reads]
            dels = reduce(DataFrame.unionAll, sides)
            for c in key_cols:
                # a delete key outside the where range can only match
                # rows the residual predicate drops anyway
                lo, hi = (where or {}).get(c, (None, None))
                if lo is not None:
                    dels = dels.where(F.col(c) >= F.lit(lo))
                if hi is not None:
                    dels = dels.where(F.col(c) <= F.lit(hi))
            cond = F.col("__data_seq") < F.col("__del_seq")
            for c in key_cols:
                # eqNullSafe (review r10): Iceberg equality deletes
                # match null to null; a plain == evaluates NULL for
                # a NULL key and the anti-join kept the row forever
                # while summary()'s derived count subtracted it
                cond = cond & df[c].eqNullSafe(dels[c])
            # unhinted like the pos-delete side above: eq-delete key
            # sets are data-dependent too (review r8)
            df = df.join(dels, cond, "left_anti")
        return df.drop("__data_seq")

    def plan_report(self, where: dict[str, tuple]) -> dict:
        """Planning-time pruning report: how many live data files the
        footer-stats planner keeps vs prunes for ``where`` — the SAME
        ``_stats_overlap`` decision ``scan(where=...)`` makes, exposed
        as supported surface (review r10: the q_mor_prune_report
        operator reached into the private ``_files_of_kind`` /
        ``_stats_overlap`` internals, which churn across rounds).
        ``files_with_deletes`` counts the surviving files that still have
        deletes applied (position runs or anti-joins), by the scan's own
        ``_delete_scope``."""
        files = self._files_of_kind("data", None)
        surviving = [f for f in files if _stats_overlap(f.get("stats"), where)]
        touched = self._delete_scope(surviving, None, where)[1]
        return {
            "total_files": len(files),
            "pruned_files": len(files) - len(surviving),
            "surviving_files": len(surviving),
            "files_with_deletes": len(touched),
        }

    # -- summary (O14) ------------------------------------------------------

    def summary(self, measure: bool = False) -> dict:
        """Derived row counts from metadata only (reference parity:
        main.rs:334-345 derives and never scans), clamped at zero instead
        of going negative — H4.

        ``derived_total`` subtracts delete RECORDS, so it is exact only
        when each record removes one live row that no other record
        removes: position deletes name distinct (file, pos) pairs and
        each equality-delete row matches exactly one older row, as the
        generator's deletes do.  A repeated (file, pos), an equality key
        matching zero or several rows, or two deletes of one row make it
        differ from the scan; the scan itself stays exact.

        ``measure=True`` additionally runs the full MoR ``scan().count()``
        and reports ``measured_total``.  Off by default: at 100 TB a
        summary must not cost two anti-joins over the whole table; tests
        opt in to assert measured == derived."""
        by_kind = {"data": 0, "pos-delete": 0, "eq-delete": 0}
        for snap in self._upto(None):  # baseline-aware: post-compaction counts
            for f in snap["files"]:
                by_kind[f["kind"]] += f["record_count"]
        derived = max(0, by_kind["data"] - by_kind["pos-delete"] - by_kind["eq-delete"])
        out = {
            "data_rows": by_kind["data"],
            "pos_delete_rows": by_kind["pos-delete"],
            "eq_delete_rows": by_kind["eq-delete"],
            "derived_total": derived,
            "snapshots": len(self._meta["snapshots"]),
        }
        if measure:
            out["measured_total"] = self.scan().count()
        return out
