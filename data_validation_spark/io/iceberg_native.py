"""Iceberg table format, natively — no ``iceberg-spark-runtime`` jar needed.

Implements the public Apache Iceberg table spec
(https://iceberg.apache.org/spec/) directly over the filesystem: table
metadata JSON, Avro manifest lists and manifests (via the pure-Python Avro
codec in :mod:`data_validation_spark.io.avro`), snapshot resolution with
time travel, manifest-level partition pruning, and a v1 writer used for
fixtures and as a light "Iceberg sink".

Why: the north rule targets Iceberg tables of image/caption pairs, but this
image ships no Iceberg runtime jar. Rather than leaving ``read_iceberg``
permanently capability-gated, this module speaks the format itself:

* ``plan_files`` — metadata → current/selected snapshot → manifest list →
  manifests → live data-file entries, with partition pruning evaluated
  against the spec's transforms (identity, bucket[N] with the spec's
  murmur3, truncate[W], year/month/day/hour). Pruning happens here, on
  KB-scale metadata at the driver — exactly where the real runtime does it —
  so Spark never even enumerates pruned files. At 10^12 rows this is the
  difference between scanning a partition and scanning the table.
* ``read_table`` — the planned file list handed to ``spark.read.parquet``;
  Catalyst still applies row-group/page-level pushdown inside each file.
* ``write_table`` / ``append_table`` — v1 metadata + manifests for a
  DataFrame (per-partition data files carry all columns, copy-on-write
  layout). The per-partition write loop is driver-sequenced and intended
  for fixture/CI scale; a production cluster would use the runtime jar's
  committer (the read path is the part the validation engine needs).

v2 merge-on-read, both delete flavors (``read_files``), both with the
spec's sequence-number ordering. POSITIONAL deletes apply to (file, row
position) via parquet ``_metadata``, and only to data files with sequence ≤
the delete's (a file re-registered at a higher sequence keeps its rows).
They take one of two paths:

* a small delete set (summed manifest ``record_count`` at most
  ``_FILTER_DELETE_BOUND``) is read on the driver with pyarrow — delete
  files are KB-scale, like the manifests — resolved against the data files
  of the read, sequence rule included, and applied as one ``Filter`` over
  the data scan: no join, no broadcast, no Spark job;
* a larger one stays distributed: an anti-join against the delete files,
  scanned under the spec's ``file_path string, pos long`` schema, with a
  broadcast file→(stored path, sequence) map attaching each data row's
  sequence.

EQUALITY deletes always anti-join on the key columns, and only deletes with
a strictly greater sequence apply — rows appended after the delete survive.
``delete_rows`` and ``delete_rows_equality`` commit them without rewriting
data.

Reference context: tensorflow/data-validation has no table-format layer
(tfx-bsl handles IO); this module is the storage half of the north rule.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import struct
import time
import uuid as uuidlib
from dataclasses import dataclass
from typing import Any, Callable, Optional

from data_validation_spark.io.avro import read_avro_file, write_avro_file

# --------------------------------------------------------------------------
# murmur3 x86 32-bit — the spec's bucket-transform hash (Appendix B).
# Test vectors from the spec are pinned in tests/test_iceberg_native.py.
# --------------------------------------------------------------------------
_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Returns the SIGNED 32-bit murmur3 hash (Iceberg reports it signed)."""
    h = seed
    n = len(data) - len(data) % 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _bucket_hash(value: Any) -> int:
    """Spec: ints/longs hash as 8-byte little-endian longs, strings as UTF-8,
    binary as raw bytes (dates/times reduce to their integer forms first)."""
    if isinstance(value, bool):
        raise ValueError("bucket transform is not defined for boolean")
    if isinstance(value, int):
        return murmur3_32(struct.pack("<q", value))
    if isinstance(value, str):
        return murmur3_32(value.encode("utf-8"))
    if isinstance(value, (bytes, bytearray)):
        return murmur3_32(bytes(value))
    raise ValueError(f"bucket transform: unsupported literal type {type(value)}")


def bucket_transform(value: Any, n: int) -> Optional[int]:
    if value is None:
        return None
    return (_bucket_hash(value) & 0x7FFFFFFF) % n


_EPOCH_ORD = 719163  # date(1970,1,1).toordinal()


def _to_days(value: Any) -> int:
    import datetime

    if isinstance(value, datetime.datetime):
        value = value.date()
    if isinstance(value, datetime.date):
        return value.toordinal() - _EPOCH_ORD
    return int(value)  # already days-from-epoch


def apply_transform(transform: str, value: Any, width_hint: Any = None) -> Any:
    """Apply a partition transform to a source-column literal. Returns the
    transformed partition value, or raises on an unsupported transform (the
    caller treats that as "cannot prune")."""
    import datetime

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    if transform.startswith("bucket["):
        return bucket_transform(value, int(transform[7:-1]))
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(value, int):
            return value - (value % w)  # Python floor-mod == spec for negatives
        if isinstance(value, str):
            return value[:w]
        if isinstance(value, (bytes, bytearray)):
            return bytes(value)[:w]
        raise ValueError(f"truncate: unsupported type {type(value)}")
    if transform == "day":
        return _to_days(value)
    if transform == "year":
        d = datetime.date.fromordinal(_to_days(value) + _EPOCH_ORD)
        return d.year - 1970
    if transform == "month":
        d = datetime.date.fromordinal(_to_days(value) + _EPOCH_ORD)
        return (d.year - 1970) * 12 + d.month - 1
    if transform == "hour":
        if isinstance(value, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=value.tzinfo)
            return int((value - epoch).total_seconds() // 3600)
        # Iceberg timestamp literals are MICROSECONDS from epoch
        return int(value) // 3_600_000_000
    raise ValueError(f"unsupported partition transform {transform!r}")


# --------------------------------------------------------------------------
# manifest Avro schemas (spec v1 shapes, with the spec's field-ids)
# --------------------------------------------------------------------------
def _partition_avro_fields(spec_fields: list[dict], schema_fields: list[dict]) -> list[dict]:
    by_id = {f["id"]: f for f in schema_fields}
    out = []
    for pf in spec_fields:
        src = by_id.get(pf["source-id"], {})
        t = src.get("type", "string")
        transform = pf.get("transform", "identity")
        if transform.startswith("bucket[") or transform in ("year", "month", "day", "hour"):
            avro_t = "int"
        elif t in ("int", "date"):
            avro_t = "int"
        elif t == "long":
            avro_t = "long"
        elif t in ("float",):
            avro_t = "float"
        elif t in ("double",):
            avro_t = "double"
        elif t in ("binary",):
            avro_t = "bytes"
        else:
            avro_t = "string"
        if transform.startswith("truncate[") and t in ("int", "long"):
            avro_t = "long" if t == "long" else "int"
        out.append(
            {
                "name": pf["name"],
                "type": ["null", avro_t],
                "field-id": pf.get("field-id", 1000 + len(out)),
            }
        )
    return out


def _manifest_entry_schema(partition_fields: list[dict]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": "long", "field-id": 1},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": ["null", "int"], "field-id": 134},
                        {"name": "equality_ids", "field-id": 135,
                         "type": ["null", {"type": "array", "items": "int"}]},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": partition_fields,
                            },
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
                    ],
                },
            },
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "content", "type": ["null", "int"], "field-id": 517},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 515},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"], "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"], "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "field-id": 506},
        {
            "name": "partitions",
            "field-id": 507,
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean", "field-id": 509},
                            {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
                            {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
                        ],
                    },
                },
            ],
        },
    ],
}


# --------------------------------------------------------------------------
# table metadata
# --------------------------------------------------------------------------
@dataclass
class TableMetadata:
    root: str  # actual filesystem root of the table
    meta: dict  # parsed vN.metadata.json

    @property
    def location(self) -> str:
        return self.meta.get("location", self.root)

    @property
    def format_version(self) -> int:
        return int(self.meta.get("format-version", 1))

    def schema(self) -> dict:
        if "schemas" in self.meta:
            sid = self.meta.get("current-schema-id", 0)
            for s in self.meta["schemas"]:
                if s.get("schema-id") == sid:
                    return s
        return self.meta["schema"]

    def partition_spec(self) -> list[dict]:
        if "partition-specs" in self.meta:
            sid = self.meta.get("default-spec-id", 0)
            for s in self.meta["partition-specs"]:
                if s.get("spec-id") == sid:
                    return s["fields"]
        return self.meta.get("partition-spec", [])

    def snapshots(self) -> list[dict]:
        return self.meta.get("snapshots", [])

    def current_snapshot(self) -> Optional[dict]:
        sid = self.meta.get("current-snapshot-id", -1)
        for s in self.snapshots():
            if s["snapshot-id"] == sid:
                return s
        return None

    def rebase(self, path: str) -> str:
        """Map a path stored in metadata (absolute at write time) onto the
        table's actual location — tables survive being moved/copied."""
        p = path
        for prefix in ("file://", "file:"):
            if p.startswith(prefix):
                p = p[len(prefix):]
        loc = self.location
        for prefix in ("file://", "file:"):
            if loc.startswith(prefix):
                loc = loc[len(prefix):]
        if p.startswith(loc.rstrip("/") + "/"):
            return os.path.join(self.root, p[len(loc.rstrip("/")) + 1 :])
        return p


def is_iceberg_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "metadata")) and bool(
        glob.glob(os.path.join(path, "metadata", "*.metadata.json"))
    )


def load_table(path: str) -> TableMetadata:
    mdir = os.path.join(path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    mfile = None
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        for pat in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            cand = os.path.join(mdir, pat)
            if os.path.exists(cand):
                mfile = cand
                break
    if mfile is None:
        cands = sorted(
            glob.glob(os.path.join(mdir, "*.metadata.json")),
            key=lambda p: (len(p), p),
        )
        if not cands:
            raise FileNotFoundError(f"no Iceberg metadata under {mdir}")
        mfile = cands[-1]
    with open(mfile) as f:
        return TableMetadata(root=path, meta=json.load(f))


def _select_snapshot(
    tm: TableMetadata,
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[int] = None,
) -> dict:
    snaps = tm.snapshots()
    if not snaps:
        raise ValueError("Iceberg table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    if as_of_timestamp is not None:
        eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_timestamp]
        if not eligible:
            raise ValueError(f"no snapshot at or before {as_of_timestamp}")
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = tm.current_snapshot()
    if cur is None:
        raise ValueError("table has snapshots but no current-snapshot-id match")
    return cur


# --------------------------------------------------------------------------
# read path: plan_files → read_table
# --------------------------------------------------------------------------
@dataclass
class DataFileEntry:
    path: str
    file_format: str
    partition: dict  # partition field name -> transformed value
    record_count: int
    file_size_in_bytes: int
    spec_id: int = 0
    stored_path: str = ""  # path as written in the manifest (pre-rebase)
    data_seq: int = 0  # data sequence number (v1 tables: 0)


@dataclass
class DeleteFileEntry:
    path: str
    content: int  # 1 = position deletes, 2 = equality deletes
    record_count: int = 0
    seq: int = 0  # delete sequence number (applies to data_seq < seq)
    equality_ids: tuple = ()
    file_size_in_bytes: int = 0
    file_format: str = "PARQUET"


def _entry_partition(raw: Any) -> dict:
    return dict(raw) if isinstance(raw, dict) else {}


def partition_key(partition: dict) -> str:
    """Canonical string form of a partition dict — the checkpoint ledger's
    resume key and the ``iceberg_partitions`` listing share this format, so
    they can never drift apart."""
    return "/".join(f"{k}={v}" for k, v in sorted(partition.items())) or "<unpartitioned>"


def plan_files(
    table_path: str,
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[int] = None,
    partition_filter: Optional[dict[str, Any] | Callable[[dict], bool]] = None,
) -> list[DataFileEntry]:
    """Resolve the live DATA files of a snapshot, with partition pruning.

    ``partition_filter`` is either a callable over the partition dict, or a
    dict of equality predicates keyed by SOURCE column name (literals are run
    through the partition spec's transform) and/or by partition field name
    (compared directly). Files whose transform can't evaluate the literal are
    conservatively kept. Positional-delete files (v2 merge-on-read) are
    planned separately — use :func:`plan_scan` to get both (positional AND
    equality deletes are fully applied by ``read_files``/``read_table``).
    """
    return plan_scan(table_path, snapshot_id, as_of_timestamp, partition_filter)[0]


def plan_scan(
    table_path: str,
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[int] = None,
    partition_filter: Optional[dict[str, Any] | Callable[[dict], bool]] = None,
) -> tuple[list[DataFileEntry], list[DeleteFileEntry]]:
    """(data files, delete files) of a snapshot. Delete files — positional
    AND equality — are NEVER partition-pruned (a global delete file must
    survive any filter; a delete naming pruned rows is a harmless no-op);
    ``read_files`` applies both flavors, equality deletes under the spec's
    sequence-number ordering."""
    tm = load_table(table_path)
    snap = _select_snapshot(tm, snapshot_id, as_of_timestamp)
    mlist_path = tm.rebase(snap["manifest-list"])
    _, _, manifests = read_avro_file(mlist_path)

    # build source-col -> (partition field name, transform) for pruning
    schema_fields = tm.schema().get("fields", [])
    id_to_name = {f["id"]: f["name"] for f in schema_fields}
    spec_by_source: dict[str, list[tuple[str, str]]] = {}
    for pf in tm.partition_spec():
        src = id_to_name.get(pf["source-id"])
        if src:
            spec_by_source.setdefault(src, []).append((pf["name"], pf["transform"]))

    if isinstance(partition_filter, dict):
        # a typo'd key would silently disable pruning AND return the whole
        # table where the caller expected one partition — fail loudly instead
        field_names = {pf["name"] for pf in tm.partition_spec()}
        for key in partition_filter:
            if key not in field_names and key not in spec_by_source:
                raise ValueError(
                    f"partition_filter key {key!r} is neither a partition "
                    f"field ({sorted(field_names)}) nor a partition source "
                    f"column ({sorted(spec_by_source)})"
                )

    def keep(partition: dict) -> bool:
        if partition_filter is None:
            return True
        if callable(partition_filter):
            return partition_filter(partition)
        for key, literal in partition_filter.items():
            if key in partition:  # direct partition-field predicate
                if partition[key] != literal:
                    return False
                continue
            for pf_name, transform in spec_by_source.get(key, []):
                if pf_name not in partition:
                    continue
                try:
                    expected = apply_transform(transform, literal)
                except ValueError:
                    continue  # unknown transform → cannot prune on it
                if partition[pf_name] != expected:
                    return False
        return True

    out: list[DataFileEntry] = []
    deletes: list[DeleteFileEntry] = []
    for mf in manifests:
        mpath = tm.rebase(mf["manifest_path"])
        _, _, entries = read_avro_file(mpath)
        mseq = int(mf.get("sequence_number") or 0)
        for e in entries:
            if int(e.get("status", 0)) == 2:  # DELETED
                continue
            # v2 inheritance: an entry carries its own sequence number when
            # set (EXISTING entries in rewritten/compacted manifests keep
            # their ORIGINAL number); null inherits the manifest's
            eseq = e.get("sequence_number")
            entry_seq = int(eseq) if eseq is not None else mseq
            df = e["data_file"]
            content = int(df.get("content", 0) or 0)
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if content == 0 and int(mf.get("content", 0) or 0) == 1:
                raise ValueError(
                    "malformed table: delete manifest contains a data file"
                )
            if content in (1, 2):  # positional / equality delete file
                deletes.append(
                    DeleteFileEntry(
                        path=tm.rebase(df["file_path"]),
                        content=content,
                        record_count=int(df.get("record_count", 0)),
                        seq=entry_seq,
                        equality_ids=tuple(df.get("equality_ids") or ()),
                        file_size_in_bytes=int(df.get("file_size_in_bytes", 0)),
                        file_format=fmt,
                    )
                )
                continue
            part = _entry_partition(df.get("partition"))
            if not keep(part):
                continue
            out.append(
                DataFileEntry(
                    path=tm.rebase(df["file_path"]),
                    file_format=fmt,
                    partition=part,
                    record_count=int(df.get("record_count", 0)),
                    file_size_in_bytes=int(df.get("file_size_in_bytes", 0)),
                    spec_id=int(mf.get("partition_spec_id", 0)),
                    stored_path=str(df["file_path"]),
                    data_seq=entry_seq,
                )
            )
    return out, deletes


def read_table(
    spark,
    table_path: str,
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[int] = None,
    partition_filter: Optional[dict[str, Any] | Callable[[dict], bool]] = None,
    columns: Optional[list[str]] = None,
):
    """Read an Iceberg table into a DataFrame via the native planner.

    Files are planned (and pruned) on the driver from KB-scale manifest
    metadata; the surviving list goes to one ``spark.read.parquet`` call so
    Catalyst keeps per-file parallelism, row-group pushdown, and column
    pruning. Empty plans return an empty DataFrame with the table schema.
    """
    from data_validation_spark.util import local_frame

    entries, deletes = plan_scan(
        table_path, snapshot_id, as_of_timestamp, partition_filter
    )
    for e in entries:
        if e.file_format not in ("PARQUET", "ORC"):
            raise NotImplementedError(
                f"native reader supports parquet/orc data files, got {e.file_format}"
            )
    tm = load_table(table_path)
    schema = tm.schema()
    if not entries:
        return local_frame(spark, [], _schema_to_ddl(schema))
    df = read_files(spark, entries, deletes, schema)
    return df.select(*columns) if columns else df


_URI_SCHEME = r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

# Positional-delete rows (summed manifest record_count) up to which
# read_files applies positional deletes as one scan filter built on the
# driver (``_position_delete_sql``); above it they stay a distributed
# anti-join. Driver memory sets the bound, not speed: Spark's SQL status
# store keeps the plan text of its last spark.sql.ui.retainedExecutions
# (default 1000) executions, and the filter's literals add about 370 bytes
# per deleted row to each execution over the read: 0.36 MB at 1k rows,
# 3.5 MB at 10k. Speed alone would allow about 10k: reading 2M rows on 4
# cores with 1k / 10k / 30k deleted rows took 0.30 / 1.06 / 3.0 s through
# the filter and 1.47 / 1.40 / 1.52 s through the anti-join.
_FILTER_DELETE_BOUND = 1_000

# The spec's positional-delete file schema.
_POSITION_DELETE_DDL = "file_path string, pos long"


def _normalize_path(path: str) -> str:
    """Strip any URI scheme: 'file:/p', 'file:///p', 'hdfs://nn/p' → path."""
    return re.sub(_URI_SCHEME, "/", path)


def _normalize_path_col(col):
    """``_normalize_path`` as a column expression."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, _URI_SCHEME, "/")


def _scan_path_col():
    """``_metadata.file_path`` as ``_normalize_path`` names the same file in
    a plan. Spark reports it URI-escaped (a space as %20, '%' as %25, '+'
    kept as is); plans hold paths as written. ``url_decode`` undoes the
    escaping once a bare '+', which it would turn into a space, is escaped
    too."""
    from pyspark.sql import functions as F

    path = _normalize_path_col(F.col("_metadata.file_path"))
    return F.url_decode(F.replace(path, F.lit("+"), F.lit("%2B")))


def _sql_string(s: str) -> str:
    """``s`` as a SQL string literal (Spark's default backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _position_delete_sql(entries: list, pos_deletes: list) -> Optional[str]:
    """SQL over ``__dv_file`` / ``__dv_pos`` that is true for a row the
    positional deletes remove, or None when none of them names a data file
    of this read. The delete files are read on the driver; a data file gets
    the positions of the deletes whose sequence number is ≥ its own.

    Every deleted (position, file) pair is one ``'pos:file'`` value of a
    single ``IN`` over ``concat(__dv_pos, ':', __dv_file)``: Spark turns it
    into one hash-set lookup per row however many files carry deletes (a
    ``CASE`` branch per file failed code generation at 200 files), and the
    values travel as one SQL string, not as one py4j call each. The key is
    unambiguous: the position is all digits and comes first. An ``IN`` over
    the deleted positions alone goes first, so only rows at such a position
    build the string key."""
    import pyarrow.parquet as pq

    named: dict[str, list[tuple[int, int]]] = {}  # stored path → (pos, seq)
    for d in pos_deletes:
        rows = pq.read_table(d.path, columns=["file_path", "pos"]).to_pydict()
        for path, pos in zip(rows["file_path"], rows["pos"]):
            named.setdefault(_normalize_path(path), []).append((pos, d.seq))
    deleted = set()
    for e in entries:
        key = _normalize_path(e.path)
        stored = _normalize_path(e.stored_path or e.path)
        deleted.update((p, key) for p, seq in named.get(stored, ()) if seq >= e.data_seq)
    if not deleted:
        return None
    positions = ",".join(map(str, sorted({p for p, _ in deleted})))
    values = ",".join(_sql_string(f"{p}:{key}") for p, key in sorted(deleted))
    return (
        f"__dv_pos IN ({positions}) AND "
        f"concat(__dv_pos, ':', __dv_file) IN ({values})"
    )


def read_files(spark, entries: list, deletes: list, schema: dict):
    """One ``spark.read.parquet`` over planned data files, with deletes
    applied — merge-on-read (see ``_merge_on_read``)."""
    if not deletes:
        return _scan_files(spark, entries, schema)
    return _merge_on_read(spark, entries, deletes, schema).drop("__dv_file", "__dv_pos")


def _scan_files(spark, entries: list, schema: dict):
    """One scan per file format over the planned data files."""
    flat = all(isinstance(f["type"], str) for f in schema.get("fields", []))

    def scan(fmt: str, paths: list[str]):
        reader = spark.read
        if flat:
            # Read under the table's DECLARED schema (Iceberg semantics):
            # files written before an add-column evolution lack the new
            # column and null-fill; types come from metadata, not
            # file-by-file inference.
            reader = reader.schema(_schema_to_ddl(schema))
        return reader.orc(*paths) if fmt == "ORC" else reader.parquet(*paths)

    by_fmt: dict[str, list[str]] = {}
    for e in entries:
        by_fmt.setdefault(e.file_format, []).append(e.path)
    frames = [scan(fmt, paths) for fmt, paths in sorted(by_fmt.items())]
    df = frames[0]
    for extra in frames[1:]:
        df = df.unionByName(extra)
    return df


def _merge_on_read(spark, entries: list, deletes: list, schema: dict):
    """The scan of ``entries`` with ``deletes`` applied, plus each surviving
    row's ``__dv_file`` (its data file, as ``_normalize_path`` names it)
    and ``__dv_pos`` (its row position in that file).

    Delete rows name data files by their ORIGINAL stored paths, which a
    plan maps to actual paths, so deletes stay correct for moved/copied
    tables. Positional deletes summing at most ``_FILTER_DELETE_BOUND`` rows
    are read on the driver and applied as one filter on (file, row
    position) over the scan: no join and no job. Larger positional delete
    sets, and all equality deletes, are read by Spark, never collected to
    the driver, and anti-joined against the scan; a small file map from the
    same plan (actual path → stored path, data sequence number), built on
    the driver as a local relation and broadcast, attaches each row's
    sequence. Catalyst broadcasts a small delete side and shuffles both
    sides for a large one."""
    from pyspark.sql import functions as F

    from data_validation_spark.util import local_frame

    if any(e.file_format != "PARQUET" for e in entries):
        raise NotImplementedError(
            "merge-on-read deletes need parquet _metadata.row_index; this "
            "table mixes in ORC data files"
        )
    df = _scan_files(spark, entries, schema)
    base_cols = df.columns
    pos_deletes = [d for d in deletes if d.content == 1]
    eq_deletes = [d for d in deletes if d.content == 2]
    df = df.withColumn("__dv_file", _scan_path_col()).withColumn(
        "__dv_pos", F.col("_metadata.row_index")
    )

    if pos_deletes and sum(d.record_count for d in pos_deletes) <= _FILTER_DELETE_BOUND:
        deleted = _position_delete_sql(entries, pos_deletes)
        if deleted is not None:
            df = df.filter(f"NOT ({deleted})")
        pos_deletes = []

    if pos_deletes or eq_deletes:
        # Each data row picks up its file's data sequence number (both
        # delete flavors are sequence-conditioned per the spec) and its
        # file's stored path, the name delete rows use for it.
        file_map = local_frame(
            spark,
            [
                (_normalize_path(e.path), _normalize_path(e.stored_path or e.path), e.data_seq)
                for e in entries
            ],
            "__dv_file string, __dv_stored string, __dv_seq long",
        )
        df = df.join(F.broadcast(file_map), "__dv_file", "left")

    if pos_deletes:
        # Spec ordering: a position delete applies only to data files whose
        # data sequence number is ≤ the delete's sequence number. A data
        # file re-registered under a HIGHER sequence (add_files / rollback /
        # rewrite flows) must keep its rows even if an old delete file names
        # the same path+pos. One scan per sequence number, under the spec's
        # schema (no inference job).
        by_seq: dict[int, list[str]] = {}
        for d in pos_deletes:
            by_seq.setdefault(d.seq, []).append(d.path)
        parts = [
            spark.read.schema(_POSITION_DELETE_DDL).parquet(*paths).select(
                _normalize_path_col(F.col("file_path")).alias("__pd_stored"),
                F.col("pos").alias("__pd_pos"),
                F.lit(seq).cast("long").alias("__pd_seq"),
            )
            for seq, paths in sorted(by_seq.items())
        ]
        del_df = parts[0]
        for extra in parts[1:]:
            del_df = del_df.unionByName(extra)
        df = df.join(
            del_df,
            [
                df["__dv_stored"] == del_df["__pd_stored"],
                df["__dv_pos"] == del_df["__pd_pos"],
                del_df["__pd_seq"] >= df["__dv_seq"],
            ],
            "left_anti",
        )

    if eq_deletes:
        # Spec ordering: an equality delete applies to rows of data files
        # whose data sequence number is STRICTLY LESS than the delete's —
        # rows appended after the delete survive. One anti-join per distinct
        # equality-id set.
        id_to_name = {f["id"]: f["name"] for f in schema.get("fields", [])}
        by_ids: dict[tuple, list] = {}
        for d in eq_deletes:
            by_ids.setdefault(d.equality_ids, []).append(d)
        for ids, group in by_ids.items():
            cols = [id_to_name[i] for i in ids if i in id_to_name]
            if len(cols) != len(ids):
                raise ValueError(f"equality delete references unknown field ids {ids}")
            # the key columns' types come from the table schema: no
            # schema-inference job per delete file
            key_ddl = _schema_to_ddl(
                {"fields": [f for f in schema["fields"] if f["id"] in ids]}
            )
            parts = [
                spark.read.schema(key_ddl).parquet(d.path)
                .select(*cols)
                .withColumn("__del_seq", F.lit(d.seq).cast("long"))
                for d in group
            ]
            dels = parts[0]
            for extra in parts[1:]:
                dels = dels.unionByName(extra)
            dels = dels.select(
                *[F.col(c).alias(f"__dk_{c}") for c in cols], "__del_seq"
            )
            cond = [df[c].eqNullSafe(dels[f"__dk_{c}"]) for c in cols]
            cond.append(dels["__del_seq"] > df["__dv_seq"])
            joined = df.join(dels, cond, "left_anti")
            df = joined

    return df.select(*base_cols, "__dv_file", "__dv_pos")


_ICEBERG_TO_DDL = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
}


def _schema_to_ddl(schema: dict) -> str:
    parts = []
    for f in schema.get("fields", []):
        t = f["type"]
        if isinstance(t, str):
            ddl = _ICEBERG_TO_DDL.get(t)
            if ddl is None and t.startswith("decimal"):
                ddl = t
            parts.append(f"`{f['name']}` {ddl or 'string'}")
        else:
            parts.append(f"`{f['name']}` string")  # nested types: not needed yet
    return ", ".join(parts)


def table_partitions(table_path: str, snapshot_id: Optional[int] = None) -> list[dict]:
    """Distinct partition dicts of a snapshot — the checkpoint ledger's unit
    of resume (metadata-only, no data scan)."""
    seen: dict[tuple, dict] = {}
    for e in plan_files(table_path, snapshot_id=snapshot_id):
        key = tuple(sorted(e.partition.items()))
        seen.setdefault(key, e.partition)
    return list(seen.values())


def snapshot_log(table_path: str) -> list[dict]:
    tm = load_table(table_path)
    return [
        {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"],
         "operation": (s.get("summary") or {}).get("operation", "append")}
        for s in tm.snapshots()
    ]


# --------------------------------------------------------------------------
# write path (v1, copy-on-write) — fixture/CI-scale committer
# --------------------------------------------------------------------------
_SPARK_TO_ICEBERG = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp": "timestamp",
}


def _df_iceberg_schema(df) -> dict:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        t = f.dataType.typeName()
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": _SPARK_TO_ICEBERG.get(t, "string"),
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _make_spec(partition_by: Optional[list], schema: dict) -> list[dict]:
    """partition_by entries: "col" (identity), ("col", "bucket[16]") etc."""
    if not partition_by:
        return []
    by_name = {f["name"]: f for f in schema["fields"]}
    out = []
    for i, p in enumerate(partition_by):
        if isinstance(p, str):
            col, transform = p, "identity"
        else:
            col, transform = p
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in schema")
        name = col if transform == "identity" else (
            f"{col}_{transform.split('[')[0]}"
        )
        out.append(
            {
                "name": name,
                "transform": transform,
                "source-id": by_name[col]["id"],
                "field-id": 1000 + i,
            }
        )
    return out


def _transform_column(df, col: str, transform: str):
    """Materialize the transformed partition value as a Spark column."""
    from pyspark.sql import functions as F

    if transform == "identity":
        return df[col]
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        dt = dict(df.dtypes)[col]
        if dt in ("int", "bigint", "smallint", "tinyint"):
            return df[col] - (((df[col] % w) + w) % w)
        return F.substring(df[col], 1, w)
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        from pyspark.sql.functions import pandas_udf

        dt = dict(df.dtypes)[col]

        @pandas_udf("int")
        def _bucket(s):
            import pandas as pd

            def one(v):
                if v is None:
                    return None
                if dt in ("int", "bigint", "smallint", "tinyint"):
                    v = int(v)
                return bucket_transform(v, n)

            return pd.Series([one(v) for v in s], dtype="Int32")

        return _bucket(df[col])
    if transform == "day":
        return F.datediff(df[col].cast("date"), F.lit("1970-01-01").cast("date"))
    raise ValueError(f"writer does not support transform {transform!r}")


def _list_parquet(d: str) -> set[str]:
    out = set()
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(root, f))
    return out


def _write_snapshot(spark, df, table_path: str, tm: Optional[TableMetadata], partition_by):
    """Shared create/append body: data files → manifest → manifest list →
    new metadata version."""
    import pyarrow.parquet as pq

    mdir = os.path.join(table_path, "metadata")
    ddir = os.path.join(table_path, "data")
    os.makedirs(mdir, exist_ok=True)
    os.makedirs(ddir, exist_ok=True)

    if tm is None:
        schema = _df_iceberg_schema(df)
        spec = _make_spec(partition_by, schema)
        meta: dict = {
            "format-version": 1,
            "table-uuid": str(uuidlib.uuid4()),
            "location": table_path,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": len(schema["fields"]),
            "schema": schema,
            "schemas": [schema],
            "current-schema-id": 0,
            "partition-spec": spec,
            "partition-specs": [{"spec-id": 0, "fields": spec}],
            "default-spec-id": 0,
            "properties": {"write.format.default": "parquet"},
            "snapshots": [],
            "snapshot-log": [],
        }
    else:
        meta = dict(tm.meta)
        schema = tm.schema()
        spec = tm.partition_spec()

    snapshot_id = len(meta["snapshots"]) + 1
    pfields = [(pf["name"], pf) for pf in spec]
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}

    # ---- data files: one write per partition value so every file carries
    # all columns (copy-on-write layout; see module docstring re: scale)
    before = _list_parquet(ddir)
    if spec:
        work = df
        for name, pf in pfields:
            src = id_to_name[pf["source-id"]]
            work = work.withColumn(f"__pv_{name}", _transform_column(df, src, pf["transform"]))
        pv_cols = [f"__pv_{name}" for name, _ in pfields]
        parts = [tuple(r) for r in work.select(*pv_cols).distinct().collect()]
        for values in parts:
            sub = work
            for c, v in zip(pv_cols, values):
                sub = sub.filter(sub[c].isNull() if v is None else (sub[c] == v))
            sub = sub.drop(*pv_cols)
            leaf = "/".join(
                f"{name}={'null' if v is None else v}" for (name, _), v in zip(pfields, values)
            )
            sub.write.mode("append").parquet(os.path.join(ddir, leaf))
        partition_values = {
            "/".join(
                f"{name}={'null' if v is None else v}" for (name, _), v in zip(pfields, values)
            ): dict(zip([n for n, _ in pfields], values))
            for values in parts
        }
    else:
        df.write.mode("append").parquet(os.path.join(ddir, "unpartitioned"))
        partition_values = {}
    new_files = sorted(_list_parquet(ddir) - before)

    # ---- manifest
    part_avro_fields = _partition_avro_fields(spec, schema["fields"])
    entry_schema = _manifest_entry_schema(part_avro_fields)
    entries = []
    for fp in new_files:
        rel = os.path.relpath(os.path.dirname(fp), ddir)
        pvals = partition_values.get(rel.replace(os.sep, "/"), {})
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "data_file": {
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {f["name"]: pvals.get(f["name"]) for f in part_avro_fields},
                    "record_count": pq.ParquetFile(fp).metadata.num_rows,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "block_size_in_bytes": 67108864,
                },
            }
        )
    manifest_path = os.path.join(mdir, f"{uuidlib.uuid4()}-m0.avro")
    write_avro_file(
        manifest_path,
        entry_schema,
        entries,
        metadata={
            "schema": json.dumps(schema),
            "partition-spec": json.dumps(spec),
            "partition-spec-id": "0",
            "format-version": "1",
        },
    )

    # ---- manifest list: this snapshot's manifest + all prior snapshots'
    prior: list[dict] = []
    cur = None
    for s in meta["snapshots"]:
        if s["snapshot-id"] == meta.get("current-snapshot-id"):
            cur = s
    if cur is not None:
        _, _, prior = read_avro_file(
            TableMetadata(root=table_path, meta=meta).rebase(cur["manifest-list"])
        )
        prior = [dict(m) for m in prior]
    seq = int(meta.get("last-sequence-number", 0)) + 1
    mf_rec = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "content": 0,
        "sequence_number": seq,
        "partition_spec_id": 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "partitions": None,
    }
    mlist_path = os.path.join(mdir, f"snap-{snapshot_id}-1-{uuidlib.uuid4()}.avro")
    write_avro_file(mlist_path, _MANIFEST_FILE_SCHEMA, prior + [mf_rec])

    # ---- metadata version commit
    now = int(time.time() * 1000)
    snap = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now,
        "sequence-number": seq,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(entries)),
            "added-records": str(sum(e["data_file"]["record_count"] for e in entries)),
        },
        "manifest-list": mlist_path,
        # stamp the schema the snapshot was written under (post-evolution
        # snapshots carry the evolved id; spec snapshot field)
        "schema-id": int(meta.get("current-schema-id", 0)),
    }
    if meta.get("current-snapshot-id") is not None and meta["snapshots"]:
        snap["parent-snapshot-id"] = meta["current-snapshot-id"]
    meta["last-sequence-number"] = seq
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"timestamp-ms": now, "snapshot-id": snapshot_id}
    ]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now
    _commit_metadata(mdir, meta)
    return snapshot_id


def _next_version(mdir: str) -> int:
    versions = []
    for p in glob.glob(os.path.join(mdir, "v*.metadata.json")):
        stem = os.path.basename(p)[1:].split(".", 1)[0]
        if stem.isdigit():
            versions.append(int(stem))
    return max(versions, default=0) + 1


def _commit_metadata(mdir: str, meta: dict) -> int:
    version = _next_version(mdir)
    tmp = os.path.join(mdir, f".v{version}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(mdir, f"v{version}.metadata.json"))
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return version


def add_column(table_path: str, name: str, iceberg_type: str, doc: str = "") -> int:
    """Schema evolution: add an optional column to the table's declared
    schema (new field id from last-column-id). Existing data files simply
    lack the column; ``read_table`` reads under the declared schema, so old
    rows surface it as NULL — the spec's add-column semantics."""
    tm = load_table(table_path)
    meta = dict(tm.meta)
    schema = json.loads(json.dumps(tm.schema()))
    if any(f["name"] == name for f in schema["fields"]):
        raise ValueError(f"column {name!r} already exists")
    new_id = int(meta.get("last-column-id", len(schema["fields"]))) + 1
    field = {"id": new_id, "name": name, "required": False, "type": iceberg_type}
    if doc:
        field["doc"] = doc
    schema["fields"].append(field)
    # Commit the evolved schema as a NEW schema entry (schema-id = max+1)
    # and point current-schema-id at it, preserving prior entries: mutating
    # schema-id 0 in place would make pre-evolution snapshots resolve to the
    # evolved schema, losing historical schema fidelity for time travel and
    # foreign readers (spec schema-evolution semantics).
    prior = [json.loads(json.dumps(s)) for s in meta.get("schemas", [])]
    if not prior:
        prior = [json.loads(json.dumps(tm.schema()))]
    new_sid = max(int(s.get("schema-id", 0)) for s in prior) + 1
    schema["schema-id"] = new_sid
    meta["last-column-id"] = new_id
    meta["schema"] = schema  # v1 compatibility field tracks the current schema
    meta["schemas"] = prior + [schema]
    meta["current-schema-id"] = new_sid
    meta["last-updated-ms"] = int(time.time() * 1000)
    return _commit_metadata(os.path.join(table_path, "metadata"), meta)


def write_table(spark, df, table_path: str, partition_by: Optional[list] = None) -> int:
    """Create an Iceberg v1 table from a DataFrame; returns the snapshot id."""
    if is_iceberg_table(table_path):
        raise ValueError(f"{table_path} is already an Iceberg table; use append_table")
    return _write_snapshot(spark, df, table_path, None, partition_by)


def append_table(spark, df, table_path: str) -> int:
    """Append a new snapshot to an existing table; returns the snapshot id."""
    return _write_snapshot(spark, df, table_path, load_table(table_path), None)


def _commit_delete_snapshot(
    tm: TableMetadata,
    table_path: str,
    counts: dict[str, int],
    content: int,
    summary_key: str,
    equality_ids: Optional[list[int]] = None,
) -> int:
    """Shared tail of delete_rows / delete_rows_equality: delete manifest +
    manifest list + v2 snapshot + metadata commit for the written delete
    parquet files in ``counts`` (path → record count)."""
    meta = dict(tm.meta)
    mdir = os.path.join(table_path, "metadata")
    schema = tm.schema()
    spec = tm.partition_spec()
    snapshot_id = len(meta["snapshots"]) + 1
    part_fields = _partition_avro_fields(spec, schema["fields"])
    entry_schema = _manifest_entry_schema(part_fields)
    data_file_extra = {"equality_ids": equality_ids} if equality_ids else {}
    del_entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": content,
                **data_file_extra,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": {f["name"]: None for f in part_fields},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(fp),
                "block_size_in_bytes": 67108864,
            },
        }
        for fp, n in counts.items()
        if n > 0
    ]
    manifest_path = os.path.join(mdir, f"{uuidlib.uuid4()}-d0.avro")
    write_avro_file(
        manifest_path,
        entry_schema,
        del_entries,
        metadata={
            "schema": json.dumps(schema),
            "partition-spec": json.dumps(spec),
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "deletes",
        },
    )
    cur = tm.current_snapshot()
    _, _, prior = read_avro_file(tm.rebase(cur["manifest-list"]))
    prior = [dict(m) for m in prior]
    seq = int(meta.get("last-sequence-number", 0)) + 1
    mf_rec = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "content": 1,  # delete manifest
        "sequence_number": seq,
        "partition_spec_id": 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(del_entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "partitions": None,
    }
    mlist_path = os.path.join(mdir, f"snap-{snapshot_id}-1-{uuidlib.uuid4()}.avro")
    write_avro_file(mlist_path, _MANIFEST_FILE_SCHEMA, prior + [mf_rec])
    now = int(time.time() * 1000)
    snap = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": meta.get("current-snapshot-id"),
        "timestamp-ms": now,
        "sequence-number": seq,
        "summary": {
            "operation": "delete",
            "added-delete-files": str(len(del_entries)),
            summary_key: str(sum(counts.values())),
        },
        "manifest-list": mlist_path,
        # stamp the schema the snapshot was written under (post-evolution
        # snapshots carry the evolved id; spec snapshot field)
        "schema-id": int(meta.get("current-schema-id", 0)),
    }
    meta["format-version"] = 2  # delete files require v2
    meta["last-sequence-number"] = seq
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"timestamp-ms": now, "snapshot-id": snapshot_id}
    ]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now
    _commit_metadata(mdir, meta)
    return snapshot_id


def delete_rows(spark, table_path: str, predicate: str) -> Optional[int]:
    """Merge-on-read DELETE: writes positional-delete files naming the
    (file, pos) of rows matching ``predicate`` — no data-file rewrite — and
    commits a v2 snapshot. Returns the new snapshot id, or None when no rows
    matched (no commit). ``read_table`` applies the deletes on (file, row
    position): as one scan filter while the table's positional deletes sum
    to at most ``_FILTER_DELETE_BOUND`` rows, else as an anti-join (see
    ``read_files``).

    The match job and the delete-file write are one distributed pass
    (filter → project → parquet write); only per-file record counts touch
    the driver."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_validation_spark.util import local_frame

    tm = load_table(table_path)
    entries, deletes = plan_scan(table_path)
    if not entries:
        return None
    # Delete rows must name files by their MANIFEST (stored) paths — the
    # spec's identity for a data file, and what read_files' file map keys
    # on. Rebased actual paths would orphan the deletes after a table move
    # (and break foreign readers).
    stored_map = local_frame(
        spark,
        [(_normalize_path(e.path), e.stored_path or e.path) for e in entries],
        "__dv_file string, file_path string",
    )
    # Match over the merge-on-read frame: rows the table's positional or
    # equality deletes already removed are not deleted again.
    matches = (
        _merge_on_read(spark, entries, deletes, tm.schema())
        .filter(predicate)
        .join(F.broadcast(stored_map), "__dv_file")
        .select("file_path", F.col("__dv_pos").cast("long").alias("pos"))
    )
    ddir = os.path.join(table_path, "data")
    out_dir = os.path.join(ddir, f"deletes-{uuidlib.uuid4()}")
    matches.write.parquet(out_dir)
    files = sorted(_list_parquet(out_dir))
    counts = {fp: pq.ParquetFile(fp).metadata.num_rows for fp in files}
    if sum(counts.values()) == 0:
        shutil.rmtree(out_dir)
        return None

    return _commit_delete_snapshot(
        tm, table_path, counts, content=1, summary_key="added-position-deletes"
    )


def delete_rows_equality(spark, table_path: str, keys_df, key_cols: list[str]) -> Optional[int]:
    """Merge-on-read EQUALITY delete: rows matching any key tuple in
    ``keys_df`` (projected to ``key_cols``) are deleted from all data files
    with a smaller data sequence number — rows appended AFTER this commit
    keep living even if their keys match (spec ordering, applied in
    ``read_files`` via the per-file sequence map)."""
    import pyarrow.parquet as pq

    tm = load_table(table_path)
    schema = tm.schema()
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    for c in key_cols:
        if c not in name_to_id:
            raise ValueError(f"unknown key column {c!r}")
    equality_ids = [name_to_id[c] for c in key_cols]

    ddir = os.path.join(table_path, "data")
    out_dir = os.path.join(ddir, f"eq-deletes-{uuidlib.uuid4()}")
    keys_df.select(*key_cols).distinct().write.parquet(out_dir)
    files = sorted(_list_parquet(out_dir))
    counts = {fp: pq.ParquetFile(fp).metadata.num_rows for fp in files}
    if sum(counts.values()) == 0:
        shutil.rmtree(out_dir)
        return None

    return _commit_delete_snapshot(
        tm, table_path, counts, content=2,
        summary_key="added-equality-deletes", equality_ids=equality_ids,
    )


def metadata_table(spark, table_path: str, kind: str):
    """Metadata tables as DataFrames — the native analogue of the runtime
    jar's ``SELECT * FROM tbl.snapshots|files|partitions|history``. All four
    are driver-built from KB-scale manifest metadata (no data scan) and
    plan as local relations."""
    from data_validation_spark.util import local_frame

    tm = load_table(table_path)
    if kind == "snapshots":
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["timestamp-ms"],
                (s.get("summary") or {}).get("operation", "append"),
                s.get("sequence-number", 0),
                tm.rebase(s["manifest-list"]),
            )
            for s in tm.snapshots()
        ]
        return local_frame(
            spark,
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long, "
            "operation string, sequence_number long, manifest_list string",
        )
    if kind == "history":
        cur = tm.meta.get("current-snapshot-id")
        rows = [
            (e["timestamp-ms"], e["snapshot-id"], e["snapshot-id"] == cur)
            for e in tm.meta.get("snapshot-log", [])
        ]
        return local_frame(
            spark, rows, "made_current_at_ms long, snapshot_id long, is_current boolean"
        )
    if kind == "files":
        data, deletes = plan_scan(table_path)
        rows = [
            (0, e.path, e.file_format, partition_key(e.partition),
             e.record_count, e.file_size_in_bytes, e.data_seq)
            for e in data
        ] + [
            (d.content, d.path, d.file_format, "", d.record_count,
             d.file_size_in_bytes, d.seq)
            for d in deletes
        ]
        return local_frame(
            spark,
            rows,
            "content int, file_path string, file_format string, "
            "partition string, record_count long, file_size_in_bytes long, "
            "sequence_number long",
        )
    if kind == "partitions":
        data = plan_files(table_path)
        agg: dict[str, list] = {}
        for e in data:
            a = agg.setdefault(partition_key(e.partition), [0, 0])
            a[0] += e.record_count
            a[1] += 1
        rows = [(k, v[0], v[1]) for k, v in sorted(agg.items())]
        return local_frame(
            spark, rows, "partition string, record_count long, file_count long"
        )
    raise ValueError(
        f"unknown metadata table {kind!r} "
        "(snapshots | files | partitions | history)"
    )
